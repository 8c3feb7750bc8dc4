package org.apache.hadoop.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration

/** `FileSystem.CACHE` and its key are package-private. The cache is keyed
  * by scheme, authority and user, not by conf, so an instance cached before
  * a conf named another class keeps serving every later `FileSystem.get`. */
object GraftFsCache {

  /** Make the cached filesystem for `uri` an instance of the class `conf`
    * names. A cached instance of another class leaves the cache without
    * being closed (whoever holds it keeps a working filesystem), and one
    * built from `conf` takes its place. Holding the cache's lock keeps any
    * other thread from caching a third instance in between. */
  def recache(uri: URI, conf: Configuration): FileSystem = {
    val want = FileSystem.getFileSystemClass(uri.getScheme, conf)
    FileSystem.CACHE.synchronized {
      val cached = FileSystem.CACHE.get(uri, conf)
      if (cached.getClass == want) cached
      else {
        FileSystem.CACHE.remove(new FileSystem.Cache.Key(uri, conf), cached)
        FileSystem.CACHE.get(uri, conf)
      }
    }
  }
}
