package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, GraftFsCache, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem with its child processes replaced by
  * syscalls through `java.nio`. Without the native Hadoop library, stock
  * `RawLocalFileSystem` runs `chmod` for every created file, `.crc` and
  * directory, `ls -ld` for every FileStatus whose permission or owner is
  * read, and `readlink` for every link status (FileContext's rename reads
  * both sides). Each is a fork of ~10-40 ms on the critical path of every
  * streaming trigger's offset and commit log writes.
  *
  * Every FileStatus field equals stock's, quirks included: link detection
  * reads the path's string form, so a scheme-qualified path names no link,
  * as with stock `readlink`. The `unix` attribute view is used rather than
  * the posix one because only it carries the sticky bit, which `ls -ld`
  * reports and `chmod` sets. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** chmod(2). A directory keeps its setuid/setgid bits, as it does under
    * the 4-digit octal mode stock passes to chmod(1). */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    val kept = if ((mode & S_IFMT) == S_IFDIR) mode & 0x0c00 else 0
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | kept))
  }

  /** One stat(2) that follows links: stock reads length, type and times
    * through `java.io.File` and runs `ls -ld` on the canonical path. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, Attrs)
      catch { // any failed stat is "does not exist", as File.exists reads it
        case _: FileSystemException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    new FileStatus(
      a.get("size").asInstanceOf[Long],
      a.get("isDirectory").asInstanceOf[Boolean],
      1, blockSize,
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), // rwx + sticky
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A directory lists through stock (its entries come from
    * [[getFileStatus]]); a file is its own single entry. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim
      else ""
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  private val Attrs =
    "unix:mode,owner,group,size,isDirectory,lastModifiedTime,lastAccessTime"
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
}

/** `LocalFileSystem` (checksummed: `.crc` files are written and verified)
  * over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext layer: stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Stock `LocalFs` (checksummed) over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFileSystem {

  /** The Hadoop conf entries that make these classes serve `file:` paths;
    * empty when the native Hadoop library is loaded, since stock then
    * makes the same calls without forking. */
  val confs: Map[String, String] =
    if (NativeCodeLoader.isNativeCodeLoaded) Map.empty
    else Map(
      "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Serve `file:` paths with these classes wherever the session's context
    * resolves them: the context's Hadoop conf (read by driver-side
    * `FileSystem.get` sites, copied by every `newHadoopConf()` and so
    * shipped to every task) and the JVM's FileSystem cache, which otherwise
    * keeps the instance cached at session creation. Sessions that already
    * exist see the classes only through their SQL confs ([[confs]]).
    * `CdcPipeline.startQuery`, the start of every streaming query, runs it
    * and sets [[confs]] on the session for the start; it then makes the
    * context's conf lean ([[LeanHadoopConf.install]]), and these two keys
    * stay in it. */
  def install(spark: SparkSession): Unit = if (confs.nonEmpty) {
    val conf = spark.sparkContext.hadoopConfiguration
    confs.foreach { case (k, v) => if (conf.get(k) != v) conf.set(k, v) }
    GraftFsCache.recache(FsConstants.LOCAL_FS_URI, conf)
  }
}
