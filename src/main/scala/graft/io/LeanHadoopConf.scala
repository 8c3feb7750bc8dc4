package graft.io

import org.apache.hadoop.conf.{Configuration, GraftConfSources}
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.SparkSession
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

/** The Hadoop conf every task deserializes, made lean. Each session's
  * `newHadoopConf()` copies the context's conf, and a file write ships two
  * copies to every task (the write job's and its stats tracker's), a scan
  * one per relation. Stock, that copy holds the 520 `yarn-default.xml`
  * keys, which nothing on a `local`-master write or scan path reads, and a
  * source record per key, which `Configuration.write` gzips one string at
  * a time: 1102 keys in 113 KB, 5.5 ms to read back. Without both, 583
  * keys in 34 KB, 0.35 ms (Spark 4.1.2, Hadoop 3.4.2, JDK 17 on a 4-vCPU
  * VM).
  *
  * A task reads a key the driver did not ship as null, not as the XML
  * default; `LeanHadoopConfSpec`'s poison run shows that no sink write,
  * replica fold or read-back reads a yarn key. A yarn default that a kept
  * value expands stays (`mapred-default.xml`'s
  * `mapreduce.reduce.shuffle.fetch.retry.enabled` is
  * `${yarn.nodemanager.recovery.enabled}`), and so does a yarn key set
  * through `set`: every kept key reads as before.
  *
  * `CdcPipeline.startQuery`, the start of every streaming query, runs
  * [[install]], so every query's tasks get the lean conf whatever started
  * earlier in the JVM. */
object LeanHadoopConf {

  /** The default resource whose keys are dropped. */
  val Dropped = "yarn-default.xml"

  private val Ref = """\$\{([^}$\s]+)\}""".r

  /** Register now the default resources a first write would register
    * later: registering one reloads every conf from its resources, which
    * puts the dropped keys and every source record back. JobConf's class
    * init registers the mapred and yarn defaults, the first FileSystem
    * service load (through `DistributedFileSystem`) the hdfs ones. */
  private lazy val registered: Unit = {
    Class.forName(classOf[JobConf].getName, true, classOf[JobConf].getClassLoader)
    HdfsConfiguration.init()
  }

  /** Make the context's conf lean; every session copies it from here on.
    * Costs one map lookup when it already is. A later default-resource
    * registration or `reloadConfiguration` brings the stock conf back
    * until the next call. */
  def install(spark: SparkSession): Unit = {
    registered
    slim(spark.sparkContext.hadoopConfiguration)
  }

  /** Drop from `conf` the keys [[Dropped]] set, except one set through
    * `set` or expanded by a kept value, and every source record. */
  def slim(conf: Configuration): Unit = conf.synchronized {
    conf.size() // a pending reload runs here and records every source again
    val sources = GraftConfSources.of(conf)
    if (sources != null && !sources.isEmpty) {
      val defaults = sources.asScala.collect {
        case (k, src) if src.headOption.contains(Dropped) &&
          !GraftConfSources.isSet(conf, k) => k
      }.toSet
      if (defaults.nonEmpty) {
        val raw = conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
        (defaults -- expanded(raw, defaults)).foreach(conf.unset)
      }
      sources.clear()
    }
  }

  /** The keys of `candidates` that a value of another key expands,
    * directly or through another such key. */
  private def expanded(raw: Map[String, String],
                       candidates: Set[String]): Set[String] = {
    @tailrec def grow(values: Iterable[String], kept: Set[String]): Set[String] = {
      val next = values.iterator.flatMap(v => Ref.findAllMatchIn(v).map(_.group(1)))
        .filter(k => candidates(k) && !kept(k)).toSet
      if (next.isEmpty) kept else grow(next.flatMap(raw.get), kept ++ next)
    }
    grow(raw.collect { case (k, v) if !candidates(k) => v }, Set.empty)
  }
}
