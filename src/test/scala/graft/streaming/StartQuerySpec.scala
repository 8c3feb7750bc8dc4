package graft.streaming

import graft.SparkSpec
import graft.io.NioLocalFileSystem
import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FsConstants, GraftFsCache}
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** [[CdcPipeline.startQuery]] alone decides how a query starts: started
  * through it rather than through `CdcPipeline.start`, and after the
  * context went back to its stock Hadoop conf and `file:` filesystem, a
  * stateful query ships the lean conf, runs on the fork-free filesystem,
  * pins exactly the state confs its caller asked for, and leaves the
  * session's own confs as they were. */
class StartQuerySpec extends SparkSpec {

  private val root = s"$outRoot/test-out/start-query"
  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def clean(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
  }

  private def shipped(): Configuration = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sessionState.newHadoopConf()

  private def bytes(c: Configuration): Int = {
    val b = new ByteArrayOutputStream()
    val out = new DataOutputStream(b)
    c.write(out)
    out.close()
    b.size()
  }

  /** The confs batch 0 of the checkpoint at `ckpt` was planned with. */
  private def offsetConfs(ckpt: String): Map[String, String] = {
    val lines = Files.readAllLines(Paths.get(ckpt, "offsets", "0")).asScala
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines(1))
    meta.get("conf").properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  /** File names under the checkpoint's state dir. */
  private def stateFiles(ckpt: String): Seq[String] =
    Files.walk(Paths.get(ckpt, "state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq

  test("a stateful memory-sink query started through startQuery alone gets " +
      "the lean conf, the nio filesystem and exactly the state confs asked " +
      "for; the session's confs are restored") {
    import spark.implicits._
    clean(root)
    val src = s"$root/source"
    (1L to 30L).map(i => (i % 5, i)).toDF("k", "v").repartition(1)
      .write.json(src)
    val ctx = spark.sparkContext.hadoopConfiguration
    // the context as a JVM has it before any query start: the stock conf
    // and, without the native library, the stock `file:` filesystem
    new HdfsConfiguration()
    ctx.reloadConfiguration()
    val nio = !NativeCodeLoader.isNativeCodeLoaded
    if (nio) {
      NioLocalFileSystem.confs.keys.foreach(ctx.unset)
      GraftFsCache.recache(FsConstants.LOCAL_FS_URI, ctx)
      assert(FileSystem.get(FsConstants.LOCAL_FS_URI, ctx).getClass !==
        classOf[NioLocalFileSystem])
    }
    assert(bytes(shipped()) > 40000, "the reload must restore the stock conf")

    val sessionConfs = spark.conf.getAll
    def run(name: String, provider: String, partitions: Int): String = {
      val ckpt = s"$root/$name-checkpoint"
      val counts = spark.readStream.schema("k long, v long").json(src)
        .groupBy("k").agg(sum("v").as("s"))
      val q = CdcPipeline.startQuery(spark, Some(provider), Some(partitions)) {
        counts.writeStream.queryName(name).format("memory")
          .outputMode("complete").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      }
      assert(q.awaitTermination(120000) && q.exception.isEmpty)
      assert(spark.table(name).orderBy("k").as[(Long, Long)].collect().toSeq ===
        (0L to 4L).map(k => (k, (1L to 30L).filter(_ % 5 == k).sum)))
      ckpt
    }

    // another provider and partition count than the session's own
    val heap = run("start_query_heap", hdfsProvider, 3)
    assert(bytes(shipped()) <= 40000, s"${bytes(shipped())} B shipped")
    if (nio)
      assert(FileSystem.get(FsConstants.LOCAL_FS_URI, ctx).getClass ===
        classOf[NioLocalFileSystem])
    val heapConfs = offsetConfs(heap)
    assert(heapConfs("spark.sql.streaming.stateStore.providerClass") === hdfsProvider)
    assert(heapConfs("spark.sql.shuffle.partitions") === "3")
    assert(stateFiles(heap).exists(_.endsWith(".delta")))
    assert(spark.conf.getAll === sessionConfs)

    // RocksDB brings changelog checkpointing, which the offset log does not
    // record: its commits upload <version>.changelog files
    val rocks = run("start_query_rocksdb", CdcPipeline.RocksDBProvider, 2)
    val rocksConfs = offsetConfs(rocks)
    assert(rocksConfs("spark.sql.streaming.stateStore.providerClass") ===
      CdcPipeline.RocksDBProvider)
    assert(rocksConfs("spark.sql.shuffle.partitions") === "2")
    assert(stateFiles(rocks).exists(_.endsWith(".changelog")),
      s"no changelog file: ${stateFiles(rocks)}")
    assert(!stateFiles(rocks).exists(_.endsWith(".delta")))
    assert(spark.conf.getAll === sessionConfs)
  }
}
