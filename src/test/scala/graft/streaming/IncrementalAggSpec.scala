package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val p = s"$outRoot/test-out/incr-agg/$tag"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private val rows = (1L to 300L).map(i => (i % 17, i, 1L)) // (key, v, n)

  test("three incremental batches == one-shot aggregate, exactly") {
    val path = freshPath("three-batches")
    val df = rows.toDF("key", "v", "n")
    (0 until 3).foreach { b =>
      IncrementalAgg.applyDelta(spark, path,
        df.filter(pmod(col("v"), lit(3)) === b),
        keyCols = Seq("key"), sumCols = Seq("v", "n"),
        nBuckets = 4, batchId = b)
    }
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = df.groupBy("key").agg(sum("v").as("v"), sum("n").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("replayed batchId is a no-op (exactly-once under at-least-once)") {
    val path = freshPath("replay")
    val df = Seq((1L, 10L), (2L, 20L)).toDF("key", "v")
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 0)
    // replay the SAME batch id — sums must not double
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 0)
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 10L, 2L -> 20L))
    // a NEW batch id with the same payload does apply
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 1)
    val got2 = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 20L, 2L -> 40L))
  }

  test("a batch rewrites ONLY the buckets it touches") {
    val path = freshPath("selective")
    val nBuckets = 8
    val seed = (1L to 64L).map(k => (k, k)).toDF("key", "v")
    IncrementalAgg.applyDelta(spark, path, seed, Seq("key"), Seq("v"),
      nBuckets = nBuckets, batchId = 0)
    val stateDir = new java.io.File(s"$path/state")
    def bucketFiles(): Map[String, Map[String, Long]] =
      stateDir.listFiles().filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .map(f => f.getName -> f.lastModified()).toMap).toMap
    val before = bucketFiles()
    assert(before.size === nBuckets, s"64 keys should hit all 8 buckets")
    // one-key delta → exactly one bucket dir changes
    IncrementalAgg.applyDelta(spark, path, Seq((1L, 5L)).toDF("key", "v"),
      Seq("key"), Seq("v"), nBuckets = nBuckets, batchId = 1)
    val after = bucketFiles()
    val changed = after.keySet.filter(b => after(b) != before(b))
    assert(changed.size === 1,
      s"expected exactly one rewritten bucket, got $changed")
    // and the aggregate is still exact
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 6L && got(2L) === 2L && got.size === 64)
  }

  test("crash between overwrite and marker: replay does not double-sum") {
    val path = freshPath("crash-window")
    val df = Seq((1L, 10L), (2L, 20L)).toDF("key", "v")
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 0)
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 1)
    // simulate the crash: batch 1's snapshot is committed, and the attempt
    // died before the engine committed its offsets
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 1) // the engine's replay
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 20L, 2L -> 40L),
      s"replay after a committed-then-crashed attempt double-applied: $got")
    // the snapshot records batch 1 as the last applied
    assert(BucketedStateTable.snapshot(fs, path).map(_.batchId) === Some(1L))
  }

  test("crash before the snapshot rename: reads see batch 0, the replay " +
      "lands once, no orphan file") {
    val path = freshPath("crash-partial")
    val nBuckets = 4
    // two keys living in DIFFERENT buckets
    def bucketOf(k: Long): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(nBuckets.toLong)).cast("int"))
      .head().getInt(0)
    val kA = 1L
    val kB = (2L to 50L).find(k => bucketOf(k) != bucketOf(kA)).get
    val batch0 = Seq((kA, 100L), (kB, 200L)).toDF("key", "v")
    val batch1 = Seq((kA, 7L), (kB, 11L)).toDF("key", "v")
    def dataFiles(): Int = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"$path/state"), Array("parquet"), true).size
    IncrementalAgg.applyDelta(spark, path, batch0, Seq("key"), Seq("v"),
      nBuckets = nBuckets, batchId = 0)
    // simulate batch 1 crashing before its snapshot rename: its new files
    // sit in both bucket dirs next to batch 0's, batch 0's snapshot is
    // current
    val saved = s"$path-saved"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(saved))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(path), new java.io.File(saved))
    IncrementalAgg.applyDelta(spark, path, batch1, Seq("key"), Seq("v"),
      nBuckets = nBuckets, batchId = 1)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(saved), new java.io.File(path))
    assert(dataFiles() === 4)
    assert(IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(kA -> 100L, kB -> 200L), "a read must see batch 0's snapshot only")
    // the replay carries the FULL batch 1
    IncrementalAgg.applyDelta(spark, path, batch1, Seq("key"), Seq("v"),
      nBuckets = nBuckets, batchId = 1)
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(kA -> 107L, kB -> 211L),
      s"the replay must apply batch 1 exactly once: $got")
    assert(dataFiles() === 2, "the crashed attempt's files must be deleted")
  }

  test("a changed nBuckets is refused before any Spark job runs") {
    val path = freshPath("nbuckets")
    val df = Seq((1L, 10L), (2L, 20L)).toDF("key", "v")
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 0)
    var err: IllegalArgumentException = null
    val jobs = jobTasks {
      err = intercept[IllegalArgumentException] {
        IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
          nBuckets = 16, batchId = 1)
      }
    }
    assert(jobs.isEmpty, s"refusal ran Spark jobs: $jobs")
    assert(err.getMessage.contains("nBuckets=4"), err.getMessage)
    IncrementalAgg.applyDelta(spark, path, df, Seq("key"), Seq("v"),
      nBuckets = 4, batchId = 1)
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 20L, 2L -> 40L))
  }

  test("foreachBatch wiring: streamed deltas land exactly once") {
    val path = freshPath("stream")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("key", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        IncrementalAgg.applyDelta(spark, path, batch,
          Seq("key"), Seq("v"), nBuckets = 4, batchId = id)
      }
      .option("checkpointLocation", s"$path/_ckpt")
      .start()
    try {
      mem.addData((1L, 1L), (2L, 2L)); q.processAllAvailable()
      mem.addData((1L, 10L), (3L, 3L)); q.processAllAvailable()
    } finally q.stop()
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 11L, 2L -> 2L, 3L -> 3L))
  }
}
