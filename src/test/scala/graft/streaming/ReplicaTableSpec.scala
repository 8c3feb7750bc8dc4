package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReplicaTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val p = s"$outRoot/test-out/replica/$tag"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  // (key, version, op, payload)
  private def df(rows: (Long, Long, String, String)*) =
    rows.toDF("key", "ver", "op", "payload")

  test("out-of-order batches converge to global latest-per-key") {
    val path = freshPath("ooo")
    val all = (1L to 120L).map { i =>
      (i % 11, i, if (i % 13 == 0) "delete" else "upsert", s"p$i")
    }
    // deliberately NOT time-ordered chunks: i % 3 interleaves versions
    (0 until 3).foreach { b =>
      ReplicaTable.applyBatch(spark, path,
        df(all.filter(_._2 % 3 == b): _*),
        keyCols = Seq("key"), versionCols = Seq("ver"),
        deleteWhen = col("op") === "delete", nBuckets = 4, batchId = b)
    }
    val got = ReplicaTable.read(spark, path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3)))
      .toMap
    val want = all.groupBy(_._1).view.mapValues(_.maxBy(_._2))
      .filter(_._2._3 != "delete")
      .map { case (k, (_, v, _, p)) => k -> (v, p) }.toMap
    assert(got === want)
    assert(got.size < 11, "some key's latest op should be a delete")
  }

  test("versioned tombstones: older rows cannot resurrect a deleted key") {
    val path = freshPath("tombstone")
    // batch 0: the delete (version 10) arrives FIRST
    ReplicaTable.applyBatch(spark, path, df((1L, 10L, "delete", "x")),
      Seq("key"), Seq("ver"), col("op") === "delete", 4, batchId = 0)
    // batch 1: a LATE row with an OLDER version — must stay dead
    ReplicaTable.applyBatch(spark, path, df((1L, 5L, "upsert", "old")),
      Seq("key"), Seq("ver"), col("op") === "delete", 4, batchId = 1)
    assert(ReplicaTable.read(spark, path).count() === 0,
      "a retained tombstone must out-version the late row")
    // batch 2: a NEWER row revives the key
    ReplicaTable.applyBatch(spark, path, df((1L, 20L, "upsert", "new")),
      Seq("key"), Seq("ver"), col("op") === "delete", 4, batchId = 2)
    val r = ReplicaTable.read(spark, path).collect()
    assert(r.length === 1 && r.head.getString(3) === "new")
  }

  test("tombstones=false is compact but loses the late-row guard (documented)") {
    val path = freshPath("no-tombstone")
    ReplicaTable.applyBatch(spark, path, df((1L, 10L, "delete", "x")),
      Seq("key"), Seq("ver"), col("op") === "delete", 4, batchId = 0,
      tombstones = false)
    ReplicaTable.applyBatch(spark, path, df((1L, 5L, "upsert", "old")),
      Seq("key"), Seq("ver"), col("op") === "delete", 4, batchId = 1,
      tombstones = false)
    // the delete marker was dropped, so the older row re-inserts — the
    // exact divergence the scaladoc documents
    assert(ReplicaTable.read(spark, path).count() === 1)
  }

  test("deleting every key in a bucket clears its dir (dynamic-overwrite gap)") {
    val path = freshPath("empty-bucket")
    val seed = df((1L to 16L).map(k => (k, 1L, "upsert", s"p$k")): _*)
    ReplicaTable.applyBatch(spark, path, seed, Seq("key"), Seq("ver"),
      col("op") === "delete", nBuckets = 4, batchId = 0, tombstones = false)
    assert(ReplicaTable.read(spark, path).count() === 16)
    // delete EVERYTHING: dynamic overwrite alone would write zero
    // partitions and silently keep all 16 stale rows
    val wipe = df((1L to 16L).map(k => (k, 2L, "delete", "x")): _*)
    ReplicaTable.applyBatch(spark, path, wipe, Seq("key"), Seq("ver"),
      col("op") === "delete", nBuckets = 4, batchId = 1, tombstones = false)
    assert(ReplicaTable.read(spark, path).count() === 0,
      "emptied buckets must be cleared, not left stale")
    assert(!new java.io.File(s"$path/state").listFiles()
      .exists(_.getName.startsWith("__bucket=")),
      "all bucket dirs should be deleted")
  }

  test("replayed batchId is a no-op; a batch rewrites only touched buckets") {
    val path = freshPath("replay-selective")
    val nBuckets = 8
    val seed = df((1L to 64L).map(k => (k, k, "upsert", s"p$k")): _*)
    ReplicaTable.applyBatch(spark, path, seed, Seq("key"), Seq("ver"),
      col("op") === "delete", nBuckets, batchId = 0)
    // replay: state unchanged
    val before = ReplicaTable.read(spark, path).count()
    ReplicaTable.applyBatch(spark, path, seed, Seq("key"), Seq("ver"),
      col("op") === "delete", nBuckets, batchId = 0)
    assert(ReplicaTable.read(spark, path).count() === before)
    // one-key update touches exactly one bucket dir
    val stateDir = new java.io.File(s"$path/state")
    def files(): Map[String, Map[String, Long]] =
      stateDir.listFiles().filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .map(f => f.getName -> f.lastModified()).toMap).toMap
    val pre = files()
    ReplicaTable.applyBatch(spark, path, df((1L, 100L, "upsert", "v2")),
      Seq("key"), Seq("ver"), col("op") === "delete", nBuckets, batchId = 1)
    val post = files()
    assert(post.keySet.count(b => post(b) != pre(b)) === 1,
      "exactly one bucket should be rewritten")
    val got = ReplicaTable.read(spark, path)
      .filter(col("key") === 1L).collect()
    assert(got.length === 1 && got.head.getString(3) === "v2")
  }

  private def stateRows(path: String) =
    spark.read.parquet(BucketedStateTable.stateDir(path))
      .drop(BucketedStateTable.AppliedCol).collect().map(_.toString).toSet

  test("crash replay: a partially swapped batch lands exactly like one apply") {
    val nBuckets = 4
    def bucketOf(k: Long): Int = Seq(k).toDF("key")
      .select(BucketedStateTable.bucketOf(Seq("key"), nBuckets))
      .head().getInt(0)
    val seed = (1L to 40L).map(k => (k, 1L, "upsert", s"a$k"))
    val upd = (1L to 40L).filter(_ % 3 != 0)
      .map(k => (k, 2L, if (k % 5 == 0) "delete" else "upsert", s"b$k"))
    val swapped = bucketOf(upd.head._1)
    assert(upd.map(r => bucketOf(r._1)).distinct.length > 1,
      "the replay must touch swapped and unswapped buckets")
    def apply(path: String, rows: Seq[(Long, Long, String, String)],
              id: Long): Unit =
      ReplicaTable.applyBatch(spark, path, df(rows: _*), Seq("key"),
        Seq("ver"), col("op") === "delete", nBuckets, batchId = id)
    val once = freshPath("crash-once")
    apply(once, seed, 0)
    apply(once, upd, 1)
    val crashed = freshPath("crash-replay")
    apply(crashed, seed, 0)
    // batch 1 crashed after swapping one bucket, before its marker
    apply(crashed, upd.filter(r => bucketOf(r._1) == swapped), 1)
    val fs = BucketedStateTable.fsFor(spark, crashed)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$crashed/_applied/batch-1"),
      false))
    apply(crashed, upd, 1) // the engine's replay carries the FULL batch
    assert(stateRows(crashed) === stateRows(once))
    assert(ReplicaTable.read(spark, crashed).collect().toSet ===
      ReplicaTable.read(spark, once).collect().toSet)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$crashed/_applied/batch-1")))
  }

  test("a changed nBuckets is refused before any Spark job runs") {
    val path = freshPath("nbuckets")
    def apply(nBuckets: Int, id: Long): Unit =
      ReplicaTable.applyBatch(spark, path,
        df((1L to 20L).map(k => (k, id, "upsert", s"p$k")): _*), Seq("key"),
        Seq("ver"), col("op") === "delete", nBuckets, batchId = id)
    apply(4, 0)
    val before = stateRows(path)
    var err: IllegalArgumentException = null
    val jobs = jobTasks {
      err = intercept[IllegalArgumentException](apply(8, 1))
    }
    assert(jobs.isEmpty, s"refusal ran Spark jobs: $jobs")
    assert(err.getMessage.contains("nBuckets=4") &&
      err.getMessage.contains("nBuckets=8"), err.getMessage)
    assert(stateRows(path) === before)
    // a table from before the count was recorded is checked against its
    // bucket dirs: one holding a bucket >= nBuckets is refused too
    val fs = BucketedStateTable.fsFor(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_buckets"), false)
    intercept[IllegalArgumentException](apply(1, 1))
    apply(4, 1)
    assert(ReplicaTable.read(spark, path).count() === 20)
  }

  test("fold onto a 64-bucket state: no listing job, input evaluated once") {
    val path = freshPath("job-shape")
    val nBuckets = 64
    def batch(ver: Long) = spark.range(1, 2001).select(col("id").as("key"),
      lit(ver).as("ver"), lit("upsert").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))
    ReplicaTable.applyBatch(spark, path, batch(1L), Seq("key"), Seq("ver"),
      col("op") === "delete", nBuckets, batchId = 0)
    assert(new java.io.File(s"$path/state").listFiles()
      .count(_.getName.startsWith("__bucket=")) === nBuckets)
    val evaluated = spark.sparkContext.longAccumulator("fold-input-rows")
    val tick = udf((k: Long) => { evaluated.add(1L); k }).asNondeterministic()
    val input = batch(2L).withColumn("key", tick(col("key")))
    val jobs = jobTasks {
      ReplicaTable.applyBatch(spark, path, input, Seq("key"), Seq("ver"),
        col("op") === "delete", nBuckets, batchId = 1)
    }
    // a distributed file listing (or a cache-refresh relist) is one task
    // per bucket dir
    assert(jobs.nonEmpty && jobs.values.max < nBuckets,
      s"a job ran one task per bucket: $jobs")
    assert(evaluated.value === 2000L,
      "the input batch must be evaluated once per row")
    // whole buckets per write task: one data file per bucket
    val files = new java.io.File(s"$path/state").listFiles()
      .filter(_.getName.startsWith("__bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.length === nBuckets && files.forall(_ == 1))
    val got = ReplicaTable.read(spark, path)
    assert(got.count() === 2000L && got.filter(col("ver") =!= 2L).isEmpty)
  }
}
