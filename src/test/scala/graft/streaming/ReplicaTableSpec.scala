package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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
    def update(id: Long): Unit =
      ReplicaTable.applyBatch(spark, path, df((1L, 100L, "upsert", "v2")),
        Seq("key"), Seq("ver"), col("op") === "delete", nBuckets, batchId = id)
    update(1)
    assert(files() === pre, "an appended generation rewrites no base bucket")
    assert(generations(path) === Seq("gen=1"))
    // the same update under later batch ids, up to the compaction bound:
    // the compaction rewrites only the bucket the updates touch
    (2L to BucketedStateTable.MaxGenerations).foreach(update)
    assert(generations(path).isEmpty, "the bound-reaching fold compacts")
    val post = files()
    assert(post.keySet.count(b => post(b) != pre(b)) === 1,
      "exactly one bucket should be rewritten")
    val got = ReplicaTable.read(spark, path)
      .filter(col("key") === 1L).collect()
    assert(got.length === 1 && got.head.getString(3) === "v2")
  }

  private def generations(path: String): Seq[String] =
    Option(new java.io.File(s"$path/gens").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("gen=")).sorted

  private def stateRows(path: String) =
    spark.read.parquet(BucketedStateTable.stateDir(path))
      .collect().map(_.toString).toSet

  /** Data files per bucket dir of the base. */
  private def bucketFiles(path: String): Map[String, Int] =
    new java.io.File(s"$path/state").listFiles()
      .filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

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
    val seeded = replicaRows(crashed)
    val saved = s"$crashed-saved"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(saved))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(crashed), new java.io.File(saved))
    // batch 1 crashed before its snapshot rename, after writing only the
    // swapped bucket's rows: a partial gens/gen=1 on disk, the batch-0
    // snapshot current
    apply(crashed, upd.filter(r => bucketOf(r._1) == swapped), 1)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(saved), new java.io.File(crashed))
    assert(generations(crashed) === Seq("gen=1"))
    assert(BucketedStateTable.current(spark, crashed).generations.isEmpty)
    assert(replicaRows(crashed) === seeded, "the unnamed generation was read")
    apply(crashed, upd, 1) // the engine's replay carries the FULL batch
    assert(stateRows(crashed) === stateRows(once))
    assert(ReplicaTable.read(spark, crashed).collect().toSet ===
      ReplicaTable.read(spark, once).collect().toSet)
    assert(BucketedStateTable.current(spark, crashed).batchId === 1L)
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

  /** Last-writer-wins over every row ever applied, deletes absent. */
  private def latestPerKey(rows: Seq[(Long, Long, String, String)]) =
    rows.groupBy(_._1).values.map(_.maxBy(_._2))
      .filter(_._3 != "delete").map(_.productIterator.mkString("|")).toSet

  private def replicaRows(path: String) =
    ReplicaTable.read(spark, path).collect().map(_.mkString("|")).toSet

  // 40 keys, 8 versions each, 1 in 7 a delete; batch b holds the rows
  // with version % 9 == b — versions interleave across batches
  private val history = for (k <- 1L to 40L; v <- 1L to 8L) yield
    (k, v * 10 + k % 3, if ((k + v) % 7 == 0) "delete" else "upsert", s"p$k.$v")
  private def batchRows(b: Long) = history.filter(_._2 % 9 == b)

  private def applyHistory(path: String, id: Long,
                           rows: Seq[(Long, Long, String, String)]): Unit =
    ReplicaTable.applyBatch(spark, path, df(rows: _*), Seq("key"),
      Seq("ver"), col("op") === "delete", nBuckets = 4, batchId = id)

  /** Every file under `dir`: relative path -> (size, mtime). */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir)
    org.apache.commons.io.FileUtils.listFiles(root, null, true).iterator()
      .asScala.map(f => root.toPath.relativize(f.toPath).toString ->
        (f.length(), f.lastModified())).toMap
  }

  test("a non-compacting fold appends a generation: <= 2 jobs, no state " +
      "file written, input evaluated once") {
    val path = freshPath("append-shape")
    def batch(ver: Long) = spark.range(1, 2001).select(col("id").as("key"),
      lit(ver).as("ver"), lit("upsert").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))
    ReplicaTable.applyBatch(spark, path, batch(1L), Seq("key"), Seq("ver"),
      col("op") === "delete", 64, batchId = 0)
    val before = tree(s"$path/state")
    val evaluated = spark.sparkContext.longAccumulator("append-input-rows")
    val tick = udf((k: Long) => { evaluated.add(1L); k }).asNondeterministic()
    val input = batch(2L).filter(col("key") <= 500L)
      .withColumn("key", tick(col("key")))
    val jobs = jobTasks {
      ReplicaTable.applyBatch(spark, path, input, Seq("key"), Seq("ver"),
        col("op") === "delete", 64, batchId = 1)
    }
    assert(jobs.nonEmpty && jobs.size <= 2, s"jobs: $jobs")
    assert(tree(s"$path/state") === before, "the base must not be written")
    assert(evaluated.value === 500L,
      "the input batch must be evaluated once per row")
    assert(generations(path) === Seq("gen=1"))
    val got = ReplicaTable.read(spark, path)
    assert(got.count() === 2000L &&
      got.filter(col("ver") === 2L).count() === 500L)
  }

  test("the fold that reaches the generation bound compacts; reads agree " +
      "with the one-shot latest-per-key oracle before and after") {
    val path = freshPath("compact")
    val bound = BucketedStateTable.MaxGenerations
    (0L until bound).foreach(b => applyHistory(path, b, batchRows(b)))
    assert(generations(path).length === bound - 1)
    val want = latestPerKey((0L until bound).flatMap(batchRows))
    val before = replicaRows(path)
    assert(before === want)
    // one more generation, of rows already applied: the bound is reached,
    // the compaction runs, and the replica must read the same
    val baseBefore = tree(s"$path/state")
    applyHistory(path, bound, batchRows(bound - 1))
    assert(generations(path).isEmpty, "compaction must delete its generations")
    assert(tree(s"$path/state") !== baseBefore, "compaction rewrites the base")
    assert(replicaRows(path) === before)
    // the rest of the history lands on the compacted base
    applyHistory(path, bound + 1, batchRows(bound))
    assert(replicaRows(path) === latestPerKey(history))
  }

  test("a crash between the compaction fold and the generation deletes " +
      "leaves reads unchanged; the next compaction converges") {
    val bound = BucketedStateTable.MaxGenerations
    def upToBound(path: String): Unit = {
      (0L until bound).foreach(b => applyHistory(path, b, batchRows(b)))
      applyHistory(path, bound, batchRows(bound - 1))
    }
    val clean = freshPath("crash-compact-clean")
    upToBound(clean)
    val crashed = freshPath("crash-compact")
    (0L until bound).foreach(b => applyHistory(crashed, b, batchRows(b)))
    val saved = s"${crashed}-saved-gens"
    val fs = BucketedStateTable.fsFor(spark, crashed)
    fs.delete(new org.apache.hadoop.fs.Path(saved), true)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$crashed/gens"), new java.io.File(saved))
    applyHistory(crashed, bound, batchRows(bound - 1))
    assert(generations(crashed).isEmpty)
    // the crash: every generation the compaction absorbed is still there
    // (gen=<bound> held the same rows as gen=<bound - 1>), named by no
    // snapshot
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(saved), new java.io.File(s"$crashed/gens"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$saved/gen=${bound - 1}"),
      new java.io.File(s"$crashed/gens/gen=$bound"))
    assert(generations(crashed).length === bound)
    assert(replicaRows(crashed) === replicaRows(clean))
    assert(!ReplicaTable.read(spark, crashed).inputFiles
      .exists(_.contains("/gens/")), "an unnamed generation was read")
    // the engine replays the batch: it is at the high-water mark, so
    // nothing runs and the orphans stay
    applyHistory(crashed, bound, batchRows(bound - 1))
    assert(generations(crashed).length === bound)
    assert(stateRows(crashed) === stateRows(clean))
    assert(replicaRows(crashed) === replicaRows(clean))
    assert(replicaRows(clean) ===
      latestPerKey((0L until bound).flatMap(batchRows)))
    // the next compaction deletes them
    (bound + 1L to 2L * bound).foreach { b =>
      applyHistory(clean, b, batchRows(b - bound))
      applyHistory(crashed, b, batchRows(b - bound))
    }
    assert(generations(crashed).isEmpty)
    assert(stateRows(crashed) === stateRows(clean))
    assert(replicaRows(crashed) === replicaRows(clean))
    assert(replicaRows(clean) === latestPerKey(history))
  }

  test("a crash before the compaction's snapshot rename leaves reads " +
      "unchanged; the replay compacts once and leaves no orphan file") {
    val bound = BucketedStateTable.MaxGenerations
    val clean = freshPath("crash-rename-clean")
    (0L until bound).foreach(b => applyHistory(clean, b, batchRows(b)))
    applyHistory(clean, bound, batchRows(bound - 1))
    val crashed = freshPath("crash-rename")
    (0L until bound).foreach(b => applyHistory(crashed, b, batchRows(b)))
    val saved = s"${crashed}-saved"
    val fs = BucketedStateTable.fsFor(spark, crashed)
    fs.delete(new org.apache.hadoop.fs.Path(saved), true)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(crashed), new java.io.File(saved))
    applyHistory(crashed, bound, batchRows(bound - 1))
    assert(generations(crashed).isEmpty)
    // the crash: the compaction's files sit in the bucket dirs next to the
    // base it read, the snapshot before the trigger is current, every
    // generation it named is still there, and so is the trigger's own
    // (gen=<bound>, holding the same rows as gen=<bound - 1>), unnamed
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(saved), new java.io.File(crashed))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$saved/gens/gen=${bound - 1}"),
      new java.io.File(s"$crashed/gens/gen=$bound"))
    assert(generations(crashed).length === bound)
    assert(bucketFiles(crashed).values.forall(_ == 2))
    assert(replicaRows(crashed) === replicaRows(clean))
    // the engine replays the batch: the compaction runs again from the
    // snapshot's base and deletes the crashed attempt's files
    applyHistory(crashed, bound, batchRows(bound - 1))
    assert(generations(crashed).isEmpty)
    assert(stateRows(crashed) === stateRows(clean))
    assert(replicaRows(crashed) === replicaRows(clean))
    assert(bucketFiles(crashed) === bucketFiles(clean))
    assert(bucketFiles(crashed).values.forall(_ == 1),
      s"orphan data files remain: ${bucketFiles(crashed)}")
  }

  test("changed key or version columns are refused before any Spark job " +
      "runs") {
    val path = freshPath("columns")
    def apply(keys: Seq[String], versions: Seq[String], id: Long): Unit =
      ReplicaTable.applyBatch(spark, path,
        df((1L to 20L).map(k => (k, id, "upsert", s"p$k")): _*), keys,
        versions, col("op") === "delete", 4, batchId = id)
    apply(Seq("key"), Seq("ver"), 0)
    apply(Seq("key"), Seq("ver"), 1)
    val before = replicaRows(path)
    val gensBefore = generations(path)
    Seq(Seq("key", "op") -> Seq("ver"), Seq("key") -> Seq("ver", "payload"),
        Seq("payload") -> Seq("ver")).foreach { case (keys, versions) =>
      var err: IllegalArgumentException = null
      val jobs = jobTasks {
        err = intercept[IllegalArgumentException](apply(keys, versions, 2))
      }
      assert(jobs.isEmpty, s"refusal ran Spark jobs: $jobs")
      assert(err.getMessage.contains("key columns [key] and version " +
        "columns [ver]"), err.getMessage)
    }
    assert(generations(path) === gensBefore)
    assert(replicaRows(path) === before)
    apply(Seq("key"), Seq("ver"), 2)
    assert(ReplicaTable.read(spark, path).filter(col("ver") === 2L)
      .count() === 20L)
  }

  test("the compacting fold runs <= 6 jobs, none of them a 1-task parquet " +
      "schema-inference job") {
    val path = freshPath("compact-jobs")
    val bound = BucketedStateTable.MaxGenerations
    def batch(ver: Long) = spark.range(1, 2001).select(col("id").as("key"),
      lit(ver).as("ver"), lit("upsert").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))
    def apply(id: Long): Unit =
      ReplicaTable.applyBatch(spark, path, batch(id), Seq("key"), Seq("ver"),
        col("op") === "delete", 64, batchId = id)
    (0L until bound).foreach(apply)
    assert(generations(path).length === bound - 1)
    val jobs = jobStages(apply(bound))
    assert(generations(path).isEmpty, "the bound-reaching fold compacts")
    // parquet schema inference is a parallelized list of footers, read by
    // one task
    val schemaJobs = jobs.filter { case (_, stages) =>
      stages.map(_._1).sum == 1 &&
        stages.exists(_._2.contains("ParallelCollectionRDD"))
    }
    assert(schemaJobs.isEmpty, s"schema-inference jobs: $schemaJobs of $jobs")
    assert(jobs.size <= 6, s"${jobs.size} jobs: $jobs")
    val got = ReplicaTable.read(spark, path)
    assert(got.count() === 2000L && got.filter(col("ver") =!= bound).isEmpty)
  }

  test("a plain trigger is one Spark job with no shuffle: the scan's tasks " +
      "write its rows, unreduced, as the generation") {
    val path = freshPath("one-job")
    def batch(ver: Long, n: Long) = spark.range(1, n + 1).select(
      col("id").as("key"), lit(ver).as("ver"), lit("upsert").as("op"),
      concat(lit("p"), col("id").cast("string")).as("payload"))
    ReplicaTable.applyBatch(spark, path, batch(1L, 2000L), Seq("key"),
      Seq("ver"), col("op") === "delete", 64, batchId = 0)
    val before = tree(s"$path/state")
    val evaluated = spark.sparkContext.longAccumulator("one-job-input-rows")
    val tick = udf((k: Long) => { evaluated.add(1L); k }).asNondeterministic()
    // keys 1..10 twice in the batch, at versions 2 and 3
    val input = batch(2L, 500L).union(batch(3L, 10L))
      .withColumn("key", tick(col("key")))
    val jobs = jobStages {
      ReplicaTable.applyBatch(spark, path, input, Seq("key"), Seq("ver"),
        col("op") === "delete", 64, batchId = 1)
    }
    assert(jobs.size === 1, s"${jobs.size} jobs: $jobs")
    assert(jobs.values.forall(_.size == 1), s"a job has a shuffle stage: $jobs")
    assert(evaluated.value === 510L,
      "the input batch must be evaluated once per row")
    assert(tree(s"$path/state") === before, "the base must not be written")
    assert(generations(path) === Seq("gen=1"))
    val gen = spark.read.parquet(s"$path/gens/gen=1")
      .select("key", "ver").as[(Long, Long)].collect()
    assert(gen.sorted.toSeq ===
      ((1L to 500L).map((_, 2L)) ++ (1L to 10L).map((_, 3L))).sorted,
      "the generation must hold every input row")
    val got = ReplicaTable.read(spark, path)
    assert(got.count() === 2000L &&
      got.filter(col("ver") === 3L).count() === 10L &&
      got.filter(col("ver") === 2L).count() === 490L)
  }

  test("several versions of one key in a batch, and a pending generation " +
      "in the reduced column order, read and compact to the oracle") {
    val path = freshPath("format")
    val seed = (1L to 20L).map(k => (k, 1L, "upsert", s"a$k"))
    applyHistory(path, 0, seed)
    // key 21: insert, update, delete, re-insert in ONE batch; key 2's
    // newest there is its delete
    val multi = Seq((21L, 2L, "upsert", "b21"), (21L, 3L, "upsert", "c21"),
      (21L, 4L, "delete", "d21"), (21L, 5L, "upsert", "e21"),
      (2L, 2L, "upsert", "b2"), (2L, 3L, "delete", "c2"))
    applyHistory(path, 1, multi)
    // a generation as the per-trigger reduce wrote it: one row per key,
    // columns (keys, __bucket, versions, payload, __tombstone); it revives
    // key 2 and holds a row older than key 5's. Appended as batch 2 (two
    // generations: no compaction, so no reduce runs)
    val pending = Seq((2L, 9L, "upsert", "g2"), (3L, 7L, "upsert", "g3"),
      (4L, 7L, "delete", "g4"), (5L, 0L, "upsert", "late5"))
    BucketedStateTable.append(spark, path,
      BucketedStateTable.current(spark, path),
      df(pending: _*)
        .withColumn("__tombstone", col("op") === "delete")
        .withColumn(BucketedStateTable.BucketCol,
          BucketedStateTable.bucketOf(Seq("key"), 4))
        .select("key", BucketedStateTable.BucketCol, "ver", "op", "payload",
          "__tombstone"),
      batchId = 2, reduce = identity)
    assert(generations(path) === Seq("gen=1", "gen=2"))
    assert(BucketedStateTable.current(spark, path).generations === Seq(1L, 2L))
    val want = latestPerKey(seed ++ multi ++ pending)
    assert(replicaRows(path) === want)
    // the same batch replayed under new ids until the bound compacts
    (3L to BucketedStateTable.MaxGenerations).foreach(applyHistory(path, _, multi))
    assert(generations(path).isEmpty, "the bound-reaching fold compacts")
    assert(replicaRows(path) === want)
  }

  test("a read with pending generations runs no 1-task parquet " +
      "schema-inference job") {
    val path = freshPath("read-jobs")
    (0L until 3L).foreach(b => applyHistory(path, b, batchRows(b)))
    assert(generations(path).length === 2)
    var rows = Set.empty[String]
    val jobs = jobStages { rows = replicaRows(path) }
    assert(rows === latestPerKey((0L until 3L).flatMap(batchRows)))
    val schemaJobs = jobs.filter { case (_, stages) =>
      stages.map(_._1).sum == 1 &&
        stages.exists(_._2.contains("ParallelCollectionRDD"))
    }
    assert(schemaJobs.isEmpty, s"schema-inference jobs: $schemaJobs of $jobs")
  }

  test("a read on a 64-bucket base runs no listing or schema job, only " +
      "the scan's own jobs") {
    val path = freshPath("read-64")
    ReplicaTable.applyBatch(spark, path, spark.range(1, 2001).select(
        col("id").as("key"), lit(1L).as("ver"), lit("upsert").as("op"),
        concat(lit("p"), col("id").cast("string")).as("payload")),
      Seq("key"), Seq("ver"), col("op") === "delete", 64, batchId = 0)
    assert(bucketFiles(path).size === 64)
    var read: org.apache.spark.sql.DataFrame = null
    val planning = jobTasks { read = ReplicaTable.read(spark, path) }
    assert(planning.isEmpty, s"building the read ran jobs: $planning")
    var n = 0L
    val jobs = jobStages { n = read.count() }
    assert(n === 2000L)
    // a file listing and a parquet schema inference are both a
    // parallelized collection of paths
    val listing = jobs.filter(_._2.exists(_._2.contains("ParallelCollectionRDD")))
    assert(listing.isEmpty, s"listing or schema jobs: $listing of $jobs")
  }

  /** Files under the table `path` that its snapshot does not account for:
    * anything but `_snapshot`, a base file it names, a file of a generation
    * it names, a dir's `_SUCCESS`, or the checksum of one of those. */
  private def unaccounted(path: String): Set[String] = {
    val snap = BucketedStateTable.current(spark, path)
    val named = snap.files.values.flatten.toSet + "_snapshot"
    def accounted(f: String): Boolean = named(f) ||
      f == "_SUCCESS" || f.endsWith("/_SUCCESS") ||
      snap.generations.exists(g => f.startsWith(s"gens/gen=$g/"))
    val Checksum = """(.*/)?\.([^/]+)\.crc""".r
    tree(path).keySet.filterNot {
      case Checksum(dir, f) => accounted(Option(dir).getOrElse("") + f)
      case f                => accounted(f)
    }
  }

  test("a state table holds only its snapshot, the files it names and " +
      "fewer than MaxGenerations generations; a replay below the " +
      "high-water mark is a no-op") {
    val bound = BucketedStateTable.MaxGenerations
    val replica = freshPath("growth")
    // 3 × bound + 1 triggers; batch 5 is empty
    val triggers = 0L to 3L * bound
    def rows(b: Long) = if (b == 5L) Nil else batchRows(b % 9)
    def oracle(upTo: Long) =
      latestPerKey(triggers.filter(_ <= upTo).flatMap(rows))
    var compacted = false
    triggers.foreach { b =>
      applyHistory(replica, b, rows(b))
      // from the batch after the empty one through the first compaction,
      // which batch 9 runs: the 8th generation, its rows batch 0's again
      if (b >= 6L && !compacted) {
        assert(replicaRows(replica) === oracle(b), s"after batch $b")
        compacted =
          BucketedStateTable.current(spark, replica).generations.isEmpty
        assert(compacted === (b == 9L), s"after batch $b")
      }
    }
    assert(oracle(9L) === oracle(8L))
    val snap = BucketedStateTable.current(spark, replica)
    assert(snap.batchId === 3L * bound)
    assert(snap.generations.length < bound)
    assert(generations(replica).length === snap.generations.length)
    assert(unaccounted(replica).isEmpty, unaccounted(replica).toString)
    assert(replicaRows(replica) === latestPerKey(history))

    val agg = freshPath("growth-agg")
    (0L until 20L).foreach { b =>
      IncrementalAgg.applyDelta(spark, agg,
        Seq((b % 7, b), (b % 5 + 10, 1L)).toDF("key", "v"),
        Seq("key"), Seq("v"), nBuckets = 4, batchId = b)
    }
    assert(BucketedStateTable.current(spark, agg).generations.isEmpty)
    assert(unaccounted(agg).isEmpty, unaccounted(agg).toString)
    assert(!new java.io.File(s"$agg/gens").exists())
    def aggRows() = IncrementalAgg.read(spark, agg).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sums = aggRows()

    // replays of earlier batch ids, carrying rows those batches never held
    val (replicaTree, aggTree) = (tree(replica), tree(agg))
    val replicaBefore = replicaRows(replica)
    applyHistory(replica, 3L,
      (1L to 40L).map(k => (k, 1000L, "upsert", "replayed")))
    IncrementalAgg.applyDelta(spark, agg, Seq((1L, 1000L)).toDF("key", "v"),
      Seq("key"), Seq("v"), nBuckets = 4, batchId = 7L)
    assert(tree(replica) === replicaTree && tree(agg) === aggTree)
    assert(replicaRows(replica) === replicaBefore)
    assert(aggRows() === sums)
  }

  test("a snapshot without its generations or its files is refused by " +
      "name before any Spark job runs") {
    val path = freshPath("malformed")
    (0L to 2L).foreach(b => applyHistory(path, b, batchRows(b)))
    val fs = BucketedStateTable.fsFor(spark, path)
    val file = new org.apache.hadoop.fs.Path(s"$path/_snapshot")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val committed = {
      val in = fs.open(file)
      try mapper.readTree(in) finally in.close()
    }
    Seq("generations", "files").foreach { field =>
      val doc = committed
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
      doc.remove(field)
      val out = fs.create(file, true)
      try out.write(mapper.writeValueAsBytes(doc)) finally out.close()
      var errs = Seq.empty[IllegalStateException]
      val jobs = jobTasks {
        errs = Seq(
          intercept[IllegalStateException](ReplicaTable.read(spark, path)),
          intercept[IllegalStateException](
            applyHistory(path, 3L, batchRows(3L))))
      }
      assert(jobs.isEmpty, s"refusal ran Spark jobs: $jobs")
      errs.foreach(e => assert(e.getMessage.contains("malformed/_snapshot") &&
        e.getMessage.contains(s"`$field`"), e.getMessage))
    }
  }
}
