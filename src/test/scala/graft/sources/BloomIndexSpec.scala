package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val p = s"$outRoot/test-out/bloomindex/$tag"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private lazy val docs = Tables.table(spark, sfTiny, "documents")

  test("point lookup prunes to the holding files on a RANDOM layout; zone map cannot") {
    val path = fresh("random")
    // hash-spread layout: doc_id ranges overlap across every file — the
    // layout a zone map on doc_id is useless for
    docs.repartition(8)
      .write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    ZoneMap.write(spark, path, Seq("doc_id"))
    val total = spark.read.parquet(s"$path/_bloomindex").count()
    assert(total === 8)

    // probe MID-RANGE ids: an extremal id is the one point a min/max zone
    // CAN prune even on a random layout (only one file holds the global
    // min) — the median sits inside every interleaved file's span
    val all = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids = Seq(all(all.length / 2), all(all.length / 2 + 7),
      all(all.length / 2 + 13))
    // zone map on the unclustered key: every zone spans ~everything
    val zcand = ZoneMap.candidateFiles(spark, path, "doc_id",
      ids.head, ids.head)
    assert(zcand.size >= 7, s"zone map should be blind here, got ${zcand.size}")
    // bloom: a single id lives in exactly one file — candidates are that
    // file plus deterministic fpp noise, far below the layout
    val bcand = BloomIndex.candidateFiles(spark, path, "doc_id",
      Seq(ids.head))
    assert(bcand.nonEmpty && bcand.size <= 2,
      s"bloom must prune a point lookup, got ${bcand.size} of $total")

    // exactness: pruned read == full-scan filter, for one id and a set
    val got = BloomIndex.prunedRead(spark, path, "doc_id", ids)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === ids.sorted)
    val one = BloomIndex.prunedRead(spark, path, "doc_id", Seq(ids.head))
      .count()
    assert(one === 1L)
  }

  test("no false negatives by construction; absent key reads nothing; NULLs not indexed") {
    val path = fresh("absent")
    docs.repartition(4)
      .write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    // every present id must fire its holding file (no false negatives):
    // sample a spread of ids and check the pruned read finds each
    val sample = docs.select("doc_id").collect().map(_.getLong(0))
      .sorted.grouped(500).map(_.head).toSeq
    val found = BloomIndex.prunedRead(spark, path, "doc_id",
        sample.toSeq)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(found === sample.toSet)
    // an id far outside the domain: candidates are fpp-only (possibly 0),
    // and the exact re-filter guarantees an empty result either way
    val absent = BloomIndex.prunedRead(spark, path, "doc_id",
      Seq(Long.MaxValue - 7))
    assert(absent.count() === 0L)

    // NULL keys are never indexed: a column of nulls yields filters that
    // fire for nothing
    import spark.implicits._
    val nulls = Seq.tabulate(10)(i => (i.toLong, null: String))
      .toDF("id", "k")
    val npath = fresh("nulls")
    nulls.write.mode("overwrite").parquet(npath)
    BloomIndex.write(spark, npath, Seq("k"), expectedItemsPerFile = 100)
    assert(BloomIndex.candidateFiles(spark, npath, "k", Seq("anything"))
      .isEmpty)
  }

  test("incremental update indexes only new files and reaps replayed dirs (shared Manifests protocol)") {
    val path = fresh("incr")
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    a.repartition(2).write.mode("overwrite")
      .parquet(s"$path/batch_id=0")
    BloomIndex.update(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000)
    b.repartition(3).write.mode("overwrite")
      .parquet(s"$path/batch_id=1")
    val d1 = BloomIndex.update(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000)
    assert(d1 === ZoneMap.UpdateDelta(3L, 0L))
    // replay batch 1 (overwrite under the same dir): old part files die
    b.repartition(3).write.mode("overwrite")
      .parquet(s"$path/batch_id=1")
    val d2 = BloomIndex.update(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000)
    assert(d2.added === 3L && d2.reaped === 3L)
    // manifest rows all live, and a lookup through the index stays exact
    val m = spark.read.parquet(s"$path/_bloomindex")
    assert(m.count() === 5)
    val id = b.select("doc_id").orderBy("doc_id").limit(1)
      .head().getLong(0)
    val got = BloomIndex.prunedRead(spark, path, "doc_id", Seq(id))
    assert(got.count() === 1L)
    // idempotent follow-up
    assert(BloomIndex.update(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000) === ZoneMap.UpdateDelta(0L, 0L))
  }

  test("compaction maintains the bloom manifest: point reads stay exact, no update needed") {
    val path = fresh("compact-compose")
    // fragmented random layout with a live bloom index
    docs.repartition(12).write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    val bytesBefore = BloomIndex.diagnose(spark, path, "doc_id")
      .head().getDouble(3)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = math.max(1L, fs.getContentSummary(
      new org.apache.hadoop.fs.Path(path)).getLength / 3)
    val report = Compaction.compact(spark, path, OutFormat.Parquet,
      OutCompression.Snappy, targetFileBytes = target)
    assert(report.filter(col("compacted")).count() > 0, "fixture must compact")
    // compact refreshed the rewritten shards itself: manifest rows point
    // only at live files, update is a no-op, and the point read answers
    // exactly (it would THROW on a stale manifest — dead scan paths)
    val manifest = spark.read.parquet(s"$path/_bloomindex")
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val indexed = manifest.select("file").collect()
      .map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) })
      .toSet
    assert(indexed === onDisk, "manifest must track exactly the live files")
    assert(BloomIndex.update(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000) === ZoneMap.UpdateDelta(0L, 0L))
    val ids = docs.select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    val got = BloomIndex.prunedRead(spark, path, "doc_id", ids)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === ids.sorted)
    // the refresh reproduced the ORIGINAL build's bitmap sizing (read
    // from a surviving cell), not the defaults
    val bytesAfter = BloomIndex.diagnose(spark, path, "doc_id")
      .head().getDouble(3)
    assert(math.abs(bytesAfter - bytesBefore) < bytesBefore * 0.01,
      s"refreshed filters must keep the build sizing: $bytesBefore -> $bytesAfter")
  }

  test("refreshShards survives an all-null indexed column (falls back to " +
      "default sizing instead of crashing)") {
    import spark.implicits._
    val path = fresh("allnull")
    // every cell of the indexed column is NULL -> every filter cell in the
    // manifest is NULL (NULLs are never indexed); the sizing sample must
    // not throw, and the refresh must still rewrite the shard
    Seq.tabulate(20)(i => (i.toLong, null.asInstanceOf[String]))
      .toDF("id", "tag").repartition(2)
      .write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("tag"), expectedItemsPerFile = 100)
    val m0 = spark.read.parquet(s"$path/_bloomindex")
    assert(m0.filter(col("tag_bloom").isNotNull).count() === 0)
    // must not throw (was: NoSuchElementException from .head() on empty)
    BloomIndex.refreshShards(spark, path, Seq("."))
    val m1 = spark.read.parquet(s"$path/_bloomindex")
    assert(m1.count() === 2 &&
      m1.filter(col("tag_bloom").isNotNull).count() === 0)
    // a probe over the refreshed manifest still answers (matches nothing)
    assert(BloomIndex.candidateFiles(spark, path, "tag", Seq("x")).isEmpty)
  }

  test("diagnose reads health from the manifest alone") {
    val path = fresh("diag")
    docs.repartition(4).write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    val d = BloomIndex.diagnose(spark, path, "doc_id").head()
    assert(d.getLong(0) === 4L)                  // n_files
    assert(d.getLong(1) === docs.count())        // n_rows
    assert(d.getDouble(3) > 1000)                // real filter payloads
  }

  test("dim-driven pruned join == plain join; skips files; null/empty/" +
    "over-wide dims handled") {
    val path = fresh("dimjoin")
    docs.repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(path)
    BloomIndex.write(spark, path, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val picks = Seq(all(all.length / 2), all(all.length / 2 + 3),
      all(all.length / 4))
    import spark.implicits._
    val dim = picks.zipWithIndex
      .map { case (k, i) => (k, s"t$i") }.toDF("k", "tag")

    val joined = BloomIndex.prunedJoin(spark, path, "doc_id", dim, "k")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"), col("tag")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = pairs(spark.read.parquet(path)
      .join(dim, col("doc_id") === col("k")))
    assert(pairs(joined) === want && want.size === picks.size)

    // the fact side planned fewer files than the layout holds: 3 keys
    // live in ≤3 of the 8 key-bucketed files (+ deterministic fpp noise)
    val factFiles = joined.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if f.location.rootPaths.exists(
                _.toString.contains("bloomindex/dimjoin")) =>
            f.location.rootPaths.length
          case _ => 0
        }
    }.sum
    assert(factFiles > 0 && factFiles < 8,
      s"expected file skipping, planned $factFiles of 8")
    // and the model-sized dim broadcasts — no shuffle on the pruned join
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))

    // NULL dim keys are excluded from the probe and never match
    val dimWithNull = (picks.map(k => (Option(k), "t")) :+
      (Option.empty[Long], "tn")).toDF("k", "tag")
    assert(BloomIndex.prunedJoin(spark, path, "doc_id", dimWithNull, "k")
      .count() === picks.size.toLong)
    // an empty dim reads nothing
    assert(BloomIndex.prunedJoin(spark, path, "doc_id", dim.limit(0), "k")
      .count() === 0L)
    // an over-wide dim REFUSES (plain join is the honest plan there)
    intercept[IllegalArgumentException] {
      BloomIndex.prunedJoin(spark, path, "doc_id", dim, "k", maxKeys = 2)
    }
  }
}
