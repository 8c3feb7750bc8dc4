package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec {

  private val root = s"$outRoot/test-out/dedup-index"
  private lazy val docs = Tables.documents(spark, sfTiny).cache()
  private lazy val day1 = docs.filter(col("doc_id") % 2 === 0)
  private lazy val day2 = docs.filter(col("doc_id") % 2 === 1)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental ingest == full-batch recompute, estimates included") {
    val path = s"$root/equiv"
    DedupIndex.write(day1, path, shingleN = 3, k = 32, bands = 8)
    val oldPairs = pairSet(
      Dedup.minhashCandidates(day1, shingleN = 3, k = 32, bands = 8,
        threshold = 0.2))
    val incPairs = pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2))
    val fullPairs = pairSet(
      Dedup.minhashCandidates(docs, shingleN = 3, k = 32, bands = 8,
        threshold = 0.2))
    // the delta's pair view covers exactly what full recompute adds
    assert(oldPairs.intersect(incPairs).isEmpty,
      "incremental pairs must all involve the delta")
    assert(oldPairs.union(incPairs) === fullPairs,
      "write(day1) + newPairs(day2) must equal the full-batch pair set")
    assert(incPairs.nonEmpty, "fixture should produce cross/delta pairs")
  }

  test("append extends the corpus: a later generation sees every prior one") {
    import spark.implicits._
    val path = s"$root/append"
    DedupIndex.write(day1, path)
    DedupIndex.append(day2, path)
    // generation 3: verbatim copies of one stored day1 doc and one
    // appended day2 doc, under fresh ids
    val src1 = day1.orderBy("doc_id").select("doc_id", "text").head()
    val src2 = day2.orderBy("doc_id").select("doc_id", "text").head()
    val gen3 = Seq((100001L, src1.getString(1)), (100002L, src2.getString(1)))
      .toDF("doc_id", "text")
    val pairs = DedupIndex.newPairs(gen3, path, threshold = 0.9)
    val partners = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(partners.contains((src1.getLong(0), 100001L)),
      "copy of a WRITTEN doc must pair with its stored original")
    assert(partners.contains((src2.getLong(0), 100002L)),
      "copy of an APPENDED doc must pair with its appended original")
    // the VERBATIM pairs agree on every signature lane (other near-dups of
    // the same originals may also clear the 0.9 threshold — expected)
    val verbatim = Set((src1.getLong(0), 100001L), (src2.getLong(0), 100002L))
    val exact = pairs.collect()
      .filter(r => verbatim.contains((r.getLong(0), r.getLong(1))))
    assert(exact.length === 2)
    exact.foreach(r => assert(r.getDouble(2) === 1.0))
  }

  test("parameters are pinned in meta: derived calls can never drift") {
    val path = s"$root/params"
    DedupIndex.write(day1, path, shingleN = 2, k = 16, bands = 4)
    val inc = pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2))
    val full = pairSet(Dedup.minhashCandidates(docs, shingleN = 2, k = 16,
      bands = 4, threshold = 0.2))
    val old = pairSet(Dedup.minhashCandidates(day1, shingleN = 2, k = 16,
      bands = 4, threshold = 0.2))
    assert(old.union(inc) === full,
      "non-default pinned parameters must replay identically")
  }

  test("re-ingesting an id does not pair with its stored self; cap identity") {
    val path = s"$root/self"
    DedupIndex.write(day1, path)
    // re-ship three already-indexed docs verbatim, same ids
    val re = day1.limit(3)
    val pairs = DedupIndex.newPairs(re, path, threshold = 0.0)
    val selfPairs = pairs.filter(col("doc_a") === col("doc_b"))
    assert(selfPairs.count() === 0)
    // a cap far above any bucket size changes nothing
    val capped = pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2,
      maxBucketSize = 100000))
    val uncapped = pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2))
    assert(capped === uncapped)
  }

  test("a BINDING cap drops exactly the oversized combined buckets (windowed ground truth)") {
    val path = s"$root/cap-binding"
    DedupIndex.write(day1, path, shingleN = 3, k = 32, bands = 8)

    // ground truth: the pre-round-7 windowed form — count over the FULL
    // stored ∪ delta union, drop rows in oversized buckets, then the same
    // delta×all join. Kept here as the semantic oracle for the broadcast-
    // pruned production path (which must never shuffle the stored side).
    def entriesOf(df: DataFrame) =
      Dedup.minhashSignatures(df, 3, 32)
        .select(col("doc_id"), col("sig"),
          explode(Dedup.lshBandKeys(col("sig"), 32, 8)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
          col("doc_id"), col("sig"))
    def windowedPairs(cap: Int, threshold: Double): Set[(Long, Long, Double)] = {
      val all = entriesOf(day1).withColumn("is_new", lit(false))
        .unionByName(entriesOf(day2).withColumn("is_new", lit(true)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bucket"))
      val pruned = all.withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= cap).drop("__bsz")
      val a = pruned.filter(col("is_new")).as("a")
      val b = pruned.as("b")
      val est = graft.functions.expressions.VectorExpressions
        .agreementNative(col("a.sig"), col("b.sig"))
      pairSet(a.join(b, col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          (!col("b.is_new") || col("a.doc_id") < col("b.doc_id")))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          est.as("est_jaccard"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(first(col("est_jaccard")).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold))
    }

    val uncapped = pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2))
    // pick a cap that genuinely BINDS on this fixture (some bucket bigger)
    val caps = Seq(1, 2, 4, 8)
    val capped = caps.map(c =>
      c -> pairSet(DedupIndex.newPairs(day2, path, threshold = 0.2,
        maxBucketSize = c))).toMap
    assert(capped(1).isEmpty, "cap=1 admits no bucket that can pair")
    assert(caps.exists(c => capped(c) != uncapped),
      "fixture must have at least one bucket above some test cap")
    caps.foreach { c =>
      assert(capped(c) === windowedPairs(c, 0.2),
        s"cap=$c diverges from the windowed ground truth")
      assert(capped(c).subsetOf(uncapped), s"cap=$c invented pairs")
    }
  }

  test("explicit-gen append is idempotent: a replayed generation never double-appends") {
    val path = s"$root/idem"
    DedupIndex.write(day1, path)
    DedupIndex.append(day2, path, gen = 7L)
    val entries = () => spark.read.parquet(s"$path/entries")
    val n1 = entries().count()
    val probe = day2.limit(5)
    val p1 = pairSet(DedupIndex.newPairs(probe, path, threshold = 0.2))
    DedupIndex.append(day2, path, gen = 7L) // the retry
    assert(entries().count() === n1,
      "replaying a generation must overwrite its own partition, not append")
    assert(pairSet(DedupIndex.newPairs(probe, path, threshold = 0.2)) === p1,
      "pair view must be byte-identical after the replay")
    // default-gen append still lands in a FRESH partition after gen 7
    DedupIndex.append(probe, path)
    val gens = entries().select(col("gen").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(gens === Set(-1L, 7L, 8L), s"unexpected generations: $gens")
  }

  test("streaming ingest == generational batch ground truth; replay is harmless") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val streamPath = s"$root/stream"
    val truthPath = s"$root/stream-truth"
    val base = day1
    val odd = day2.select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b0, b1) = odd.splitAt(odd.length / 2)

    DedupIndex.write(base, streamPath)
    DedupIndex.write(base, truthPath)

    val seen = scala.collection.mutable.Map[Long, Set[(Long, Long, Double)]]()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = DedupIndex.ingestStream(
        input.toDF().toDF("doc_id", "text"), streamPath, threshold = 0.2) {
        (pairs, batchId) => seen(batchId) = pairSet(pairs)
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("dedup-index-ckpt").toString)
      .start()
    try {
      input.addData(b0.toSeq); q.processAllAvailable()
      input.addData(b1.toSeq); q.processAllAvailable()
    } finally q.stop()

    // ground truth: the same two generations through the BATCH api
    val t0 = pairSet(DedupIndex.newPairs(
      b0.toSeq.toDF("doc_id", "text"), truthPath, threshold = 0.2))
    DedupIndex.append(b0.toSeq.toDF("doc_id", "text"), truthPath, gen = 0L)
    val t1 = pairSet(DedupIndex.newPairs(
      b1.toSeq.toDF("doc_id", "text"), truthPath, threshold = 0.2))
    assert(seen(0L) === t0, "batch 0 pairs must match the batch-mode run")
    assert(seen(1L) === t1,
      "batch 1 must see base + batch 0 through the index")

    // replaying batch 1 by hand (the at-least-once case) changes nothing
    val before = spark.read.parquet(s"$streamPath/entries").count()
    DedupIndex.append(b1.toSeq.toDF("doc_id", "text"), streamPath, gen = 1L)
    assert(spark.read.parquet(s"$streamPath/entries").count() === before)
    assert(pairSet(DedupIndex.newPairs(
      b1.toSeq.toDF("doc_id", "text"), streamPath, threshold = 0.2)) === t1,
      "a replayed batch re-derives identical pairs against its own entries")
  }
}
