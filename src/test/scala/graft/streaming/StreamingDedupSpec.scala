package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import graft.functions.Dedup
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSpec {

  private val root = s"$outRoot/streaming-dedup-spec"

  private def freshCkpt(name: String): String = {
    val base = s"$root/$name"
    val p = Paths.get(base)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    s"$base/checkpoint"
  }

  test("incremental LSH dedup emits exactly the batch operator's candidate pairs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id").cast("long"), col("text")).limit(200)
    val rows = docs.as[(Long, String)].collect()

    // ground truth: the batch operator over the same docs (uncapped)
    val batchPairs = Dedup.minhashCandidates(docs, shingleN = 3, k = 32,
        bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = StreamingDedup.minhashCandidates(
      input.toDF().toDF("doc_id", "text"),
      shingleN = 3, k = 32, bands = 8, threshold = 0.5)
    val q = stream.writeStream.queryName("stream_dedup_out")
      .format("memory").outputMode("append")
      .option("checkpointLocation", freshCkpt("lsh"))
      .start()
    try {
      // three ingest waves — pairs must form both within and ACROSS waves
      rows.grouped((rows.length / 3).max(1)).foreach { wave =>
        input.addData(wave.toSeq)
        q.processAllAvailable()
      }
      val streamPairs = spark.table("stream_dedup_out")
        .as[StreamDupCandidate].collect()
        .map(c => (c.docA, c.docB, c.estJaccard)).toSet
      assert(streamPairs === batchPairs,
        s"stream-only: ${streamPairs -- batchPairs}\nbatch-only: ${batchPairs -- streamPairs}")
      assert(batchPairs.nonEmpty, "fixture produced no near-dup pairs; test is vacuous")
    } finally q.stop()
  }

  test("bucket state survives a query restart: cross-restart pairs still form") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val ckpt = freshCkpt("restart")
    val out = s"$root/restart/out"
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def readPairs() = spark.read
      .schema("docA long, docB long, estJaccard double").json(out)

    // wave 1 -> stop the query (doc 1 now lives only in checkpointed state;
    // the memory sink cannot recover a checkpoint, so pairs land as files)
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingDedup.minhashCandidates(
        in1.toDF().toDF("doc_id", "text"),
        shingleN = 3, k = 32, bands = 8, threshold = 0.5)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      in1.addData(Seq((1L, dup), (9L, "uu vv ww xx yy zz qq rr")))
      q1.processAllAvailable()
      assert(readPairs().isEmpty, "no pair should exist yet")
    } finally q1.stop()

    // wave 2 against the same checkpoint. The replacement source carries
    // wave 1 again BEFORE starting (the replayable-source contract: a
    // restarted query repositions the source at its committed offset, so
    // that data must exist there — and, being committed, is NOT
    // reprocessed); only the newly added wave 2 runs, and the duplicate
    // of doc 1 must pair with it out of recovered state.
    val in2 = MemoryStream[(Long, String)]
    in2.addData(Seq((1L, dup), (9L, "uu vv ww xx yy zz qq rr")))
    val q2 = StreamingDedup.minhashCandidates(
        in2.toDF().toDF("doc_id", "text"),
        shingleN = 3, k = 32, bands = 8, threshold = 0.5)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      in2.addData(Seq((2L, dup)))
      q2.processAllAvailable()
      val pairs = readPairs().as[StreamDupCandidate]
        .collect().map(c => (c.docA, c.docB)).distinct
      assert(pairs.toSeq === Seq((1L, 2L)),
        s"recovered state did not produce the cross-restart pair: ${pairs.toSeq}")
    } finally q2.stop()
  }

  test("state TTL evicts cold buckets: pairs form inside the horizon, not across it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    // NOTE on shape: wall-clock timeouts make the engine request a batch
    // every trigger (shouldRunAnotherBatch is unconditionally true for
    // ProcessingTimeTimeout), so neither processAllAvailable nor
    // AvailableNow can latch "done" — the TTL's contract is a CONTINUOUS
    // trigger (see the operator scaladoc). Drive one continuously-running
    // query and poll the file sink for the expected pairs instead.
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val ckpt = freshCkpt("ttl")
    val out = s"$root/ttl/out"
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def pairsOnDisk(): Seq[(Long, Long)] = spark.read
      .schema("docA long, docB long, estJaccard double").json(out)
      .as[StreamDupCandidate].collect().map(c => (c.docA, c.docB))
      .distinct.toSeq.sorted

    def awaitPairs(expect: Seq[(Long, Long)], deadlineMs: Long = 60000): Unit = {
      val t0 = System.currentTimeMillis()
      var cur = pairsOnDisk()
      while (cur != expect && System.currentTimeMillis() - t0 < deadlineMs) {
        Thread.sleep(200L); cur = pairsOnDisk()
      }
      assert(cur === expect, s"sink never reached $expect (got $cur)")
    }

    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.minhashCandidates(
        in.toDF().toDF("doc_id", "text"),
        shingleN = 3, k = 32, bands = 8, threshold = 0.5,
        stateTtlMs = 400L)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      // wave 1: a pair inside the horizon forms immediately
      in.addData(Seq((1L, dup), (2L, dup)))
      awaitPairs(Seq((1L, 2L)))
      // idle past the TTL: the continuous trigger keeps running empty
      // batches, whose expirations evict doc 1/2's now-cold buckets
      Thread.sleep(1500L)
      // wave 2: the fresh pair (3,4) forms; the cross-horizon pairs
      // (1,3)/(1,4)/(2,3)/(2,4) must NOT — that state aged out
      in.addData(Seq((3L, dup), (4L, dup)))
      awaitPairs(Seq((1L, 2L), (3L, 4L)))
      // settle one more horizon to prove no late cross-pairs trickle out
      Thread.sleep(600L)
      assert(pairsOnDisk() === Seq((1L, 2L), (3L, 4L)),
        s"TTL horizon violated: ${pairsOnDisk()}")
    } finally q.stop()
  }

  test("bucket cap bounds state while multi-band redundancy preserves strong pairs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // 6 identical docs (every band collides) + 1 unrelated
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val rows = (1L to 6L).map(i => (i, dup)) :+ (7L, "uu vv ww xx yy zz qq rr")

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val capped = StreamingDedup.minhashCandidates(
      input.toDF().toDF("doc_id", "text"),
      shingleN = 3, k = 32, bands = 8, threshold = 0.5, maxBucketSize = 3)
    val q = capped.writeStream.queryName("stream_dedup_capped")
      .format("memory").outputMode("append")
      .option("checkpointLocation", freshCkpt("capped"))
      .start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val pairs = spark.table("stream_dedup_capped")
        .as[StreamDupCandidate].collect()
      val distinctPairs = pairs.map(p => (p.docA, p.docB)).toSet
      // capped at 3 members/bucket: docs 1-3 are admitted (intra-batch id
      // order), 4-6 overflow. Every arrival still PROBES the stored
      // members, so each overflow doc pairs with each admitted one; only
      // pairs among the unadmitted overflow are lost
      val admitted = Set(1L, 2L, 3L)
      assert(pairs.nonEmpty, "cap killed every pair")
      assert(!distinctPairs.exists(p => p._1 == 7L || p._2 == 7L),
        "unrelated doc paired")
      assert(distinctPairs.forall(p => admitted.contains(p._1)),
        s"pair among unadmitted overflow docs emitted: $distinctPairs")
      val expected = (for {
        a <- 1L to 6L; b <- (a + 1) to 6L; if admitted.contains(a)
      } yield (a, b)).toSet
      assert(distinctPairs === expected,
        s"missing: ${expected -- distinctPairs}, extra: ${distinctPairs -- expected}")
    } finally q.stop()
  }
}
