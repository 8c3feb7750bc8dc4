package graft.streaming

import graft.{SparkSpec, Tables}
import graft.functions.CorpusOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Streaming weighted reservoir: deterministic E-S keys make the streamed
  * sample SET-EQUAL to the batch operator — asserted per trigger and
  * after drain. */
class StreamingSampleSpec extends SparkSpec {

  private val root = s"$outRoot/test-out/streaming-sample"

  private def fresh(): (String, String) = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    (s"$root/source", s"$root/ckpt")
  }

  test("streamed reservoir equals the batch sample — per trigger AND after drain") {
    import spark.implicits._
    val (src, ckpt) = fresh()
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "n_chars")
    val wave0 = docs.filter(col("doc_id") < 250)
    val wave1 = docs.filter(col("doc_id") >= 250)
    Files.createDirectories(Paths.get(src))
    wave0.repartition(1).write.mode("append").json(src)
    Thread.sleep(1100) // distinct mod-times => deterministic file order
    wave1.repartition(1).write.mode("append").json(src)

    val k = 40
    val stream = spark.readStream
      .schema("doc_id long, text string, n_chars long")
      .option("maxFilesPerTrigger", 1)
      .json(src)
    val snaps = StreamingSample.weightedK(stream, k, weightCol = "n_chars")
    val q = CdcPipeline.startQuery(spark,
      Some(CdcPipeline.RocksDBProvider), None) {
      snaps.writeStream.queryName("wres").format("memory")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination(120000)
    val byVersion = spark.table("wres").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    assert(byVersion.keySet === Set(1L, 2L))
    // after the FIRST trigger: exactly the batch sample over wave 0
    val batch0 = CorpusOps.sampleWeightedK(wave0, k, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byVersion(1L) === batch0, "mid-stream reservoir diverged")
    // after drain: exactly the batch sample over the whole corpus —
    // deterministic keys make this SET equality, not a distribution claim
    val batchAll = CorpusOps.sampleWeightedK(docs, k, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byVersion(2L) === batchAll, "drained reservoir diverged")
    assert(byVersion(2L).size === k)
  }

  test("a re-delivered doc cannot occupy two reservoir slots") {
    import spark.implicits._
    // in-batch duplicate: doc 1's key beats everything, so without the
    // (key,id) guard its second delivery would displace a distinct doc
    val rows = Seq(
      (1L, "alpha", 1000L), (1L, "alpha", 1000L),
      (2L, "beta", 1L), (3L, "gamma", 1L))
      .toDF("doc_id", "text", "n_chars")
    val snap = StreamingSample.weightedK(rows, k = 3, weightCol = "n_chars")
      .collect().head
    assert(snap.docIds.toSet === Set(1L, 2L, 3L),
      s"duplicate displaced a distinct doc: ${snap.docIds}")
    assert(snap.docIds.length === 3)
  }

  test("cross-trigger re-delivery: a duplicate in a later batch does not displace state") {
    import spark.implicits._
    val (src, ckpt) = fresh()
    val wave0 = Seq((1L, "alpha", 1000L), (2L, "beta", 1L))
      .toDF("doc_id", "text", "n_chars")
    val wave1 = Seq((1L, "alpha", 1000L), (3L, "gamma", 1L)) // 1 re-delivered
      .toDF("doc_id", "text", "n_chars")
    Files.createDirectories(Paths.get(src))
    wave0.repartition(1).write.mode("append").json(src)
    Thread.sleep(1100)
    wave1.repartition(1).write.mode("append").json(src)
    val stream = spark.readStream
      .schema("doc_id long, text string, n_chars long")
      .option("maxFilesPerTrigger", 1)
      .json(src)
    val snaps = StreamingSample.weightedK(stream, k = 3, weightCol = "n_chars")
    val q = CdcPipeline.startQuery(spark,
      Some(CdcPipeline.RocksDBProvider), None) {
      snaps.writeStream.queryName("wres_dup").format("memory")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination(120000)
    val finalSnap = spark.table("wres_dup").collect()
      .maxBy(_.getLong(0))
    // k=3 with 3 distinct docs: the re-delivered doc 1 (already in state,
    // best key in the reservoir) must not evict doc 2 or doc 3
    assert(finalSnap.getSeq[Long](2).toSet === Set(1L, 2L, 3L),
      s"re-delivery displaced a distinct doc: ${finalSnap.getSeq[Long](2)}")
  }

  test("policy edges: null/non-positive weights excluded; k larger than the feed") {
    import spark.implicits._
    // batch mode drives the same operator body through one trigger
    val rows = Seq(
      (java.lang.Long.valueOf(1L), "alpha", java.lang.Long.valueOf(10L)),
      (java.lang.Long.valueOf(2L), "beta", java.lang.Long.valueOf(0L)),
      (java.lang.Long.valueOf(3L), "gamma", null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Long], "delta", java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(5L), null.asInstanceOf[String], java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(6L), "zeta", java.lang.Long.valueOf(7L)))
      .toDF("doc_id", "text", "n_chars")
    val snap = StreamingSample.weightedK(rows, k = 10, weightCol = "n_chars")
      .collect().head
    assert(snap.docIds.toSet === Set(1L, 6L)) // only valid rows survive
    assert(snap.size === 2 && snap.keys.length === 2)
    assert(snap.keys === snap.keys.sorted) // ascending draw order
  }
}
