package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Token-budget admission at ingest: arrival-order semantics, cross-batch
  * state, saturation, and the overshoot-by-one bound. */
class StreamingQuotaSpec extends SparkSpec {

  private val root = s"$outRoot/test-out/streaming-quota"

  private def fresh(): (String, String) = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    (s"$root/source", s"$root/ckpt")
  }

  test("stream admission equals the sequential arrival-order rule across batches") {
    import spark.implicits._
    val (src, ckpt) = fresh()
    // two waves with controlled arrival order; tokens = word count
    def doc(id: Long, grp: String, words: Int) = (id, grp, Seq.fill(words)("w").mkString(" "))
    val wave0 = Seq(doc(1, "a", 5), doc(2, "a", 5), doc(3, "b", 12), doc(4, "a", 5))
    val wave1 = Seq(doc(5, "a", 5), doc(6, "b", 1), doc(7, "a", 50), doc(8, "a", 5))
    Files.createDirectories(Paths.get(src))
    wave0.toDF("doc_id", "source", "text").repartition(1)
      .write.mode("append").json(src)
    Thread.sleep(1100) // distinct mod-times => deterministic file order
    wave1.toDF("doc_id", "source", "text").repartition(1)
      .write.mode("append").json(src)

    val budget = 14L
    val stream = spark.readStream
      .schema("doc_id long, source string, text string")
      .option("maxFilesPerTrigger", 1) // one wave per micro-batch
      .json(src)
    val admitted = StreamingQuota.admitByTokenBudget(stream, budget)
    val q = CdcPipeline.startWithProvider(spark,
      Some(CdcPipeline.RocksDBProvider)) {
      admitted.writeStream.queryName("quota").format("memory")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination(120000)
    val got = spark.table("quota")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    // sequential reference: same rule applied in (wave, id) order
    val ref = scala.collection.mutable.Set.empty[(Long, String, Long, Long)]
    val spent = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    (wave0.sortBy(_._1) ++ wave1.sortBy(_._1)).foreach { case (id, grp, text) =>
      val tok = text.split(" ").length.toLong
      if (spent(grp) < budget) {
        ref += ((id, grp, tok, spent(grp)))
        spent(grp) += tok
      }
    }
    assert(got === ref.toSet,
      s"stream admission diverged from the sequential rule:\n got $got\n ref $ref")
    // group a: 5+5+5 spent in wave0 (15 >= 14) — wave-1 docs all rejected
    assert(!got.exists(d => d._2 == "a" && d._1 >= 5),
      "exhausted group admitted documents in a later batch")
    // group b straddles: 12 in wave0, then 1 more admitted in wave1
    assert(got.exists(d => d._1 == 6L),
      "group with remaining budget stopped admitting across batches")
    // overshoot bound: spent < budget + largest admitted doc, per group
    got.groupBy(_._2).foreach { case (grp, docs) =>
      val total = docs.toSeq.map(_._3).sum
      val maxDoc = docs.toSeq.map(_._3).max
      assert(total < budget + maxDoc, s"group $grp overshot: $total")
    }
  }

  test("null id/group/text rows are excluded, never fatal") {
    import spark.implicits._
    // batch mode exercises the same operator body (one trigger, no state
    // persistence) — the null-id row must be dropped by the stated policy,
    // not crash the non-nullable tuple encoder
    val rows = Seq(
      (java.lang.Long.valueOf(1L), "a", "one two"),
      (null.asInstanceOf[java.lang.Long], "a", "null id"),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[String], "null group"),
      (java.lang.Long.valueOf(3L), "a", null.asInstanceOf[String]),
      (java.lang.Long.valueOf(4L), "a", "three"))
      .toDF("doc_id", "source", "text")
    val admitted = StreamingQuota.admitByTokenBudget(rows, 1000L)
      .collect().map(_.docId).toSet
    assert(admitted === Set(1L, 4L))
  }
}
