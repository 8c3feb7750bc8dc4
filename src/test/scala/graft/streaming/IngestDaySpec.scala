package graft.streaming

import graft.{SparkSpec, Tables}
import graft.functions.DedupIndex
import graft.operators.{KeyStrategy, Quality}
import graft.sources.{OutCompression, OutFormat, ZoneMap}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed ingest chain (stream → quarantine fork → dedup-index gate
  * → replica table → zone-mapped sink): streamed == batch-driven, replay
  * is a no-op, and the sink's zone map answers exactly. */
class IngestDaySpec extends SparkSpec {

  private val root = s"$outRoot/test-out/ingest-day"
  private def fresh(tag: String): String = {
    val p = s"$root/$tag"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private lazy val docs = Tables.documents(spark, sfTiny).cache()
  private lazy val day1 = docs.filter(col("doc_id") % 2 === 0)
  private lazy val day2 = docs.filter(col("doc_id") % 2 === 1)
  private val checks = Seq(
    Quality.NotNull("text"), Quality.InRange("n_chars", 60, 1e12))

  private def batchSplits: Seq[DataFrame] =
    (0 until 2).map(i => day2.filter(pmod(col("doc_id"), lit(4L)) === 2 * i + 1))

  private case class Dests(base: String) {
    val primary = new FileDestination(s"$base/out", OutFormat.Parquet,
      OutCompression.Snappy, KeyStrategy.Flat, zoneMapCols = Seq("doc_id"))
    val dlq = new FileDestination(s"$base/dlq", OutFormat.Parquet,
      OutCompression.Snappy, KeyStrategy.Flat)
  }

  private def driveBatch(base: String): Dests = {
    DedupIndex.write(day1, s"$base/index", shingleN = 3, k = 32, bands = 16)
    val d = Dests(base)
    batchSplits.zipWithIndex.foreach { case (b, i) =>
      IngestDay.applyBatch(b, i.toLong, s"$base/index", s"$base/replica",
        d.primary, d.dlq, checks, threshold = 0.5)
    }
    d
  }

  private def idSet(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("streamed chain == the same chain driven batch-by-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val bBase = fresh("batch")
    val sBase = fresh("stream")
    val batchD = driveBatch(bBase)

    DedupIndex.write(day1, s"$sBase/index", shingleN = 3, k = 32, bands = 16)
    val streamD = Dests(sBase)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val stream = input.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = IngestDay.run(stream, s"$sBase/index", s"$sBase/replica",
        streamD.primary, streamD.dlq, checks, threshold = 0.5)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ingest-day-ckpt").toString)
      .start()
    try {
      batchSplits.foreach { b =>
        input.addData(b.select("doc_id", "text", "lang", "source", "n_chars")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    // every persisted artifact agrees between the two drives
    assert(idSet(batchD.primary.readBack(spark)) ===
      idSet(streamD.primary.readBack(spark)), "sink contents diverge")
    assert(idSet(batchD.dlq.readBack(spark)) ===
      idSet(streamD.dlq.readBack(spark)), "DLQ contents diverge")
    assert(idSet(ReplicaTable.read(spark, s"$bBase/replica")) ===
      idSet(ReplicaTable.read(spark, s"$sBase/replica")), "replicas diverge")
    // and the chain did real work: all three outcomes non-trivial
    val landed = idSet(batchD.primary.readBack(spark))
    val dlqIds = idSet(batchD.dlq.readBack(spark))
    assert(landed.nonEmpty, "nothing landed")
    assert(dlqIds.nonEmpty, "fixture should quarantine short docs")
    val gated = idSet(day2) -- landed -- dlqIds
    assert(gated.nonEmpty, "fixture should gate near-dups against day 1")
    assert((landed & dlqIds).isEmpty && (landed & gated).isEmpty)
    // replica mirrors the landing zone (unique ids, no deletes here)
    assert(idSet(ReplicaTable.read(spark, s"$bBase/replica")) === landed)
  }

  test("replaying the last batch changes nothing (exactly-once end-to-end)") {
    val base = fresh("replay")
    val d = driveBatch(base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def state() = (
      idSet(d.primary.readBack(spark)),
      idSet(d.dlq.readBack(spark)),
      idSet(ReplicaTable.read(spark, s"$base/replica")),
      spark.read.parquet(s"$base/index/entries").count(),
      spark.read.parquet(s"$base/out/_zonemap").count())
    val before = state()
    // the at-least-once engine re-delivers the final micro-batch
    IngestDay.applyBatch(batchSplits.last, (batchSplits.size - 1).toLong,
      s"$base/index", s"$base/replica", d.primary, d.dlq, checks,
      threshold = 0.5)
    assert(state() === before, "replay must be a no-op on every artifact")
    assert(BucketedStateTable.snapshot(fs, s"$base/replica").map(_.batchId)
      === Some((batchSplits.size - 1).toLong))
  }

  test("the sink's zone map answers a doc_id band exactly after the run") {
    val base = fresh("zonemap")
    val d = driveBatch(base)
    val all = d.primary.readBack(spark)
    val (lo, hi) = (100L, 400L)
    val got = idSet(ZoneMap.prunedRead(spark, s"$base/out", "doc_id", lo, hi))
    val want = idSet(all.filter(col("doc_id").between(lo, hi)))
    assert(got === want && want.nonEmpty)
    // manifest is current: follow-up update is a no-op
    assert(ZoneMap.update(spark, s"$base/out", Seq("doc_id")) ===
      ZoneMap.UpdateDelta(0, 0))
  }
}
