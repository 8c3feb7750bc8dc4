package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DedupIndex
import graft.operators.Quality

/** The COMPOSED ingest pipeline — "one day of corpus ingest" as a single
  * per-micro-batch chain over operators that are each individually
  * verified elsewhere:
  *
  * {{{
  *   stream ─▶ quarantine fork ─▶ dedup-index gate ─▶ replica table
  *                   │                   │                 └▶ zone-mapped sink
  *                   ▼                   ▼
  *              dead-letter       index append (gen = batchId)
  * }}}
  *
  *  1. [[Quality.split]] forks malformed rows to the dead-letter
  *     destination (one bad row routes, never kills or pollutes the load);
  *  2. [[DedupIndex.newPairs]] flags batch docs near-duplicating any PRIOR
  *     generation or an earlier doc of the same batch; the gate drops a
  *     batch doc that matches stored history, and for batch-internal pairs
  *     keeps the smaller doc_id as the representative;
  *  3. survivors [[DedupIndex.append]] under `gen = batchId` (they are
  *     history for the next batch), fold into the [[ReplicaTable]]
  *     (versioned by batchId — a re-shipped doc_id converges to its newest
  *     text), and land in the primary destination (zone-map-maintaining
  *     when constructed with `zoneMapCols`).
  *
  * Every leg keys on batchId (DLQ/primary batch dirs, index generation,
  * the replica snapshot's batch id), so a replayed micro-batch converges
  * instead of double-appending — the chain inherits exactly-once
  * end-to-end from its parts. Per-batch cost is O(batch) plus the
  * replica's amortized compaction: the index is scanned never shuffled
  * (DedupIndex), the replica appends one generation (BucketedStateTable),
  * the sink appends one batch dir.
  * IngestDaySpec proves the streamed chain equals the same chain driven
  * batch-by-batch, and that a replayed batch changes nothing. */
object IngestDay {

  /** One micro-batch through the chain. All effects are persisted;
    * replay-idempotent per batchId. Batch-callable for tests and
    * backfills — the stream runner just binds it to foreachBatch. */
  def applyBatch(batch: DataFrame, batchId: Long, indexPath: String,
                 replicaPath: String, primary: Destination,
                 deadLetter: Destination, checks: Seq[Quality.Check],
                 threshold: Double = 0.5, idCol: String = "doc_id",
                 textCol: String = "text", nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    // 1. quarantine fork
    val (clean, dirty) = Quality.split(batch, checks)
    deadLetter.writeBatch(dirty, batchId)
    // 2. dedup gate — pairs involve at least one batch doc by contract;
    //    all joins are keyed on doc ids, drop set is candidate-sized
    val pairs = DedupIndex.newPairs(clean, indexPath, threshold,
        idCol = idCol, textCol = textCol)
      // the drop-set construction references the pair view three times;
      // materialize the (candidate-sized) pairs once instead of re-running
      // the signature pass + index join per branch
      .localCheckpoint()
    val ids = clean.select(col(idCol)).distinct()
    val aInBatch = pairs.join(ids.withColumnRenamed(idCol, "doc_a"),
      Seq("doc_a"), "left_semi")
    val aStored = pairs.join(ids.withColumnRenamed(idCol, "doc_a"),
      Seq("doc_a"), "left_anti")
    val bIds = ids.withColumnRenamed(idCol, "doc_b")
    val drops =
      // stored a ⇒ b is the batch doc: near-dup of history, drop it
      aStored.select(col("doc_b").as(idCol))
        // both in batch ⇒ keep the smaller id as representative
        .unionByName(aInBatch.join(bIds, Seq("doc_b"), "left_semi")
          .select(col("doc_b").as(idCol)))
        // a in batch, b stored ⇒ a is the near-dup, drop it
        .unionByName(aInBatch.join(bIds, Seq("doc_b"), "left_anti")
          .select(col("doc_a").as(idCol)))
        .distinct()
    val survivors = clean.join(drops, Seq(idCol), "left_anti")
      .localCheckpoint() // three consumers below; cut the newPairs lineage
    // 3a. survivors become history for the next batch
    DedupIndex.append(survivors, indexPath, idCol, textCol, gen = batchId)
    // 3b. queryable current state, newest shipment of a doc_id wins
    ReplicaTable.applyBatch(spark, replicaPath,
      survivors.withColumn("__ver", lit(batchId)),
      keyCols = Seq(idCol), versionCols = Seq("__ver"),
      deleteWhen = lit(false), nBuckets = nBuckets, batchId = batchId)
    // 3c. the raw landing zone (zone-mapped when the destination is)
    primary.writeBatch(survivors.drop("__ver"), batchId)
  }

  /** Bind the chain to a stream; caller sets checkpoint/trigger and
    * starts the returned writer. */
  def run(stream: DataFrame, indexPath: String, replicaPath: String,
          primary: Destination, deadLetter: Destination,
          checks: Seq[Quality.Check], threshold: Double = 0.5,
          idCol: String = "doc_id", textCol: String = "text",
          nBuckets: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, indexPath, replicaPath, primary,
        deadLetter, checks, threshold, idCol, textCol, nBuckets)
    }
}
