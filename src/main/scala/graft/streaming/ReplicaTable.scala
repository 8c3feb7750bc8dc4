package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted CDC REPLICA maintenance — "apply the change stream to a
  * table": each key's row in the parquet state reflects its LATEST
  * upstream version, and a key whose newest operation is delete-class is
  * ABSENT. This is the durable sibling of [[Materializer]] (whose state
  * lives in the streaming state store and whose output is a changelog):
  * here the replica itself is the artifact — a queryable parquet table
  * any engine can scan — which is what "sync Mongo to the lake" means in
  * practice, and the one thing the reference's file sink leaves to its
  * downstream consumers (rigatoni dumps event FILES; consumers must
  * re-derive current state per query).
  *
  * Same state layout as [[IncrementalAgg]] — both ride the shared
  * [[BucketedStateTable]] — with different merge semantics: hash-bucketed
  * parquet keyed by `keyCols`. A key's row is its newest version (one
  * keyed aggregate — ties and ordering decided by `versionCols`, compared
  * lexicographically as a struct). That per-key max is idempotent, so
  * with retained tombstones (the default) the replica is merge-on-read: a
  * batch only APPENDS its raw rows, tagged with the tombstone flag and
  * the bucket, as a generation ([[BucketedStateTable.append]]) — one
  * scan-side write job per trigger, no shuffle, no aggregate, no read of
  * the base — and every [[BucketedStateTable.MaxGenerations]]th trigger
  * compacts the generations into the buckets, reducing them with the
  * buckets' rows in one pass, an amortized whole-table rewrite. [[read]] takes the same per-key max
  * over base ∪ generations, last-writer-wins across restarts and
  * out-of-order batches. The first fold, and every `tombstones = false`
  * fold, reduces the batch and folds it copy-on-write instead (reads ONLY
  * the touched buckets, writes their replacements and commits them in
  * one snapshot; `tombstones = false` also drops delete-winners, because
  * its promise is that no delete marker is left behind); it compacts any
  * pending generations first. Exactly-once via [[BucketedStateTable]]'s
  * snapshot: one atomic commit per fold, append or compaction, which
  * records the batch id a replay is skipped under and names the pending
  * generations.
  *
  * A delete arriving BEFORE its insert (out-of-order feed) wins if its
  * version is newer — the tombstone persists as absence only when the
  * winning version is the delete; an older delete cannot resurrect or
  * suppress a newer row, matching [[Materializer]]'s tombstone rule. The
  * one divergence from an infinite-retention changelog: a tombstoned
  * key's absence carries no version, so a LATE row older than the delete
  * would re-insert if it arrives in a later batch after the delete's
  * batch already landed. Closing that needs retained tombstones, which
  * `tombstones = true` keeps as hidden rows. */
object ReplicaTable {

  private val TombstoneCol = "__tombstone"

  /** Fold one batch of CDC rows into the replica.
    *
    * `deleteWhen` marks delete-class rows; `versionCols` order versions
    * (newest wins; make the tuple total, e.g. event time + event id).
    * `tombstones = true` retains delete markers (hidden from [[read]])
    * so late rows older than a delete stay dead across batches. Key and
    * version columns, like `nBuckets`, are pinned by the first fold. */
  def applyBatch(spark: SparkSession, path: String, batch: DataFrame,
                 keyCols: Seq[String], versionCols: Seq[String],
                 deleteWhen: Column, nBuckets: Int = 64,
                 batchId: Long = -1L, tombstones: Boolean = true): Unit = {
    require(keyCols.nonEmpty && versionCols.nonEmpty,
      "applyBatch needs key and version columns")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val layout = BucketedStateTable.Layout(nBuckets, keyCols, versionCols)
    val snap = BucketedStateTable.pin(spark, path, layout)
    val latest = reduceLatest(keyCols, versionCols) _
    val tagged = batch.withColumn(TombstoneCol, deleteWhen)
      .withColumn(BucketedStateTable.BucketCol,
        BucketedStateTable.bucketOf(keyCols, nBuckets))
    snap match {
      // the generation holds the batch's rows unreduced: compaction and
      // read reduce them anyway, so the scan's own tasks write it, no
      // shuffle
      case Some(s) if tombstones =>
        BucketedStateTable.append(spark, path, s, tagged, batchId, latest)
      case _ =>
        // the direct fold merges into the base alone: pending generations
        // go in first
        BucketedStateTable.fold(spark, path,
          snap.map(BucketedStateTable.compact(spark, path, _, latest)),
          latest(tagged), batchId,
          merge = (old, dlt) => {
            val m = latest(old.unionByName(dlt))
            // drop delete-winners unless tombstones are retained (only the
            // tombstones=false path can empty a bucket)
            if (tombstones) m else m.filter(!col(TombstoneCol))
          },
          layout)
    }
  }

  /** Newest row per key: one keyed max over struct(version...,
    * payload...) — struct ordering is lexicographic on the version
    * prefix, so the payload tail never decides a winner between distinct
    * versions. The bucket rides as a group key (it is a function of the
    * key columns), never in the payload struct. Associative, commutative
    * and idempotent — what [[BucketedStateTable.append]] needs. */
  private def reduceLatest(keyCols: Seq[String], versionCols: Seq[String])
                          (df: DataFrame): DataFrame = {
    val groupCols = keyCols :+ BucketedStateTable.BucketCol
    val payload = df.columns.filterNot(c =>
      groupCols.contains(c) || versionCols.contains(c))
    df.groupBy(groupCols.map(col): _*)
      .agg(max(struct((versionCols ++ payload).map(col): _*)).as("__row"))
      .select(groupCols.map(col) :+ col("__row.*"): _*)
  }

  /** The current replica (tombstoned keys absent, bookkeeping dropped):
    * the per-key newest row of base ∪ the generations the snapshot names,
    * or the base alone when it names none. Never writes. Base and
    * generations are read with the schema the snapshot records, by the
    * key and version columns it records, so a read runs no listing or
    * schema-inference job; an all-deleted replica reads as an empty frame
    * with that schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val snap = BucketedStateTable.current(spark, path)
    val base = BucketedStateTable.scan(spark, path, snap)
    val rows =
      if (snap.generations.isEmpty) base
      else reduceLatest(snap.layout.keyCols, snap.layout.versionCols)(
        base.unionByName(
          BucketedStateTable.readGenerations(spark, path, snap)))
    rows.filter(!col(TombstoneCol))
      .drop(TombstoneCol, BucketedStateTable.BucketCol)
  }
}
