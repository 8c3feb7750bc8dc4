package graft.streaming

import org.apache.hadoop.fs.Path
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
  * Same state layout and batch protocol as [[IncrementalAgg]] — both ride
  * the shared [[BucketedStateTable]] fold — with different merge
  * semantics: hash-bucketed parquet keyed by `keyCols`, each batch
  *   1. reduces to its newest row per key (one keyed aggregate — ties and
  *      ordering decided by `versionCols`, compared lexicographically as
  *      a struct);
  *   2. reads ONLY the touched buckets, keeps the per-key max of
  *      (old row, batch row) — last-writer-wins across restarts and
  *      out-of-order batches;
  *   3. drops keys whose winning row is delete-class, and dynamically
  *      overwrites exactly the touched buckets.
  * Exactly-once via [[BucketedStateTable]]'s marker + per-bucket
  * applied-batch guard (for THIS merge the guard is belt-and-braces —
  * max-merge is idempotent, replaying onto an already-swapped bucket
  * re-derives the same rows). Per-trigger cost O(touched state).
  *
  * A delete arriving BEFORE its insert (out-of-order feed) wins if its
  * version is newer — the tombstone persists as absence only when the
  * winning version is the delete; an older delete cannot resurrect or
  * suppress a newer row, matching [[Materializer]]'s tombstone rule. The
  * one divergence from an infinite-retention changelog: a tombstoned
  * key's absence carries no version, so a LATE row older than the delete
  * would re-insert if it arrives in a later batch after the delete's
  * batch already landed. Closing that needs retained tombstones;
  * `tombstoneRetention` keeps delete markers as hidden rows for exactly
  * that window (0 = drop immediately, the compact default). */
object ReplicaTable {

  private val TombstoneCol = "__tombstone"

  /** Fold one batch of CDC rows into the replica.
    *
    * `deleteWhen` marks delete-class rows; `versionCols` order versions
    * (newest wins; make the tuple total, e.g. event time + event id).
    * `tombstones = true` retains delete markers (hidden from [[read]])
    * so late rows older than a delete stay dead across batches. */
  def applyBatch(spark: SparkSession, path: String, batch: DataFrame,
                 keyCols: Seq[String], versionCols: Seq[String],
                 deleteWhen: Column, nBuckets: Int = 64,
                 batchId: Long = -1L, tombstones: Boolean = true): Unit = {
    require(keyCols.nonEmpty && versionCols.nonEmpty,
      "applyBatch needs key and version columns")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    BucketedStateTable.pinBuckets(spark, path, nBuckets)
    val bucketCol = BucketedStateTable.BucketCol
    val tagged = batch.withColumn(TombstoneCol, deleteWhen)
    val dataCols = tagged.columns.filterNot(keyCols.contains)
    // newest row per key within the batch: one keyed max over
    // struct(version..., payload...) — struct ordering is lexicographic
    // on the version prefix, so the payload tail never decides a winner
    // between distinct versions. The bucket rides as a group key (it is
    // a function of the key columns), never in the payload struct.
    def reduceLatest(df: DataFrame): DataFrame =
      df.groupBy((keyCols :+ bucketCol).map(col): _*)
        .agg(max(struct((versionCols ++
          dataCols.filterNot(versionCols.contains)).map(col): _*))
          .as("__row"))
        .select((keyCols :+ bucketCol).map(col) :+ col("__row.*"): _*)
    val d = reduceLatest(tagged.withColumn(bucketCol,
      BucketedStateTable.bucketOf(keyCols, nBuckets)))
    // schema sidecar: the replica can legitimately become EMPTY (every
    // key deleted), and a parquet dir with no data files cannot answer
    // "what is the table's schema" on read — fold writes the DDL once
    BucketedStateTable.fold(spark, path, d, batchId,
      merge = (old, dlt) => {
        val m = reduceLatest(old.unionByName(dlt))
        // drop delete-winners unless tombstones are retained (only the
        // tombstones=false path can empty a bucket; fold clears it)
        if (tombstones) m else m.filter(!col(TombstoneCol))
      },
      schemaSidecar = true)
  }

  /** The current replica (tombstoned keys absent, bookkeeping dropped).
    * An all-deleted replica reads as an empty frame with the table's
    * schema (from the `_schema` sidecar), not an error. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = BucketedStateTable.fsFor(spark, path)
    val base =
      if (BucketedStateTable.hasState(fs, path))
        spark.read.parquet(BucketedStateTable.stateDir(path))
      else {
        val in = fs.open(new Path(s"$path/_schema.ddl"))
        val ddl = new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        in.close()
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
      }
    base.filter(!col(TombstoneCol)).drop(TombstoneCol,
      BucketedStateTable.BucketCol, BucketedStateTable.AppliedCol)
  }
}
