package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-AGGREGATE maintenance — the classic
  * incremental-view-maintenance move on Spark primitives: a persisted
  * keyed aggregate table (counts/sums per key) is kept current by folding
  * in each micro-batch's DELTAS, never by re-aggregating history. Where
  * [[Materializer]] maintains each key's latest ROW, this maintains each
  * key's running AGGREGATE: insert contributes `+v`, an update with a
  * pre-image contributes `v_new − v_old`, a delete `−v_old` — whatever
  * the caller encodes into the delta frame's additive columns.
  *
  * State layout and the 100 TB shape: the aggregate table persists as
  * parquet hash-bucketed by `pmod(xxhash64(key), nBuckets)`. Each
  * `applyDelta`:
  *   1. pre-aggregates the batch to one row per key (map-side combined —
  *      the shuffle carries keys, not events);
  *   2. reads ONLY the buckets the batch touches (the snapshot's files
  *      of those buckets — a batch touching 3 of 1024 buckets reads 3);
  *   3. re-sums old + delta, writes those buckets' replacements and
  *      commits them in one atomic snapshot.
  * Per-trigger cost is therefore O(touched state), not O(total state) and
  * not O(history). Size `nBuckets` so one bucket's state fits a task
  * comfortably; more buckets = finer pruning and smaller rewrites.
  *
  * Exactly-once under foreachBatch's at-least-once contract via the
  * shared [[BucketedStateTable]] protocol: a fold lands by one atomic
  * snapshot commit whose batch id is a high-water mark — a replay after a
  * crash either finds the old snapshot (and applies the batch once) or
  * one at or past its batch (and applies nothing). Sums are NOT
  * idempotent, so that commit is what keeps a replay from double-counting.
  * See [[BucketedStateTable]] for the crash windows. Unlike
  * [[ReplicaTable]] this stays copy-on-write, with no generations:
  * [[graft.plans.SummaryViews]] scans the base alone. */
object IncrementalAgg {

  /** Fold one batch of deltas into the persisted aggregate.
    *
    * `delta`: any frame holding `keyCols` plus ADDITIVE `sumCols`
    * (already-signed contributions) and optional `minCols`/`maxCols`
    * (per-key extrema candidates, merged by re-min/re-max). `batchId >=
    * 0` makes a replay of that batch, or of any earlier one, a no-op;
    * pass -1 for batch use.
    *
    * Extrema columns are exact only for APPEND-ONLY feeds: a sum can
    * absorb a delete as `−v`, but a min cannot un-see a retracted value
    * (the classic non-invertible-aggregate limit of IVM). Register
    * min/max columns only where the maintaining pipeline never deletes
    * or shrinks values.
    *
    * Decimal sum columns: Spark's `SUM` widens `decimal(p,s)` to
    * `decimal(p+10,s)` per aggregation, so an un-widened decimal delta
    * would write a DIFFERENT decimal type each fold (mixed-schema bucket
    * files). Pre-cast decimal deltas to precision >= 28 — every fold then
    * lands on the stable `decimal(38,s)` cap. (Min/max never widen.) */
  def applyDelta(spark: SparkSession, path: String, delta: DataFrame,
                 keyCols: Seq[String], sumCols: Seq[String],
                 nBuckets: Int = 64, batchId: Long = -1L,
                 minCols: Seq[String] = Nil,
                 maxCols: Seq[String] = Nil,
                 // when set, the fold SELF-DESCRIBES: registers this view
                 // and merge-writes `_graft_catalog.json` beside the BASE
                 // table so a fresh session's plain GROUP BY rewrites onto
                 // this summary with zero setup (idempotent: skipped while
                 // an identical registration is already in memory)
                 describeView: Option[graft.plans.SummaryViews.View] = None)
      : Unit = {
    require(keyCols.nonEmpty &&
      (sumCols.nonEmpty || minCols.nonEmpty || maxCols.nonEmpty),
      "applyDelta needs key columns and at least one aggregate column")
    require((sumCols ++ minCols ++ maxCols).distinct.length ==
      sumCols.length + minCols.length + maxCols.length,
      "sum/min/max columns must be distinct state columns (stage a copy " +
        "of the source column per role)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val layout = BucketedStateTable.Layout(nBuckets)
    val snap = BucketedStateTable.pin(spark, path, layout)
    def reAgg(df: DataFrame): DataFrame = {
      val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
        minCols.map(c => min(col(c)).as(c)) ++
        maxCols.map(c => max(col(c)).as(c))
      df.groupBy((keyCols :+ BucketedStateTable.BucketCol).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    val d = reAgg(delta.withColumn(BucketedStateTable.BucketCol,
      BucketedStateTable.bucketOf(keyCols, nBuckets)))
    BucketedStateTable.fold(spark, path, snap, d, batchId,
      merge = (old, dlt) => reAgg(old.unionByName(dlt)), layout)
    // after the fold: the catalog only ever points at state that exists.
    // A failed catalog write must NOT fail the fold (the state already
    // landed; the sink would otherwise crash a streaming batch over an
    // optional metadata file) — refuse loudly, retry on the next fold.
    describeView.foreach { v =>
      if (!graft.plans.SummaryViews.viewsFor(v.basePath).contains(v)) {
        graft.plans.SummaryViews.register(v)
        try graft.plans.GraftCatalog.save(spark, v.basePath)
        catch { case e: Exception =>
          graft.plans.BloomJoins.refused(v.basePath, "self-describe", e)
          // drop the registration so the NEXT fold retries the save (the
          // in-memory view alone would mask the missing catalog forever)
          graft.plans.SummaryViews.unregister(v.basePath, v.statePath)
        }
      }
    }
  }

  /** The current aggregate table (bookkeeping columns dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    BucketedStateTable.base(spark, path).drop(BucketedStateTable.BucketCol)
}
