package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Manifests

/** The SHARED exactly-once bucketed-state-table protocol behind
  * [[IncrementalAgg]] (running aggregates) and [[ReplicaTable]] (CDC
  * last-writer-wins replica) — one implementation of the fold skeleton
  * both previously hand-rolled, so there is exactly one crash-window
  * analysis to maintain:
  *
  *  1. `_applied/batch-<id>` marker checked FIRST — a fully-committed
  *     replay returns without touching state;
  *  2. the delta's touched buckets collect (tiny — bucket ids, not rows);
  *  3. ONLY those buckets read back (partition pruning on `__bucket=`);
  *  4. per-bucket `__applied_batch` guard — buckets whose state already
  *     records this batchId were swapped before a crash ate the marker;
  *     their deltas are EXCLUDED (re-applying would corrupt non-idempotent
  *     merges like sums) and only the pending remainder re-applies;
  *  5. caller's merge over (old slice, delta slice);
  *  6. dynamic partition overwrite of exactly the pending buckets, then
  *     explicit deletion of buckets the merge EMPTIED (dynamic overwrite
  *     writes nothing for an absent partition and would silently keep its
  *     stale rows);
  *  7. marker written LAST.
  *
  * The residual window is a crash inside a single bucket-partition commit
  * (the file-move step of dynamic partition overwrite) — the same
  * no-transaction-log caveat [[graft.sources.Compaction]] states;
  * exactly-once dir swaps belong to a table format. Single-writer per
  * state path, like any foreachBatch sink.
  *
  * [[graft.functions.DedupIndex]].append deliberately does NOT ride this
  * protocol: its generations are append-only and partitioned BY the
  * batch id itself (`gen=<batchId>`), so the dynamic partition overwrite
  * IS the idempotence — there is no merge with prior state, hence no
  * marker and no crash window beyond the partition swap. */
private[graft] object BucketedStateTable {

  val BucketCol = "__bucket"
  val AppliedCol = "__applied_batch"

  def stateDir(path: String): String = s"$path/state"

  /** In-process state-mutation counter per table path, bumped by every
    * [[fold]] that actually rewrites buckets. Consumers that cache anything
    * derived from the state files ([[graft.plans.SummaryViews]]'s resolved
    * scan plan) compare versions instead of touching the filesystem — a
    * pure-memory staleness check, correct under the same single-writer-per-
    * path-per-process contract fold itself assumes. A writer in ANOTHER
    * process does not bump this (the cache consumer documents that).
    * Keyed by [[Manifests.normPath]], so every spelling of a path agrees. */
  private val versions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def stateVersion(path: String): Long =
    Option(versions.get(Manifests.normPath(path))).fold(0L)(_.longValue)

  private def bumpVersion(path: String): Unit =
    versions.merge(Manifests.normPath(path), java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))

  private def marker(path: String, batchId: Long) =
    new Path(s"$path/_applied/batch-$batchId")

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `pmod(xxhash64(keys), nBuckets)` — the bucket a key row lives in. */
  def bucketOf(keyCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  def alreadyApplied(fs: FileSystem, path: String, batchId: Long): Boolean =
    batchId >= 0 && fs.exists(marker(path, batchId))

  def commit(fs: FileSystem, path: String, batchId: Long): Unit =
    if (batchId >= 0) { fs.create(marker(path, batchId), true).close() }

  /** "State exists" = at least one bucket dir: a fully-emptied table
    * leaves stateDir with only _SUCCESS, which parquet cannot infer a
    * schema from. */
  def hasState(fs: FileSystem, path: String): Boolean = {
    val s = new Path(stateDir(path))
    fs.exists(s) && fs.listStatus(s).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$BucketCol="))
  }

  /** Fold one bucketed delta into the persisted state table under the
    * protocol above.
    *
    * `delta` must already carry [[BucketCol]] (use [[bucketOf]]) and be
    * reduced to whatever per-key shape the merge expects. `merge(oldSlice,
    * deltaSlice)` sees only caller columns plus [[BucketCol]] (bookkeeping
    * stripped) and returns the buckets' full replacement rows, still
    * carrying [[BucketCol]]; rows it drops disappear from state (emptied
    * buckets are cleared). `schemaSidecar` writes a one-time `_schema.ddl`
    * next to the state so an emptied table still answers reads with its
    * schema ([[ReplicaTable.read]]). */
  def fold(spark: SparkSession, path: String, delta: DataFrame,
           batchId: Long, merge: (DataFrame, DataFrame) => DataFrame,
           schemaSidecar: Boolean = false): Unit = {
    val fs = fsFor(spark, path)
    if (alreadyApplied(fs, path, batchId)) return
    val touched = delta.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { commit(fs, path, batchId); return }

    if (schemaSidecar) {
      val schemaPath = new Path(s"$path/_schema.ddl")
      if (!fs.exists(schemaPath)) {
        val out = fs.create(schemaPath, true)
        out.write(delta.schema.toDDL.getBytes("UTF-8"))
        out.close()
      }
    }

    val sPath = stateDir(path)
    val stateExists = hasState(fs, path)
    // the touched slice is read by BOTH the crash guard and the merge —
    // cache it so the bucket files are scanned once per fold, not twice
    val old =
      if (!stateExists) delta.limit(0).withColumn(AppliedCol, lit(-1L))
      else spark.read.parquet(sPath)
        .filter(col(BucketCol).isin(touched.map(Int.box): _*))
        .persist()
    try {
      // the crash-window guard: buckets whose state already records this
      // batchId were swapped before a crash ate the marker. One tiny
      // collect over the touched buckets' per-bucket applied ids (every
      // row in a bucket carries the id of the overwrite that wrote it).
      val applied: Set[Int] =
        if (batchId < 0 || !stateExists) Set.empty
        else old.groupBy(col(BucketCol))
          .agg(max(col(AppliedCol)).as("__b"))
          .filter(col("__b") === batchId)
          .select(BucketCol).collect().map(_.getInt(0)).toSet
      val pending = touched.filterNot(applied)
      if (pending.isEmpty) {
        // every touched bucket was swapped by a CRASHED attempt that never
        // reached its own bumpVersion — the files changed, so consumers'
        // version-stamped caches are stale. Bump before committing.
        if (applied.nonEmpty) bumpVersion(path)
        commit(fs, path, batchId)
        return
      }
      val pBox = pending.map(Int.box)

      val merged = merge(
          old.filter(col(BucketCol).isin(pBox: _*)).drop(AppliedCol),
          delta.filter(col(BucketCol).isin(pBox: _*)))
        .withColumn(AppliedCol, lit(batchId))
        // cut lineage from the files the write below replaces — Spark
        // refuses (and must refuse) a write whose plan still READS the
        // overwritten partitions; localCheckpoint is EAGER, so the cached
        // slice is fully consumed once this line returns
        .localCheckpoint()
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .parquet(sPath)
      // bump IMMEDIATELY after the write lands: if the delete loop or the
      // commit below throws, the state files have already changed and a
      // retry takes the replay guard's pending-empty path — without this
      // bump, version-stamped plan caches would keep listing the replaced
      // files (FileNotFound / stale rows)
      bumpVersion(path)
      // dynamic overwrite replaces only partitions PRESENT in the written
      // frame — a pending bucket whose every row the merge dropped writes
      // nothing and would silently keep its stale rows. Clear it.
      val keptBuckets = merged.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      val emptied = pending.filterNot(keptBuckets)
      emptied.foreach { b =>
        fs.delete(new Path(s"$sPath/$BucketCol=$b"), true)
      }
      // deletes changed the listing again; re-bump so a plan resolved in the
      // window between the first bump and the deletes cannot stay current
      if (emptied.nonEmpty) bumpVersion(path)
      commit(fs, path, batchId)
    } finally old.unpersist(blocking = false)
  }
}
