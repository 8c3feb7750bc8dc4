package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.sources.Manifests

/** The SHARED exactly-once bucketed-state-table protocol behind
  * [[IncrementalAgg]] (running aggregates) and [[ReplicaTable]] (CDC
  * last-writer-wins replica) — one implementation of the fold skeleton
  * both previously hand-rolled, so there is exactly one crash-window
  * analysis to maintain. Each fold does its work once:
  *
  *  1. `_applied/batch-<id>` marker checked FIRST — a fully-committed
  *     replay returns without touching state;
  *  2. the caller's reduced delta is materialized ONCE (`localCheckpoint`)
  *     — the touched-bucket collect and the merge both read that copy, so
  *     the batch's source plan runs once per fold;
  *  3. ONLY the touched bucket dirs are read back, listed on the driver
  *     (`basePath` = the state dir, parallel-listing threshold raised for
  *     that one read) — no listing job, whatever the bucket count;
  *  4. the per-bucket `__applied_batch` guard runs IN the merge plan: a
  *     `left_anti` join drops the delta rows of buckets whose state
  *     already records this batchId (swapped before a crash ate the
  *     marker — re-applying would corrupt non-idempotent merges like
  *     sums). Those buckets are rewritten from their own rows, which is
  *     the identity for both merges (a per-key max / re-sum over rows
  *     already reduced to one per key);
  *  5. caller's merge over (old slice, guarded delta), clustered by
  *     bucket into `min(touched, shuffle partitions)` tasks and
  *     checkpointed — each write task writes whole buckets, one file per
  *     bucket, in parallel;
  *  6. dynamic partition overwrite of the touched buckets, state version
  *     bumped, then explicit deletion of buckets the merge EMPTIED
  *     (dynamic overwrite writes nothing for an absent partition and would
  *     silently keep its stale rows);
  *  7. marker written LAST;
  *  8. both materializations (delta and merged) released when the fold
  *     returns, on every path.
  *
  * Nothing is `persist()`ed on the state path, so the write's cache
  * refresh has nothing to relist.
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
    * [[fold]] that actually rewrites buckets: the
    * [[Manifests.manifestVersion]] counter under kind `state`. Consumers
    * that cache anything derived from the state files
    * ([[graft.plans.SummaryViews]]'s resolved scan plan) compare versions
    * instead of touching the filesystem — a pure-memory staleness check,
    * correct under the same single-writer-per-path-per-process contract
    * fold itself assumes. A writer in ANOTHER process does not bump this
    * (the cache consumer documents that). */
  def stateVersion(path: String): Long =
    Manifests.manifestVersion(path, "state")

  private def bumpVersion(path: String): Unit =
    Manifests.bumpManifestVersion(path, "state")

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
  def hasState(fs: FileSystem, path: String): Boolean =
    bucketDirs(fs, path).nonEmpty

  /** Pin the table's bucket count: record it on the first fold (`_buckets`,
    * next to `_schema.ddl`), refuse a different one afterwards. [[bucketOf]]
    * depends on the count and a fold reads only the buckets its delta
    * touches, so folding with another count would leave a key's old row in
    * its old bucket next to the new one. A table from before the record
    * existed is checked against its bucket dirs. Driver-side file I/O
    * only — callers run it before building any Spark plan. */
  def pinBuckets(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    val fs = fsFor(spark, path)
    val rec = new Path(s"$path/_buckets")
    def refuse(state: String) = throw new IllegalArgumentException(
      s"state table $path $state; nBuckets=$nBuckets would put existing " +
        "keys in other buckets and duplicate them")
    if (fs.exists(rec)) {
      val in = fs.open(rec)
      val recorded =
        try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
      if (recorded != nBuckets) refuse(s"was built with nBuckets=$recorded")
    } else {
      val top = bucketDirs(fs, path).maxOption.getOrElse(-1)
      if (top >= nBuckets) refuse(s"holds bucket $top")
      val out = fs.create(rec, true)
      try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Bucket ids with a dir under the state dir (one driver-side list). */
  private def bucketDirs(fs: FileSystem, path: String): Set[Int] = {
    val s = new Path(stateDir(path))
    if (!fs.exists(s)) Set.empty
    else fs.listStatus(s).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$BucketCol=") =>
        n.stripPrefix(s"$BucketCol=").toInt }.toSet
  }

  /** Fold one bucketed delta into the persisted state table under the
    * protocol above.
    *
    * `delta` must already carry [[BucketCol]] (use [[bucketOf]]) and be
    * reduced to whatever per-key shape the merge expects. `merge(oldSlice,
    * deltaSlice)` sees only caller columns plus [[BucketCol]] (bookkeeping
    * stripped) and returns the buckets' full replacement rows, still
    * carrying [[BucketCol]]; rows it drops disappear from state (emptied
    * buckets are cleared). Over an old slice and an EMPTY delta slice the
    * merge must return the old slice's rows unchanged (step 4). Callers
    * pin the bucket count first ([[pinBuckets]]). `schemaSidecar` writes a
    * one-time `_schema.ddl` next to the state so an emptied table still
    * answers reads with its schema ([[ReplicaTable.read]]). */
  def fold(spark: SparkSession, path: String, delta: DataFrame,
           batchId: Long, merge: (DataFrame, DataFrame) => DataFrame,
           schemaSidecar: Boolean = false): Unit = {
    val fs = fsFor(spark, path)
    if (alreadyApplied(fs, path, batchId)) return
    val d = delta.localCheckpoint()
    try {
      val touched = bucketsOf(d)
      if (touched.isEmpty) { commit(fs, path, batchId); return }

      if (schemaSidecar) {
        val schemaPath = new Path(s"$path/_schema.ddl")
        if (!fs.exists(schemaPath)) {
          val out = fs.create(schemaPath, true)
          out.write(d.schema.toDDL.getBytes("UTF-8"))
          out.close()
        }
      }

      val sPath = stateDir(path)
      val existing = bucketDirs(fs, path)
      val dirs = touched.filter(existing).map(b => s"$sPath/$BucketCol=$b")
      val old =
        if (dirs.isEmpty) d.limit(0).withColumn(AppliedCol, lit(-1L))
        else CdcPipeline.withConfs(spark,
            Map(ListingThresholdKey -> dirs.length.toString)) {
          spark.read.option("basePath", sPath).parquet(dirs.toIndexedSeq: _*)
        }
      // the crash-window guard, in-plan: buckets whose state already
      // records this batchId were swapped by an attempt that crashed
      // before its marker — their delta rows must not apply again
      val pending =
        if (batchId < 0 || dirs.isEmpty) d
        else d.join(
          old.filter(col(AppliedCol) === batchId)
            .select(col(BucketCol).as("__swapped")),
          col(BucketCol) === col("__swapped"), "left_anti")
      val parts = math.min(touched.length,
        spark.conf.get(ShufflePartitionsKey).toInt)
      val merged = merge(old.drop(AppliedCol), pending)
        .withColumn(AppliedCol, lit(batchId))
        // whole buckets per task: the write emits one file per bucket,
        // bucket-parallel instead of one task writing every partition
        .repartition(parts, col(BucketCol))
        // cut lineage from the files the write below replaces — Spark
        // refuses (and must refuse) a write whose plan still READS the
        // overwritten partitions; localCheckpoint is EAGER
        .localCheckpoint()
      try {
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol)
          .parquet(sPath)
        // bump IMMEDIATELY after the write lands: if the delete loop or the
        // commit below throws, the state files have already changed —
        // without this bump, version-stamped plan caches would keep listing
        // the replaced files (FileNotFound / stale rows)
        bumpVersion(path)
        // dynamic overwrite replaces only partitions PRESENT in the written
        // frame — a touched bucket whose every row the merge dropped writes
        // nothing and would silently keep its stale rows. Clear it.
        val emptied = touched.filterNot(bucketsOf(merged).toSet)
        emptied.foreach { b =>
          fs.delete(new Path(s"$sPath/$BucketCol=$b"), true)
        }
        // deletes changed the listing again; re-bump so a plan resolved in
        // the window between the first bump and the deletes cannot stay
        // current
        if (emptied.nonEmpty) bumpVersion(path)
        commit(fs, path, batchId)
      } finally release(merged)
    } finally release(d)
  }

  private val ListingThresholdKey =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"

  /** The distinct buckets of a checkpointed frame, sorted: one job, one
    * stage — each task returns its partition's set, no shuffle. */
  private def bucketsOf(df: DataFrame): Array[Int] = {
    val i = df.schema.fieldIndex(BucketCol)
    df.queryExecution.toRdd
      .mapPartitions(rows => rows.map(_.getInt(i)).toSet.iterator)
      .collect().distinct.sorted
  }

  /** Drop the blocks behind a `localCheckpoint`ed frame. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
}
