package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.Manifests

/** The SHARED exactly-once bucketed-state-table protocol behind
  * [[IncrementalAgg]] (running aggregates) and [[ReplicaTable]] (CDC
  * last-writer-wins replica). A table is a BASE (`state/`, parquet
  * hash-bucketed by key) plus, for an idempotent merge, append-only
  * GENERATIONS (`gens/gen=<id>`, the bucket kept as a data column). One
  * crash-window analysis covers both write paths.
  *
  * [[fold]] — copy-on-write of the touched buckets, per-trigger cost
  * O(touched state). Each fold does its work once:
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
  * [[append]] — merge-on-read, per-trigger cost O(batch) plus an amortized
  * compaction. Only for a `reduce` that is associative, commutative and
  * idempotent (`reduce(x ∪ x) = reduce(x)`, e.g. a per-key max):
  *
  *  1. marker checked first, as above;
  *  2. the TAGGED delta — the batch's rows carrying [[BucketCol]], not
  *     reduced — is written as generation `gens/gen=<batchId>` by the
  *     scan's own tasks (one job: no shuffle, no aggregate), a dynamic
  *     partition overwrite of that one generation, so a replay rewrites
  *     its own generation (`DedupIndex.append`'s pattern); state version
  *     bumped;
  *  3. once [[MaxGenerations]] generations are listed, [[compact]] runs on
  *     the same trigger;
  *  4. marker written last.
  *
  * Readers merge base ∪ generations with the same `reduce`; because it is
  * idempotent, duplicate keys inside a generation change no result. A
  * compaction is [[fold]] (batch id -1: no marker, no guard) of
  * `reduce(listed generations)` into the base, then the deletion of
  * exactly the generations it listed. Its crash windows:
  *  - before the fold's write: nothing changed; the generations stay and
  *    the next compaction lists them again;
  *  - inside the fold's write (some buckets swapped), or between the write
  *    and the last generation delete: the base already holds the rows of
  *    generations that are still listed. Readers and the next compaction
  *    merge them in again, which changes nothing because the merge is
  *    idempotent — a read gives the same rows before and after the crash,
  *    and the next compaction converges;
  *  - between the compaction and the trigger's marker: the replay rewrites
  *    a generation whose rows the base already holds — a no-op again.
  *
  * The bound is a constant, not a knob: at 8, a read between triggers is
  * one base scan plus at most 7 batch-sized generation scans merged in one
  * shuffle, and each compaction's whole-table rewrite is spread over 8
  * triggers. Sums ([[IncrementalAgg]]) are not idempotent and stay on
  * [[fold]].
  *
  * Nothing is `persist()`ed on the state path, so the write's cache
  * refresh has nothing to relist.
  *
  * The residual window is a crash inside a single partition commit (the
  * file-move step of dynamic partition overwrite) — the same
  * no-transaction-log caveat [[graft.sources.Compaction]] states;
  * exactly-once dir swaps belong to a table format. Single-writer per
  * state path, like any foreachBatch sink. With `batchId < 0` a
  * generation takes the highest listed id + 1, so do not mix such calls
  * with engine batch ids on one table: a later batch id could overwrite
  * that generation. */
private[graft] object BucketedStateTable {

  val BucketCol = "__bucket"
  val AppliedCol = "__applied_batch"
  /** `<path>/_schema.ddl`: the delta's schema, written by the first
    * `schemaSidecar` [[fold]]. */
  val SchemaRecord = "_schema.ddl"
  private val GenCol = "gen"

  /** Listed generations at which [[append]] compacts (see above). */
  val MaxGenerations = 8

  def stateDir(path: String): String = s"$path/state"
  private def gensDir(path: String): String = s"$path/gens"

  /** In-process state-mutation counter per table path, bumped by every
    * write that changes what a reader sees (bucket rewrite, generation
    * append, compaction): the [[Manifests.manifestVersion]] counter under
    * kind `state`. Consumers that cache anything derived from the state
    * files ([[graft.plans.SummaryViews]]'s resolved scan plan) compare
    * versions instead of touching the filesystem — a pure-memory staleness
    * check, correct under the same single-writer-per-path-per-process
    * contract the writes assume. A writer in ANOTHER process does not bump
    * this (the cache consumer documents that). */
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

  /** The text of the table's `<path>/<name>` sidecar, if it exists. */
  def record(fs: FileSystem, path: String, name: String): Option[String] = {
    val p = new Path(s"$path/$name")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  def writeRecord(fs: FileSystem, path: String, name: String,
                  text: String): Unit = {
    val out = fs.create(new Path(s"$path/$name"), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Pin the table's bucket count: record it on the first fold (`_buckets`,
    * next to `_schema.ddl`), refuse a different one afterwards. [[bucketOf]]
    * depends on the count and a fold reads only the buckets its delta
    * touches, so folding with another count would leave a key's old row in
    * its old bucket next to the new one. A table from before the record
    * existed is checked against its bucket dirs. Driver-side file I/O
    * only — callers run it before building any Spark plan. */
  def pinBuckets(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    val fs = fsFor(spark, path)
    def refuse(state: String) = throw new IllegalArgumentException(
      s"state table $path $state; nBuckets=$nBuckets would put existing " +
        "keys in other buckets and duplicate them")
    record(fs, path, "_buckets").map(_.trim.toInt) match {
      case Some(recorded) =>
        if (recorded != nBuckets) refuse(s"was built with nBuckets=$recorded")
      case None =>
        val top = bucketDirs(fs, path).maxOption.getOrElse(-1)
        if (top >= nBuckets) refuse(s"holds bucket $top")
        writeRecord(fs, path, "_buckets", nBuckets.toString)
    }
  }

  /** Bucket ids with a dir under the state dir (one driver-side list). */
  private def bucketDirs(fs: FileSystem, path: String): Set[Int] =
    listed(fs, stateDir(path), BucketCol).map(_.toInt).toSet

  /** Generation ids under the generations dir, ascending (one driver-side
    * list). */
  def generations(fs: FileSystem, path: String): Seq[Long] =
    listed(fs, gensDir(path), GenCol).map(_.toLong).sorted

  /** Values `v` of the `<col>=v` dirs directly under `dir`. */
  private def listed(fs: FileSystem, dir: String, col: String): Seq[String] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$col=") =>
        n.stripPrefix(s"$col=") }.toSeq
  }

  /** The rows of the listed generations, as [[append]] wrote them. With
    * the deltas' `schema` the read skips parquet's schema-inference job;
    * without it, the schema is inferred from the files. */
  def readGenerations(spark: SparkSession, path: String, gens: Seq[Long],
                      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("basePath", gensDir(path))
    schema.fold(r)(r.schema)
      .parquet(gens.map(g => s"${gensDir(path)}/$GenCol=$g"): _*)
      .drop(GenCol)
  }

  /** Fold one bucketed delta into the persisted state table under the
    * copy-on-write protocol above.
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
    * answers reads with its schema ([[ReplicaTable.read]]).
    *
    * `stateIsDeltaShaped` declares that the base's files hold exactly the
    * delta's columns and types plus [[AppliedCol]], so the old slice is
    * read with that schema and no parquet schema-inference job runs
    * ([[IncrementalAgg]]'s decimal sums widen per fold, so it infers).
    * `mayEmpty = false` declares that the merge returns a row for every
    * key of its inputs, so no touched bucket can empty and the
    * emptied-bucket collect (step 6) is skipped. */
  def fold(spark: SparkSession, path: String, delta: DataFrame,
           batchId: Long, merge: (DataFrame, DataFrame) => DataFrame,
           schemaSidecar: Boolean = false, stateIsDeltaShaped: Boolean = false,
           mayEmpty: Boolean = true): Unit = {
    val fs = fsFor(spark, path)
    if (alreadyApplied(fs, path, batchId)) return
    val d = delta.localCheckpoint()
    try {
      val touched = bucketsOf(d)
      if (touched.isEmpty) { commit(fs, path, batchId); return }

      if (schemaSidecar && record(fs, path, SchemaRecord).isEmpty)
        writeRecord(fs, path, SchemaRecord, d.schema.toDDL)

      val sPath = stateDir(path)
      val existing = bucketDirs(fs, path)
      val dirs = touched.filter(existing).map(b => s"$sPath/$BucketCol=$b")
      val old =
        if (dirs.isEmpty) d.limit(0).withColumn(AppliedCol, lit(-1L))
        else CdcPipeline.withConfs(spark,
            Map(ListingThresholdKey -> dirs.length.toString)) {
          val r = spark.read.option("basePath", sPath)
          (if (stateIsDeltaShaped) r.schema(d.schema.add(AppliedCol, LongType))
           else r).parquet(dirs.toIndexedSeq: _*)
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
        val emptied =
          if (mayEmpty) touched.filterNot(bucketsOf(merged).toSet)
          else Array.empty[Int]
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

  /** Append one tagged delta as a generation under the merge-on-read
    * protocol above, compacting on the trigger that lists
    * [[MaxGenerations]]. `delta` carries [[BucketCol]] and every column
    * `reduce` reads, but is NOT reduced: readers and the compaction reduce
    * it, and `reduce` must be idempotent, so duplicate keys change no
    * result. Callers fold the first delta of a table into the base with
    * [[fold]]. */
  def append(spark: SparkSession, path: String, delta: DataFrame,
             batchId: Long, reduce: DataFrame => DataFrame): Unit = {
    val fs = fsFor(spark, path)
    if (alreadyApplied(fs, path, batchId)) return
    val id =
      if (batchId >= 0) batchId
      else generations(fs, path).lastOption.fold(0L)(_ + 1L)
    delta.withColumn(GenCol, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(GenCol)
      .parquet(gensDir(path))
    bumpVersion(path)
    if (generations(fs, path).length >= MaxGenerations)
      compact(spark, path, reduce, delta.schema)
    commit(fs, path, batchId)
  }

  /** Fold every listed generation into the base, then delete exactly those
    * generations (nothing to do without any). [[append]] calls it at the
    * bound; a writer about to bypass [[append]] calls it first. `schema`
    * is the tagged deltas' schema (what [[append]] writes, [[BucketCol]]
    * included): the generations are read with it by column name, the base
    * with its `reduce`d form, so the compaction runs no schema-inference
    * job. A per-key `reduce` over a non-empty group always yields a row,
    * so no bucket can empty and the emptied-bucket collect is skipped. */
  def compact(spark: SparkSession, path: String,
              reduce: DataFrame => DataFrame, schema: StructType): Unit = {
    val fs = fsFor(spark, path)
    val gens = generations(fs, path)
    if (gens.nonEmpty) {
      fold(spark, path,
        reduce(readGenerations(spark, path, gens, Some(schema))), -1L,
        merge = (old, d) => reduce(old.unionByName(d)),
        stateIsDeltaShaped = true, mayEmpty = false)
      gens.foreach(g =>
        fs.delete(new Path(s"${gensDir(path)}/$GenCol=$g"), true))
      bumpVersion(path)
    }
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
