package graft.streaming

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.sources.Manifests

/** The SHARED exactly-once bucketed-state-table protocol behind
  * [[IncrementalAgg]] (running aggregates) and [[ReplicaTable]] (CDC
  * last-writer-wins replica). A table is a BASE (`state/__bucket=<b>/`,
  * parquet hash-bucketed by key) plus, for an idempotent merge, pending
  * GENERATIONS (`gens/gen=<id>`, the bucket kept as a data column).
  *
  * One JSON `<path>/_snapshot` is the table's only commit record: the
  * highest batch id committed, the [[Layout]] the table was built with,
  * the state schema, each bucket's live files (paths relative to the
  * table path, so a copied table reads the same) and the ids of the
  * pending generations. Readers scan exactly what it names ([[scan]],
  * [[readGenerations]]) — no listing job, no schema inference, and a file
  * or generation dir it does not name is never read. A commit replaces
  * the snapshot atomically ([[Manifests.replaceAtomically]]), so a fold,
  * an append or a compaction lands whole or not at all.
  *
  * Replay rule (that of Spark's `FileStreamSink`): the snapshot's batch id
  * is a high-water mark — a commit records `max(previous, batchId)` — so
  * [[fold]] and [[append]] of a batch with `0 <= batchId <= snapshot's`
  * return at once, only bumping the state version. A negative batch id
  * (batch callers) always applies.
  *
  * [[fold]] — copy-on-write of the touched buckets, per-trigger cost
  * O(touched state):
  *
  *  1. the caller's reduced delta is materialized ONCE (`localCheckpoint`)
  *     — the touched-bucket collect and the merge both read that copy, so
  *     the batch's source plan runs once per fold;
  *  2. the snapshot's files of the touched buckets are read back; the
  *     caller's merge over (old slice, delta) is clustered by bucket into
  *     `min(touched, shuffle partitions)` tasks and APPENDED into the same
  *     bucket dirs — new uniquely named files, one per bucket, nothing
  *     overwritten;
  *  3. the next snapshot (untouched buckets kept, touched ones pointing at
  *     the new files, emptied ones dropped) is committed, and the state
  *     version bumped;
  *  4. every data file of the touched dirs that the snapshot does not name
  *     — the superseded files and any crashed attempt's — is deleted, and
  *     emptied dirs with them.
  *
  * [[append]] — merge-on-read, per-trigger cost O(batch) plus an amortized
  * compaction. Only for a `reduce` that is associative, commutative and
  * idempotent (`reduce(x ∪ x) = reduce(x)`, e.g. a per-key max):
  *
  *  1. the TAGGED delta — the batch's rows carrying [[BucketCol]], not
  *     reduced — is written as generation `gens/gen=<id>` by the scan's own
  *     tasks (one job: no shuffle, no aggregate), a dynamic partition
  *     overwrite of that one generation. The id is one past the snapshot's
  *     batch id and every generation it names, so consecutive engine
  *     batches write `gen=<batchId>`;
  *  2. if the write created that dir (an empty batch may create none), a
  *     snapshot naming it is committed and the state version bumped;
  *  3. once the snapshot names [[MaxGenerations]] generations, [[compact]]
  *     runs on the same trigger.
  *
  * Readers merge base ∪ named generations with the same `reduce`. A
  * compaction is [[fold]] (batch id -1) of `reduce(named generations)`
  * into the base, committing a snapshot that names no generation, then
  * the deletion of `gens/` outright.
  *
  * Crash windows, the same two for every commit: before the snapshot
  * rename nothing changed — readers see the previous snapshot, a replay
  * redoes the work (rewriting its generation, or deleting the crashed
  * fold's files in step 4), and a compaction that did not commit runs
  * again on the next append. After it, the replay is at the high-water
  * mark and returns; the leftovers (superseded base files, absorbed
  * generation dirs) are unnamed, never read, and removed by the next fold
  * of their bucket or the next compaction.
  *
  * The bound is a constant, not a knob: at 8, a read between triggers is
  * one base scan plus at most 7 batch-sized generation scans merged in one
  * shuffle, and each compaction's whole-table rewrite is spread over 8
  * triggers. Sums ([[IncrementalAgg]]) are not idempotent and stay on
  * [[fold]].
  *
  * Nothing is `persist()`ed on the state path, so the write's cache
  * refresh has nothing to relist. Single-writer per state path, like any
  * foreachBatch sink. */
private[graft] object BucketedStateTable {

  val BucketCol = "__bucket"
  private val GenCol = "gen"
  private val BucketSchema = new StructType().add(BucketCol, IntegerType)

  /** Named generations at which [[append]] compacts (see above). */
  val MaxGenerations = 8

  def stateDir(path: String): String = s"$path/state"
  private def gensDir(path: String): String = s"$path/gens"
  private def snapshotFile(path: String): String = s"$path/_snapshot"

  /** What a table is built with and [[pin]] holds it to: the bucket count
    * ([[bucketOf]] depends on it, and a fold reads only the buckets its
    * delta touches, so another count would leave a key's old row in its
    * old bucket next to the new one) and, for a replica, the key and
    * version columns its readers merge generations by. */
  final case class Layout(nBuckets: Int, keyCols: Seq[String] = Nil,
                          versionCols: Seq[String] = Nil)

  /** One commit: the highest batch id committed (-1 while only batch
    * callers committed), the table's layout, the state
    * files' schema ([[BucketCol]] excluded: it is the partition dir), each
    * bucket's live files, relative to the table path, and the pending
    * generations' ids, ascending. */
  final case class Snapshot(batchId: Long, layout: Layout, schema: StructType,
                            files: Map[Int, Seq[String]],
                            generations: Seq[Long])

  private val mapper = new ObjectMapper()

  /** The table's committed snapshot; None before its first fold. A
    * snapshot missing a field is refused by name rather than read with a
    * default: a replica's absent generation list would silently drop its
    * pending changes. */
  def snapshot(fs: FileSystem, path: String): Option[Snapshot] = {
    val p = new Path(snapshotFile(path))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val doc = try mapper.readTree(in) finally in.close()
      def field(name: String): JsonNode = Option(doc.get(name)).getOrElse(
        throw new IllegalStateException(
          s"state table snapshot $p has no `$name` field"))
      def strs(n: JsonNode) = n.elements.asScala.map(_.asText).toSeq
      Some(Snapshot(field("batchId").asLong,
        Layout(field("nBuckets").asInt, strs(field("keyCols")),
          strs(field("versionCols"))),
        StructType.fromDDL(field("schema").asText),
        field("files").properties.asScala
          .map(e => e.getKey.toInt -> strs(e.getValue)).toMap,
        field("generations").elements.asScala.map(_.asLong).toSeq))
    }
  }

  private def commitSnapshot(spark: SparkSession, path: String,
                             s: Snapshot): Unit = {
    Manifests.replaceAtomically(spark, snapshotFile(path),
      mapper.writeValueAsBytes(Map[String, AnyRef](
        "batchId" -> Long.box(s.batchId),
        "nBuckets" -> Int.box(s.layout.nBuckets),
        "keyCols" -> s.layout.keyCols.asJava,
        "versionCols" -> s.layout.versionCols.asJava,
        "schema" -> s.schema.toDDL,
        "files" -> s.files.map { case (b, fs) => b.toString -> fs.asJava }
          .asJava,
        "generations" -> s.generations.map(Long.box).asJava).asJava))
    bumpVersion(path)
  }

  /** In-process state-mutation counter per table path, bumped by every
    * snapshot commit and every replay that finds its batch committed:
    * the [[Manifests.manifestVersion]] counter under kind `state`.
    * Consumers that cache anything derived from the state files
    * ([[graft.plans.SummaryViews]]'s resolved scan plan) compare versions
    * instead of touching the filesystem — a pure-memory staleness check,
    * correct under the same single-writer-per-path-per-process contract
    * the writes assume. A writer in ANOTHER process does not bump this
    * (the cache consumer documents that). */
  def stateVersion(path: String): Long =
    Manifests.manifestVersion(path, "state")

  private def bumpVersion(path: String): Unit =
    Manifests.bumpManifestVersion(path, "state")

  /** Whether `snap` already holds batch `batchId` (see the replay rule
    * above). A replay bumps the version: the attempt that committed the
    * batch may have crashed before the caches saw its commit. */
  private def replayed(path: String, snap: Option[Snapshot],
                       batchId: Long): Boolean = {
    val done = batchId >= 0 && snap.exists(batchId <= _.batchId)
    if (done) bumpVersion(path)
    done
  }

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `pmod(xxhash64(keys), nBuckets)` — the bucket a key row lives in. */
  def bucketOf(keyCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** The table's snapshot, once `layout` is checked against the one it
    * was built with: another one is refused. Driver-side file I/O only —
    * callers run it before building any Spark plan, and hand the snapshot
    * to [[fold]], [[append]] or [[compact]]. */
  def pin(spark: SparkSession, path: String,
          layout: Layout): Option[Snapshot] = {
    val snap = snapshot(fsFor(spark, path), path)
    snap.map(_.layout).filter(_ != layout).foreach { was =>
      def show(c: Seq[String]) = c.mkString("[", ", ", "]")
      throw new IllegalArgumentException(
        if (was.nBuckets != layout.nBuckets)
          s"state table $path was built with nBuckets=${was.nBuckets}; " +
            s"nBuckets=${layout.nBuckets} would put existing keys in other " +
            "buckets and duplicate them"
        else
          s"state table $path was built with key columns " +
            s"${show(was.keyCols)} and version columns " +
            s"${show(was.versionCols)}; key columns ${show(layout.keyCols)} " +
            s"and version columns ${show(layout.versionCols)} would merge " +
            "its rows under another identity")
    }
    snap
  }

  /** The base as `snap` commits it, only the buckets `buckets` selects:
    * one parquet relation over exactly the snapshot's files, rooted at the
    * state dir, with the recorded schema and [[BucketCol]] as its
    * partition column. The files are looked up on the driver by name —
    * no listing, so no listing job whatever the bucket count, and no
    * schema inference. */
  def scan(spark: SparkSession, path: String, snap: Snapshot,
           buckets: Int => Boolean = _ => true): DataFrame = {
    val fs = fsFor(spark, path)
    val parts = snap.files.toSeq.filter(e => buckets(e._1)).sortBy(_._1)
      .map { case (b, files) =>
        b -> files.map(f => fs.getFileStatus(new Path(s"$path/$f"))) }
    val leaves = parts.flatMap(_._2).toArray
    val index = new InMemoryFileIndex(spark,
      Seq(fs.makeQualified(new Path(stateDir(path)))), Map.empty, None,
      // the snapshot's files stand in for the listing of the state dir
      new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
          Some(leaves)
        override def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      },
      Some(PartitionSpec(BucketSchema, parts.map { case (b, st) =>
        PartitionPath(InternalRow(b), st.head.getPath.getParent) })))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, BucketSchema,
      snap.schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The table's snapshot, which must exist. */
  def current(spark: SparkSession, path: String): Snapshot =
    snapshot(fsFor(spark, path), path).getOrElse(
      throw new java.io.FileNotFoundException(snapshotFile(path)))

  /** [[scan]] of the table's current snapshot. */
  def base(spark: SparkSession, path: String): DataFrame =
    scan(spark, path, current(spark, path))

  private def genDir(path: String, id: Long): String =
    s"${gensDir(path)}/$GenCol=$id"

  /** The rows of the generations `snap` names, as [[append]] wrote them,
    * read by column name with the snapshot's schema plus [[BucketCol]] —
    * no schema-inference job. */
  def readGenerations(spark: SparkSession, path: String,
                      snap: Snapshot): DataFrame =
    spark.read.option("basePath", gensDir(path))
      .schema(snap.schema.add(BucketCol, IntegerType))
      .parquet(snap.generations.map(genDir(path, _)): _*)
      .drop(GenCol)

  /** Data files directly under `dir`; none when it does not exist. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil else Manifests.listDataFiles(fs, dir)

  /** Fold one bucketed delta into the base `snap` commits (None before the
    * table's first fold) under the copy-on-write protocol above; the
    * snapshot current afterwards.
    *
    * `delta` must already carry [[BucketCol]] (use [[bucketOf]]) and be
    * reduced to whatever per-key shape the merge expects. `merge(oldSlice,
    * delta)` sees the state's columns plus [[BucketCol]] and returns the
    * touched buckets' full replacement rows, still carrying [[BucketCol]];
    * rows it drops disappear from state, and a bucket it empties is
    * dropped from the snapshot. The commit keeps the generations `snap`
    * names. Callers [[pin]] the `layout` first; the first fold records
    * it. */
  def fold(spark: SparkSession, path: String, snap: Option[Snapshot],
           delta: DataFrame, batchId: Long,
           merge: (DataFrame, DataFrame) => DataFrame,
           layout: Layout): Option[Snapshot] = {
    if (replayed(path, snap, batchId)) return snap
    val fs = fsFor(spark, path)
    val d = delta.localCheckpoint()
    try {
      val touched = bucketsOf(d)
      if (touched.isEmpty) return snap
      val dirs = touched.map(b =>
        b -> new Path(s"${stateDir(path)}/$BucketCol=$b")).toMap
      // the touched buckets' files before the write: the snapshot's and
      // any a crashed attempt left unnamed — all superseded by this fold
      val before = dirs.values.flatMap(dataFiles(fs, _)).toSet
      val old = snap.fold(d.limit(0))(scan(spark, path, _, dirs.contains))
      val parts = math.min(touched.length,
        spark.conf.get(ShufflePartitionsKey).toInt)
      val merged = merge(old, d)
      merged
        // whole buckets per task: the write emits one file per bucket,
        // bucket-parallel instead of one task writing every partition
        .repartition(parts, col(BucketCol))
        .write.mode("append").partitionBy(BucketCol).parquet(stateDir(path))
      val written = dirs.map { case (b, dir) =>
        b -> dataFiles(fs, dir).filterNot(before)
          .map(f => s"state/$BucketCol=$b/${f.getName}")
      }.filter(_._2.nonEmpty)
      val high = snap.fold(batchId)(s => math.max(s.batchId, batchId))
      val next = Snapshot(high, layout,
        StructType(merged.schema.filter(_.name != BucketCol)).toNullable,
        snap.fold(Map.empty[Int, Seq[String]])(_.files) -- touched ++ written,
        snap.fold(Seq.empty[Long])(_.generations))
      commitSnapshot(spark, path, next)
      before.foreach(fs.delete(_, false))
      dirs.foreach { case (b, dir) =>
        if (!written.contains(b)) fs.delete(dir, true) }
      Some(next)
    } finally release(d)
  }

  /** Append one tagged delta as a generation onto the committed base
    * `snap` under the merge-on-read protocol above, compacting on the
    * trigger whose commit names [[MaxGenerations]]. `delta` carries
    * [[BucketCol]] and every column `reduce` reads, but is NOT reduced:
    * readers and the compaction reduce it, and `reduce` must be
    * idempotent, so duplicate keys change no result. Callers fold the
    * first delta of a table into the base with [[fold]]. */
  def append(spark: SparkSession, path: String, snap: Snapshot,
             delta: DataFrame, batchId: Long,
             reduce: DataFrame => DataFrame): Unit = {
    if (replayed(path, Some(snap), batchId)) return
    val id = 1L + (snap.batchId +: snap.generations).max
    delta.withColumn(GenCol, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(GenCol)
      .parquet(gensDir(path))
    if (fsFor(spark, path).exists(new Path(genDir(path, id)))) {
      val next = snap.copy(batchId = math.max(snap.batchId, batchId),
        generations = snap.generations :+ id)
      commitSnapshot(spark, path, next)
      if (next.generations.length >= MaxGenerations)
        compact(spark, path, next, reduce)
    }
  }

  /** Fold every generation `snap` names into the base, committing a
    * snapshot that names none, then delete `gens/` (with any unnamed
    * leftovers); the snapshot current afterwards. [[append]] calls it at
    * the bound; a writer about to bypass [[append]] calls it first. The
    * generations and the base are read with the snapshot's schema, so the
    * compaction runs no schema-inference job. */
  def compact(spark: SparkSession, path: String, snap: Snapshot,
              reduce: DataFrame => DataFrame): Snapshot =
    if (snap.generations.isEmpty) snap
    else {
      // a named generation holds rows, so the fold commits
      val next = fold(spark, path, Some(snap.copy(generations = Nil)),
        reduce(readGenerations(spark, path, snap)), -1L,
        merge = (old, d) => reduce(old.unionByName(d)), snap.layout)
      fsFor(spark, path).delete(new Path(gensDir(path)), true)
      next.get
    }

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
