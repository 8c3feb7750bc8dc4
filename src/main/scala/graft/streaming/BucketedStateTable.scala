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
  * parquet hash-bucketed by key) committed by one JSON `<path>/_snapshot`
  * plus, for an idempotent merge, append-only GENERATIONS
  * (`gens/gen=<id>`, the bucket kept as a data column).
  *
  * The snapshot is the base: its batch id, the [[Layout]] the table was
  * built with, the state schema and each bucket's live files (paths
  * relative to the table path, so a copied table reads the same). Readers
  * scan exactly those files ([[scan]]) — no listing job, no schema
  * inference, and a file the snapshot does not name is never read. A
  * commit replaces the snapshot atomically
  * ([[Manifests.replaceAtomically]]), so a fold lands whole or not at all.
  *
  * [[fold]] — copy-on-write of the touched buckets, per-trigger cost
  * O(touched state):
  *
  *  1. the `_applied/batch-<id>` marker checked FIRST — a fully-committed
  *     replay returns without touching state; a snapshot that already
  *     carries this batch id (committed, marker lost) only gets its marker
  *     and a version bump;
  *  2. the caller's reduced delta is materialized ONCE (`localCheckpoint`)
  *     — the touched-bucket collect and the merge both read that copy, so
  *     the batch's source plan runs once per fold;
  *  3. the snapshot's files of the touched buckets are read back; the
  *     caller's merge over (old slice, delta) is clustered by bucket into
  *     `min(touched, shuffle partitions)` tasks and APPENDED into the same
  *     bucket dirs — new uniquely named files, one per bucket, nothing
  *     overwritten;
  *  4. the next snapshot (untouched buckets kept, touched ones pointing at
  *     the new files, emptied ones dropped) is committed, and the state
  *     version bumped;
  *  5. every data file of the touched dirs that the snapshot does not name
  *     — the superseded files and any crashed attempt's — is deleted, and
  *     emptied dirs with them;
  *  6. the marker is written LAST.
  *
  * Crash windows: before the snapshot rename, the new files sit unnamed
  * in the bucket dirs — readers and the replay see the previous snapshot,
  * and the replay's step 5 deletes them. After it, the replay finds the
  * batch id in the snapshot (step 1); superseded files it left go when
  * their bucket is next folded.
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
  * compaction is [[fold]] (batch id -1: no marker) of
  * `reduce(listed generations)` into the base, then the deletion of
  * exactly the generations it listed. Its crash windows:
  *  - before the fold's snapshot commit: the base is unchanged; the
  *    generations stay and the next compaction lists them again;
  *  - between the commit and the last generation delete: the base already
  *    holds the rows of generations that are still listed. Readers and the
  *    next compaction merge them in again, which changes nothing because
  *    the merge is idempotent — a read gives the same rows before and
  *    after the crash, and the next compaction converges;
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
  * refresh has nothing to relist. Single-writer per state path, like any
  * foreachBatch sink. With `batchId < 0` a generation takes the highest
  * listed id + 1, so do not mix such calls with engine batch ids on one
  * table: a later batch id could overwrite that generation. */
private[graft] object BucketedStateTable {

  val BucketCol = "__bucket"
  private val GenCol = "gen"
  private val BucketSchema = new StructType().add(BucketCol, IntegerType)

  /** Listed generations at which [[append]] compacts (see above). */
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

  /** One committed base: the batch id of the fold that committed it (-1
    * for a compaction), the table's layout, the state files' schema
    * ([[BucketCol]] excluded: it is the partition dir) and each bucket's
    * live files, relative to the table path. */
  final case class Snapshot(batchId: Long, layout: Layout, schema: StructType,
                            files: Map[Int, Seq[String]])

  private val mapper = new ObjectMapper()

  /** The table's committed snapshot; None before its first fold. */
  def snapshot(fs: FileSystem, path: String): Option[Snapshot] = {
    val p = new Path(snapshotFile(path))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val doc = try mapper.readTree(in) finally in.close()
      def strs(n: JsonNode) = n.elements.asScala.map(_.asText).toSeq
      Some(Snapshot(doc.get("batchId").asLong,
        Layout(doc.get("nBuckets").asInt, strs(doc.get("keyCols")),
          strs(doc.get("versionCols"))),
        StructType.fromDDL(doc.get("schema").asText),
        doc.get("files").properties.asScala
          .map(e => e.getKey.toInt -> strs(e.getValue)).toMap))
    }
  }

  private def commitSnapshot(spark: SparkSession, path: String,
                             s: Snapshot): Unit =
    Manifests.replaceAtomically(spark, snapshotFile(path),
      mapper.writeValueAsBytes(Map[String, AnyRef](
        "batchId" -> Long.box(s.batchId),
        "nBuckets" -> Int.box(s.layout.nBuckets),
        "keyCols" -> s.layout.keyCols.asJava,
        "versionCols" -> s.layout.versionCols.asJava,
        "schema" -> s.schema.toDDL,
        "files" -> s.files.map { case (b, fs) => b.toString -> fs.asJava }
          .asJava).asJava))

  /** In-process state-mutation counter per table path, bumped by every
    * write that changes what a reader sees (snapshot commit, generation
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

  /** The table's snapshot, once `layout` is checked against the one it
    * was built with: another one is refused. Driver-side file I/O only —
    * callers run it before building any Spark plan. */
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
  def current(fs: FileSystem, path: String): Snapshot =
    snapshot(fs, path).getOrElse(
      throw new java.io.FileNotFoundException(snapshotFile(path)))

  /** [[scan]] of the table's current snapshot. */
  def base(spark: SparkSession, path: String): DataFrame =
    scan(spark, path, current(fsFor(spark, path), path))

  /** Generation ids under the generations dir, ascending (one driver-side
    * list). */
  def generations(fs: FileSystem, path: String): Seq[Long] = {
    val d = new Path(gensDir(path))
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$GenCol=") =>
        n.stripPrefix(s"$GenCol=").toLong }.toSeq.sorted
  }

  /** The rows of the listed generations, as [[append]] wrote them, read
    * by column name with the snapshot's schema plus [[BucketCol]] — no
    * schema-inference job. */
  def readGenerations(spark: SparkSession, path: String, gens: Seq[Long],
                      snap: Snapshot): DataFrame =
    spark.read.option("basePath", gensDir(path))
      .schema(snap.schema.add(BucketCol, IntegerType))
      .parquet(gens.map(g => s"${gensDir(path)}/$GenCol=$g"): _*)
      .drop(GenCol)

  /** Data files directly under `dir`; none when it does not exist. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil else Manifests.listDataFiles(fs, dir)

  /** Fold one bucketed delta into the persisted state table under the
    * copy-on-write protocol above.
    *
    * `delta` must already carry [[BucketCol]] (use [[bucketOf]]) and be
    * reduced to whatever per-key shape the merge expects. `merge(oldSlice,
    * delta)` sees the state's columns plus [[BucketCol]] and returns the
    * touched buckets' full replacement rows, still carrying [[BucketCol]];
    * rows it drops disappear from state, and a bucket it empties is
    * dropped from the snapshot. Callers [[pin]] the `layout` first; the
    * first fold records it. */
  def fold(spark: SparkSession, path: String, delta: DataFrame,
           batchId: Long, merge: (DataFrame, DataFrame) => DataFrame,
           layout: Layout): Unit = {
    val fs = fsFor(spark, path)
    if (alreadyApplied(fs, path, batchId)) return
    val snap = snapshot(fs, path)
    if (batchId >= 0 && snap.exists(_.batchId == batchId)) {
      // committed by an attempt that crashed before its marker
      bumpVersion(path)
      commit(fs, path, batchId)
      return
    }
    val d = delta.localCheckpoint()
    try {
      val touched = bucketsOf(d)
      if (touched.isEmpty) { commit(fs, path, batchId); return }
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
      commitSnapshot(spark, path, Snapshot(batchId, layout,
        StructType(merged.schema.filter(_.name != BucketCol)).toNullable,
        snap.fold(Map.empty[Int, Seq[String]])(_.files) -- touched ++ written))
      bumpVersion(path)
      before.foreach(fs.delete(_, false))
      dirs.foreach { case (b, dir) =>
        if (!written.contains(b)) fs.delete(dir, true) }
      commit(fs, path, batchId)
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
      compact(spark, path, reduce)
    commit(fs, path, batchId)
  }

  /** Fold every listed generation into the base, then delete exactly those
    * generations (nothing to do without any). [[append]] calls it at the
    * bound; a writer about to bypass [[append]] calls it first. The
    * generations and the base are read with the snapshot's schema, so the
    * compaction runs no schema-inference job. */
  def compact(spark: SparkSession, path: String,
              reduce: DataFrame => DataFrame): Unit = {
    val fs = fsFor(spark, path)
    val gens = generations(fs, path)
    if (gens.nonEmpty) {
      // a generation is only ever appended onto a committed base
      val snap = current(fs, path)
      fold(spark, path, reduce(readGenerations(spark, path, gens, snap)), -1L,
        merge = (old, d) => reduce(old.unionByName(d)), snap.layout)
      gens.foreach(g =>
        fs.delete(new Path(s"${gensDir(path)}/$GenCol=$g"), true))
      bumpVersion(path)
    }
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
