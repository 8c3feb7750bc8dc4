package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared maintenance protocol for file-level index manifests (the
  * `_zonemap` / `_bloomindex` sidecar tables): one place that knows how to
  * list a layout, diff it against a manifest, index ONLY the new files,
  * and reap rows whose files vanished (a replayed batch directory was
  * overwritten under the same batchId, or a compaction rewrote a leaf).
  * [[ZoneMap]] and [[BloomIndex]] differ only in WHAT they compute per
  * file (min/max/null stats vs membership filters); the listing diff, the
  * shard-scoped dynamic-partition rewrite, and the staleness reasoning are
  * identical — and a correctness analysis maintained twice drifts twice
  * (the [[graft.streaming.BucketedStateTable]] lesson, applied to
  * layout indexes).
  *
  * All driver-side state here is METADATA-sized: file listings and
  * basename→shard maps, never row data.
  */
private[graft] object Manifests {

  /** In-process manifest VERSION per (layout root, manifest kind), bumped
    * by every write path ([[ZoneMap]]/[[BloomIndex]] write / update /
    * refreshShards) — the invalidation stamp for plan-time probe caches
    * ([[graft.plans.BloomJoins]]), mirroring
    * [[graft.streaming.BucketedStateTable.stateVersion]]. Staleness
    * contract is the same one: the maintaining writer runs in THIS
    * process; an out-of-process writer does not bump (and could not keep
    * any in-process cache current in the first place). */
  private val manifestVersions =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

  /** The one normal form of a layout/table path for registry and cache
    * keys: callers may spell the same path with a trailing slash or a
    * `file:` prefix, and every keyed lookup must agree. */
  def normPath(p: String): String =
    p.stripSuffix("/").replaceFirst("^file:", "")

  private def versionKey(path: String, kind: String): String =
    normPath(path) + "|" + kind

  def manifestVersion(path: String, kind: String): Long =
    Option(manifestVersions.get(versionKey(path, kind)))
      .map(_.get()).getOrElse(0L)

  def bumpManifestVersion(path: String, kind: String): Unit =
    manifestVersions
      .computeIfAbsent(versionKey(path, kind),
        _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()

  /** Spec-only hook: REWIND the in-process version to simulate an
    * out-of-process writer (which updates the on-disk manifest without
    * this process ever seeing a bump — the exact blind spot the
    * snapshot-pinning specs exercise). */
  private[graft] def setManifestVersion(path: String, kind: String,
                                        v: Long): Unit =
    manifestVersions
      .computeIfAbsent(versionKey(path, kind),
        _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .set(v)

  def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** Derive the manifest shard key from the data-file path column `file`:
    * the file's leaf directory relative to the layout root ("." for
    * root-level files). Pure column arithmetic — stays inside the stats
    * job's codegen.
    *
    * `file` comes from `input_file_name()` / `Path.toString`, which emit
    * URI-ENCODED strings, while `rootAbs` is the DECODED URI path: a root
    * containing a URI-encodable character (a space, '#', …) would never
    * locate under the decoded marker and every shard key would silently
    * derive from a garbage offset. Locate the ENCODED form of the marker
    * first (exact for such roots), falling back to the decoded marker
    * (identical for plain-ASCII roots, and the right form for `file`
    * values that were never URI-encoded). */
  def partDirCol(rootAbs: String): Column = {
    val marker = rootAbs.stripSuffix("/") + "/"
    val encMarker =
      try new java.net.URI(null, null, marker, null).getRawPath
      catch { case _: java.net.URISyntaxException => marker }
    def relAfter(mk: String): Column = col("file").substr(
      locate(mk, col("file")) + mk.length, length(col("file")))
    val rel =
      if (encMarker == marker) relAfter(marker)
      else when(locate(encMarker, col("file")) > 0, relAfter(encMarker))
        .otherwise(relAfter(marker))
    when(locate("/", rel) === 0, lit("."))
      .otherwise(rel.substr(lit(1), length(rel) - locate("/", reverse(rel))))
  }

  def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Manifest `file` strings are URI-ENCODED (`input_file_name()` and
    * `Path.toString` both emit URI form), but Spark's readers take RAW
    * path strings — `Path(String)` does not decode, so a file under a
    * Hive-escaped partition dir (on-disk name `p=a%3Ab`, manifest string
    * `p=a%253Ab`) would be looked up by its ENCODED name and miss. Decode
    * one level, keeping scheme and authority; strings without a scheme or
    * that fail URI parsing pass through unchanged. */
  private[graft] def rawPath(enc: String): String =
    try {
      val u = new java.net.URI(enc)
      if (u.getScheme == null) enc
      else s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
    } catch { case _: java.net.URISyntaxException => enc }

  /** Arm width for [[batchedRead]]: enough that a candidate set below it
    * plans as ONE parquet relation, small enough that a driver batch stays
    * metadata-sized. */
  val MaxFilesPerArm = 4096

  /** Plan a candidate-file read as FEW parquet scans: one arm per
    * `maxFilesPerArm` paths, unioned. The naive per-shard form plans one
    * union arm per manifest shard — a thousands-partition layout turns
    * into a thousands-arm `Union` whose analysis alone dominates the
    * query. Callers stream file paths in (a `toLocalIterator` over the
    * manifest keeps driver memory one batch wide); returns None for an
    * empty iterator. */
  private[graft] def batchedRead(spark: SparkSession,
                                   files: Iterator[String],
                                   maxFilesPerArm: Int = MaxFilesPerArm,
                                   basePath: Option[String] = None)
      : Option[DataFrame] = {
    require(maxFilesPerArm >= 1, s"maxFilesPerArm must be >= 1")
    // basePath: reading SPECIFIC files of a Hive-partitioned layout loses
    // the directory-derived partition columns; anchoring the reader at the
    // layout root restores them exactly (values parse from the same dir
    // names either way). Harmless for flat layouts.
    def read(fs: Seq[String]): DataFrame =
      basePath.fold(spark.read)(bp => spark.read.option("basePath", bp))
        .parquet(fs: _*)
    val arms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    files.foreach { f =>
      buf += rawPath(f) // URI-encoded manifest string → raw reader path
      if (buf.length >= maxFilesPerArm) {
        arms += read(buf.toSeq); buf.clear()
      }
    }
    if (buf.nonEmpty) arms += read(buf.toSeq)
    arms.reduceOption(_ unionByName _)
  }

  def listDataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) listDataFiles(fs, st.getPath)
      else Seq(st.getPath)
    }

  /** Incremental manifest maintenance: index only files the manifest
    * doesn't know yet, reap rows whose files no longer exist. Files are
    * identified by their path RELATIVE to the root (`part_dir/basename`)
    * — basename alone is NOT unique across partition dirs, because one
    * job's partitioned write stamps the same job UUID into every
    * partition's part files (`bucket=0/part-00000-X`,
    * `bucket=1/part-00000-X`, …), and a basename-keyed diff would then
    * miss a deleted partition whose twin basenames survive elsewhere.
    * Cost per call is O(new files) scan (via `statsFn`, which must emit
    * `file` and `part_dir` columns) plus a rewrite of only the AFFECTED
    * shards (dynamic partition overwrite on `part_dir`); untouched shards
    * are never rewritten and the layout is never rescanned. Returns
    * (added, reaped). */
  def incrementalUpdate(spark: SparkSession, path: String,
                        manifestName: String,
                        statsFn: Seq[Path] => DataFrame): (Long, Long) = {
    val (fs, root) = fsFor(spark, path)
    val manifestPath = new Path(root, manifestName)
    val live = listDataFiles(fs, root)
    def relDir(p: Path): String = {
      val rel = root.toUri.relativize(p.getParent.toUri).getPath
        .stripSuffix("/")
      if (rel.isEmpty) "." else rel
    }
    def relOf(p: Path): String = s"${relDir(p)}/${p.getName}"
    val liveRel = live.map(relOf).toSet
    val known: Map[String, String] = // part_dir/basename -> part_dir
      if (!fs.exists(manifestPath)) Map.empty
      else spark.read.parquet(s"$path/$manifestName")
        .select("file", "part_dir").collect()
        .map { r =>
          val pd = r.getString(1)
          s"$pd/${baseName(r.getString(0))}" -> pd
        }.toMap
    val fresh = live.filterNot(p => known.contains(relOf(p)))
    val stale = known.filterNot { case (rel, _) => liveRel.contains(rel) }
    // a no-op update leaves probe caches warm: no version bump
    if (fresh.isEmpty && stale.isEmpty) return (0L, 0L)

    val freshStats = if (fresh.isEmpty) None else Some(statsFn(fresh))

    if (stale.isEmpty) {
      // pure append: new shards materialize, existing shards gain files
      freshStats.get.write.mode("append").partitionBy("part_dir")
        .parquet(s"$path/$manifestName")
    } else {
      // rewrite ONLY shards with a dead row or a fresh file: survivors
      // (still-live old rows) ∪ fresh stats, dynamic partition overwrite
      val shardSet = stale.values.toSet ++ fresh.map(relDir)
      val shards = shardSet.toSeq
      // survivors are only needed INSIDE the rewritten shards — the isin
      // list is bounded by those shards' file counts, not the layout's
      val surviving = known.collect {
        case (rel, pd) if shardSet.contains(pd) && liveRel.contains(rel) =>
          rel
      }.toSeq
      val old = spark.read.parquet(s"$path/$manifestName")
        .filter(col("part_dir").isin(shards: _*))
        .filter(concat(col("part_dir"), lit("/"),
          substring_index(col("file"), "/", -1)).isin(surviving: _*))
      val out = freshStats.fold(old)(f => old.unionByName(f))
      out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_dir")
        .parquet(s"$path/$manifestName")
      // dynamic overwrite writes NOTHING for a shard whose every row died
      // (a retention delete reaped the whole partition dir) — its stale
      // shard dir would survive and keep serving ghost files to
      // prunedRead. Known driver-side without another job: a rewritten
      // shard is emptied iff no fresh file lands in it and no old row
      // survives in it.
      val keptShards = surviving.map(known) ++ fresh.map(relDir)
      val emptied = shardSet -- keptShards
      emptied.foreach { pd =>
        fs.delete(new Path(manifestPath,
          "part_dir=" + org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(pd)), true)
      }
      // a fully-reaped manifest leaves only _SUCCESS, which parquet cannot
      // infer a schema from — drop the dir; the next update recreates it
      if (emptied.nonEmpty &&
          !fs.listStatus(manifestPath).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("part_dir=")))
        fs.delete(manifestPath, true)
    }
    // bumped only AFTER the rewrite landed — a concurrent cache refill
    // between bump and write would otherwise pin the OLD manifest under
    // the NEW version
    bumpManifestVersion(path, manifestName)
    (fresh.length.toLong, stale.size.toLong)
  }
}
