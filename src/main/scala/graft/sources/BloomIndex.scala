package graft.sources

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** File-level Bloom indexes — membership skipping for EQUALITY lookups on
  * high-cardinality columns, the point-lookup complement of [[ZoneMap]]:
  * a min/max zone on a column the layout is NOT clustered by spans the
  * whole value range in every file (`widthShare` ≈ 1, nothing prunes),
  * but a per-file Bloom filter still answers "can doc_id = X live in this
  * file?" at ~10 bits/row — at 100 TB the difference between scanning the
  * layout for one document and opening the handful of files whose filters
  * fire. This is the Parquet bloom_filter_enabled idea lifted to the FILE
  * LIST at plan time (row-group blooms only prune after a task has opened
  * the footer), and the same machinery Spark's own runtime row-level
  * filtering trusts: the manifest cells are built by Catalyst's
  * `BloomFilterAggregate` over `xxhash64` keys, exactly the
  * aggregate/probe pair `InjectRuntimeFilter` plants ([[graft.functions.Bloom]]
  * is the broadcast-prefilter sibling over a whole table).
  *
  * Layout sidecar `_bloomindex`, sharded by partition directory like
  * `_zonemap` (one row per data file: `file, part_dir, n_rows,
  * <c>_bloom …`), maintained incrementally by the shared [[Manifests]]
  * protocol — a streaming sink appends O(new files) per batch, a replayed
  * batch dir or a compaction reaps its dead rows, untouched shards are
  * never rewritten.
  *
  * Probing deserializes each candidate row's filter inside a scalar
  * function over the MANIFEST (rows = files — metadata-sized, the
  * [[graft.functions.Sketches]] probe discipline: heavy bytes stay
  * aggregated, the probe never touches row data); only matching file
  * paths reach the driver. False positives cost a file read, never a
  * wrong answer: [[prunedRead]] re-applies the exact predicate.
  *
  * Keys are indexed by the canonical STRING image of the value
  * (`xxhash64(cast(c as string))`), so a probe literal needs no type
  * gymnastics to hash identically; NULLs are never indexed (a NULL
  * equality predicate matches nothing).
  */
object BloomIndex {

  /** Per-file Bloom aggregate: Catalyst's own `BloomFilterAggregate` over
    * the null-guarded string-image hash. `expectedItems`/`fpp` size the
    * fixed bitmap exactly as `BloomFilter.create` would. */
  private def bloomAgg(c: String, expectedItems: Long, fpp: Double): Column =
    bloomAggBits(c, expectedItems,
      BloomFilter.optimalNumOfBits(math.max(expectedItems, 1L), fpp))

  private def statsFor(df: DataFrame, cols: Seq[String], rootAbs: String,
                       expectedItems: Long, fpp: Double): DataFrame = {
    require(cols.nonEmpty, "bloom index needs at least one column")
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      cols.map(c => bloomAgg(c, expectedItems, fpp).as(s"${c}_bloom"))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("part_dir", Manifests.partDirCol(rootAbs))
  }

  /** One distributed pass: per data file, per indexed column, one Bloom
    * filter sized for `expectedItemsPerFile` at `fpp`. Default sizing
    * (1 M items, 1 %) is ~1.2 MB/file — tune DOWN for small files; the
    * aggregate's bitmap is fixed at creation, so an over-full file only
    * degrades fpp, never correctness. */
  def build(spark: SparkSession, path: String, cols: Seq[String],
            expectedItemsPerFile: Long = 1000000L,
            fpp: Double = 0.01): DataFrame = {
    val (_, root) = Manifests.fsFor(spark, path)
    statsFor(spark.read.parquet(path), cols, root.toUri.getPath,
      expectedItemsPerFile, fpp)
  }

  /** Persist the manifest next to the data (full rebuild, overwrite),
    * then SELF-DESCRIBE: merge-write the layout registration into
    * `_graft_catalog.json` beside the data
    * ([[graft.plans.GraftCatalog.selfDescribe]]), so a fresh session's
    * plain SQL prunes this layout with zero setup calls — the same
    * discipline the streaming `FileDestination` already follows. Columns
    * already registered (in-session or in the existing catalog) keep
    * their settings. `updateCatalog = false` opts out. */
  def write(spark: SparkSession, path: String, cols: Seq[String],
            expectedItemsPerFile: Long = 1000000L,
            fpp: Double = 0.01,
            updateCatalog: Boolean = true): Unit = {
    build(spark, path, cols, expectedItemsPerFile, fpp).coalesce(1)
      .write.mode("overwrite").partitionBy("part_dir")
      .parquet(s"$path/_bloomindex")
    Manifests.bumpManifestVersion(path, "_bloomindex")
    if (updateCatalog) graft.plans.GraftCatalog.selfDescribe(spark, path)
  }

  /** Incremental maintenance via the shared [[Manifests]] protocol:
    * index only manifest-unknown files (O(new files) scan), reap rows
    * whose files vanished, rewrite only affected shards. */
  def update(spark: SparkSession, path: String, cols: Seq[String],
             expectedItemsPerFile: Long = 1000000L,
             fpp: Double = 0.01): ZoneMap.UpdateDelta = {
    val (_, root) = Manifests.fsFor(spark, path)
    val rootAbs = root.toUri.getPath
    val (added, reaped) = Manifests.incrementalUpdate(spark, path,
      "_bloomindex",
      fresh => statsFor(spark.read.parquet(fresh.map(_.toString): _*),
        cols, rootAbs, expectedItemsPerFile, fpp))
    ZoneMap.UpdateDelta(added, reaped)
  }

  private[graft] def manifestExists(spark: SparkSession,
                                    path: String): Boolean = {
    val (fs, root) = Manifests.fsFor(spark, path)
    fs.exists(new Path(root, "_bloomindex"))
  }

  /** The indexed column names, recovered from a manifest's schema — the
    * single source of truth shared by [[refreshShards]] and
    * [[graft.plans.GraftCatalog.selfDescribe]]. */
  private[graft] def manifestCols(spark: SparkSession,
                                  path: String): Seq[String] =
    spark.read.parquet(s"$path/_bloomindex").schema.fieldNames
      .filter(_.endsWith("_bloom")).map(_.stripSuffix("_bloom")).toSeq

  /** Per-file Bloom aggregate pinned to an explicit bitmap size — the
    * refresh path, which must reproduce the ORIGINAL build's sizing
    * rather than re-derive it from defaults. */
  private def bloomAggBits(c: String, estimatedItems: Long,
                           numBits: Long): Column = {
    val key = when(col(c).isNotNull, xxhash64(col(c).cast("string")))
    GraftBridge.column(new BloomFilterAggregate(
        GraftBridge.expression(key),
        Literal(math.max(estimatedItems, 1L)), Literal(numBits))
      .toAggregateExpression())
  }

  /** Rewrite the manifest shards for `dirs` (leaf directories relative to
    * the root) from the files currently on disk — [[Compaction]]'s hook,
    * mirroring [[ZoneMap.refreshShards]]: the compactor knows exactly
    * which leaves it rewrote, so the index follows the rewrite at
    * O(rewritten dirs). Indexed columns come from the manifest's own
    * schema; the bitmap size comes from an existing filter cell (one
    * driver-side row), so refreshed filters keep the original build's
    * fpp envelope without the caller restating the sizing. */
  private[sources] def refreshShards(spark: SparkSession, path: String,
                                     dirs: Seq[String]): Unit = {
    if (dirs.isEmpty || !manifestExists(spark, path)) return
    val m = spark.read.parquet(s"$path/_bloomindex")
    val cols = manifestCols(spark, path)
    if (cols.isEmpty) return
    // Sizing sample: first manifest row with a non-null filter cell, trying
    // every indexed column (an all-null column — e.g. a manifest built over
    // empty files — must not crash the compactor's refresh). If NO cell is
    // non-null anywhere, fall back to [[build]]'s default sizing: there is
    // no original envelope left to preserve.
    val sample = cols.iterator
      .map(c => m.filter(col(s"${c}_bloom").isNotNull)
        .select(col(s"${c}_bloom"), col("n_rows")).take(1).headOption)
      .collectFirst { case Some(r) => r }
    val (estItems, numBits) = sample match {
      case Some(r) => (r.getLong(1), BloomFilter.readFrom(
        new ByteArrayInputStream(r.getAs[Array[Byte]](0))).bitSize())
      case None => (1000000L, BloomFilter.optimalNumOfBits(1000000L, 0.01))
    }
    val (_, root) = Manifests.fsFor(spark, path)
    val rootAbs = root.toUri.getPath
    val abs = dirs.map(d =>
      if (d == ".") root.toString else new Path(root, d).toString)
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      cols.map(c => bloomAggBits(c, estItems, numBits).as(s"${c}_bloom"))
    spark.read.parquet(abs: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("part_dir", Manifests.partDirCol(rootAbs))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_dir")
      .parquet(s"$path/_bloomindex")
    Manifests.bumpManifestVersion(path, "_bloomindex")
  }

  /** Deserialize-and-probe, evaluated over manifest rows only. The filter
    * bytes differ per row (per file), so there is nothing to cache — and
    * the input is files-sized, never data-sized. */
  private val probe = udf { (bloom: Array[Byte], hash: Long) =>
    bloom != null &&
      BloomFilter.readFrom(new ByteArrayInputStream(bloom))
        .mightContainLong(hash)
  }

  /** The probe-side key for a literal — MUST mirror [[bloomAgg]]'s
    * string-image hashing. */
  private def keyOf(v: Any): Column = xxhash64(lit(v).cast("string"))

  private def matchingRows(spark: SparkSession, path: String, c: String,
                           values: Seq[Any], parts: Seq[String]): DataFrame = {
    require(values.nonEmpty, "bloom probe needs at least one value")
    val sharded = Manifests.shards(spark, path, "_bloomindex", parts)
    val hit = values.map(v => probe(col(s"${c}_bloom"), keyOf(v)))
      .reduce(_ || _)
    sharded.filter(hit)
  }

  /** Files that MIGHT contain any of `values` in column `c` (Bloom
    * semantics: no false negatives, bounded false positives). `parts`
    * partition-prunes the manifest scan itself. */
  def candidateFiles(spark: SparkSession, path: String, c: String,
                     values: Seq[Any],
                     parts: Seq[String] = Nil): Seq[String] =
    matchingRows(spark, path, c, values, parts)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Point-lookup / IN-list read through the index: scan ONLY files whose
    * filters fire, then re-apply the exact predicate (filters are
    * necessary, not sufficient). Output == the full scan's filter, proven
    * in spec. Like [[ZoneMap.prunedRead]]: one streamed manifest job,
    * few batched scan arms ([[Manifests.batchedRead]]) — never one union
    * arm per shard. */
  def prunedRead(spark: SparkSession, path: String, c: String,
                 values: Seq[Any], parts: Seq[String] = Nil): DataFrame = {
    Manifests.readListed(spark, matchingRows(spark, path, c, values, parts),
        path)
      .getOrElse(spark.read.parquet(path).limit(0))
      .filter(col(c).isin(values: _*))
  }

  /** Dim-driven JOIN with fact-side FILE skipping — a runtime filter
    * pushed to file granularity: the filtered dimension's distinct keys
    * probe every fact file's Bloom filter, and the join scans ONLY the
    * files whose filters fire. Spark's own runtime filtering (and its
    * dynamic partition pruning) skips row groups or partitions; this
    * skips arbitrary FILES of a hash-spread layout, which is exactly the
    * star-join shape at 100 TB — a dimension filtered to thousands of
    * keys touches a sliver of the fact table's files, and the scan cost
    * becomes proportional to that sliver, not the table.
    *
    * Exactness: Bloom filters have no false negatives, so the candidate
    * files are a superset of every file holding a matching key; the join
    * itself then discards false-positive files' rows. Output == the plain
    * inner equi-join, proven in spec and under the catalog oracle. NULL
    * dim keys never match an inner join and are excluded from the probe.
    *
    * Contracts: the dim side must be MODEL-sized — its distinct-key count
    * is capped at `maxKeys` (the collect is hashes-only, 8 bytes/key; past
    * that width file skipping degenerates toward a full scan and a plain
    * join is the honest plan, so the cap REFUSES rather than silently
    * scanning). Probe cost is one distributed manifest job of
    * O(files × keys) filter probes. The probe hashes the canonical STRING
    * image (exactly [[bloomAgg]]'s key): pass the dim key in the fact
    * column's type so the images agree (`5` vs `5.0` differ). `dim` is
    * evaluated twice (key collect + join) — cache it if it is expensive.
    * `broadcastDim` hints the join side (default true: a ≤`maxKeys`-key
    * dimension is broadcast-sized unless its payload rows are not). */
  def prunedJoin(spark: SparkSession, path: String, c: String,
                 dim: DataFrame, dimKey: String,
                 maxKeys: Int = 100000,
                 parts: Seq[String] = Nil,
                 broadcastDim: Boolean = true): DataFrame = {
    // The cap is measured on distinct KEYS (string images), not on their
    // hashes — a collision must not let a too-wide dim slip under the cap.
    // Hashing happens AFTER distinct+limit, so the collect is still
    // hashes-only (8 bytes/key; duplicates from collisions are harmless).
    val hashes = dim.filter(col(dimKey).isNotNull)
      .select(col(dimKey).cast("string").as("__k"))
      .distinct().limit(maxKeys + 1)
      .select(xxhash64(col("__k")).as("h"))
      .collect().map(_.getLong(0))
    require(hashes.length <= maxKeys,
      s"prunedJoin: dim side exceeds maxKeys=$maxKeys distinct keys — " +
        "file skipping degenerates at that width; raise maxKeys or use a " +
        "plain join")
    val empty = spark.read.parquet(path).limit(0)
    val fact =
      if (hashes.isEmpty) empty
      else Manifests.batchedRead(spark,
          candidateFilesForHashes(spark, path, c, hashes, parts).iterator,
          basePath = Some(path)) // keep Hive partition columns (if any)
        .getOrElse(empty)
    val dimSide = if (broadcastDim) broadcast(dim) else dim
    fact.join(dimSide, fact(c) === dimSide(dimKey), "inner")
  }

  /** Files whose `c` filter fires for ANY of the precomputed string-image
    * hashes ([[bloomAgg]]'s key function) — the probe leg shared by
    * [[prunedJoin]] and the [[graft.plans.BloomJoins]] optimizer rule. One
    * distributed manifest job (files-sized); paths return sorted. */
  private[graft] def candidateFilesForHashes(spark: SparkSession,
                                             path: String, c: String,
                                             hashes: Array[Long],
                                             parts: Seq[String] = Nil)
      : Seq[String] = {
    val hs = hashes // closure capture: one deserialize + hs probes/file
    val probeSet = udf { (bloom: Array[Byte]) =>
      bloom != null && {
        val bf = BloomFilter.readFrom(new ByteArrayInputStream(bloom))
        hs.exists(bf.mightContainLong)
      }
    }
    Manifests.shards(spark, path, "_bloomindex", parts)
      .filter(probeSet(col(s"${c}_bloom")))
      .select("part_dir", "file").sort("part_dir", "file")
      .collect().map(_.getString(1)).toSeq
  }

  /** Index health from the manifest alone: files covered, bytes per
    * filter, and rows-per-file vs the sizing assumption (a file holding
    * far more rows than `expectedItemsPerFile` runs at a worse fpp than
    * the build asked for). */
  def diagnose(spark: SparkSession, path: String, c: String): DataFrame =
    spark.read.parquet(s"$path/_bloomindex")
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows"),
        max(col("n_rows")).as("max_file_rows"),
        round(avg(length(col(s"${c}_bloom"))), 1).as("avg_filter_bytes"))
}
