package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps — min/max skipping indexes over a parquet layout
  * for columns the PARTITIONING doesn't cover: a manifest table with one
  * row per data file holding each indexed column's (min, max, null
  * count), and a reader that intersects a predicate with the manifest to
  * scan only the files that can match. This is the light-weight
  * secondary-index tier between "partition pruning" (needs the column in
  * the layout) and "read everything and let row-group stats help":
  * row-group stats only prune AFTER a task has opened the file; the
  * manifest prunes the FILE LIST at plan time — at 100 TB that is the
  * difference between launching 800k tasks and launching the 2k whose
  * files can match. Works best over a clustered layout (ZOrder/sorted
  * writes) where value ranges per file are tight; on a random layout
  * every file's range spans everything and nothing prunes (the manifest
  * tells you that too — `widthShare` diagnoses it).
  *
  * The manifest is SHARDED BY PARTITION DIRECTORY (`part_dir`, the data
  * file's leaf directory relative to the layout root): `_zonemap` is
  * itself a partitioned parquet table, so (a) maintenance — a sink
  * appending a batch dir, [[update]] reaping a replayed batch,
  * [[Compaction.compact]] rewriting a fragmented leaf — rewrites only the
  * affected shards via dynamic partition overwrite, never the whole
  * manifest, and (b) reads that carry a partition hint prune manifest
  * shards before touching a single zone row. [[prunedRead]] intersects
  * per shard: each driver-side file-list collect is bounded by one
  * partition's candidates, not the layout's.
  *
  * Build cost: ONE distributed pass over the layout (input_file_name()
  * grouping — a partial-aggregated groupBy; no footer round-trips, no
  * driver-side file loop). The manifest is layout-sized (rows = files).
  */
object ZoneMap {

  /** What [[update]] did: `added` = newly indexed files, `reaped` =
    * manifest rows dropped because their files vanished (a replayed batch
    * directory was overwritten, or a compaction rewrote the layout). */
  final case class UpdateDelta(added: Long, reaped: Long)

  /** Types whose per-file SUM is recorded in the manifest: exactly the
    * types where re-aggregating file sums is bit-identical to summing the
    * rows in any order — integral types (long arithmetic is associative,
    * wraparound included) and decimals (exact arithmetic; the widened
    * re-aggregate casts back losslessly or overflows exactly where the
    * direct sum would). Float/double sums are order-dependent and are
    * deliberately NOT recorded — [[graft.plans.RewriteToMetaAggregate]]
    * refuses them, and a manifest column would only invite wrong serving. */
  private[graft] def sumable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }

  // ------------------------------------------------------ zone predicates

  /** A literal predicate on column `c`, as the zone tests read it: parsed
    * from WHERE conjuncts ([[graft.plans.PlanShapes.zonePreds]]) or an API
    * band. A [[Bound]] value may be null (a NULL literal); each caller
    * decides what that means. */
  private[graft] sealed trait ZonePred { def c: String }
  private[graft] final case class Bound(value: Any, inclusive: Boolean)
  /** An optionally-open interval with STRICTNESS kept (a file with
    * `c_min == lo` is covered by `c >= lo` but not by `c > lo`). `c = v`
    * is the closed point range; both ends open is `c IS NOT NULL`. */
  private[graft] final case class ColRange(c: String, lo: Option[Bound],
                                           hi: Option[Bound]) extends ZonePred
  private[graft] final case class ColIn(c: String,
                                        values: Seq[Any]) extends ZonePred

  /** `v` on the passing side of an optional lower (`lower`) or upper
    * bound. */
  private def beyond(v: Column, b: Option[Bound], lower: Boolean): Column =
    b.fold(lit(true)) { b =>
      if (lower) { if (b.inclusive) v >= lit(b.value) else v > lit(b.value) }
      else if (b.inclusive) v <= lit(b.value) else v < lit(b.value)
    }

  /** Every row of a file passes `p`, read off its manifest row: zero
    * nulls in `p.c` (a null row fails every comparison) and the zone
    * inside the predicate. An IN-list covers only a SINGLE-VALUED file on
    * a listed value — a zone spanning two listed values may hide unlisted
    * values between them. */
  private[graft] def covered(p: ZonePred): Column = p match {
    case r: ColRange => col(s"${r.c}_nulls") === 0L &&
      beyond(col(s"${r.c}_min"), r.lo, lower = true) &&
      beyond(col(s"${r.c}_max"), r.hi, lower = false)
    case i: ColIn =>
      if (i.values.isEmpty) lit(false)
      else singleValued(i.c) && col(s"${i.c}_min").isin(i.values: _*)
  }

  /** Some row of a file may pass `p`: its zone intersects the predicate
    * (all-NULL zones never do — the comparisons are null-rejecting).
    * `unknownBounds`: the column's statistics may be synthesized with
    * `nulls = -1` ([[withPartStats]]); such a file's bounds are UNKNOWN,
    * so it stays a candidate and is scanned, never excluded. */
  private[graft] def candidate(p: ZonePred,
                               unknownBounds: Boolean = false): Column = {
    val nn = col(s"${p.c}_min").isNotNull
    val base = p match {
      case r: ColRange => nn &&
        beyond(col(s"${r.c}_max"), r.lo, lower = true) &&
        beyond(col(s"${r.c}_min"), r.hi, lower = false)
      case i: ColIn =>
        if (i.values.isEmpty) lit(false)
        else nn && i.values.map(v => col(s"${i.c}_min") <= lit(v) &&
          col(s"${i.c}_max") >= lit(v)).reduce(_ || _)
    }
    if (unknownBounds) (col(s"${p.c}_nulls") === -1L) || base else base
  }

  /** Every row of a file holds the same non-null value of `c`. */
  private[graft] def singleValued(c: String): Column =
    col(s"${c}_nulls") === 0L && col(s"${c}_min") === col(s"${c}_max")

  /** A homogeneous file's one value of `c`: NULL for an all-NULL zone,
    * else the zone min. */
  private[graft] def soleValue(c: String): Column =
    when(col(s"${c}_nulls") === col("n_rows"), lit(null))
      .otherwise(col(s"${c}_min"))

  /** Per-file statistics for Hive partition column `p` of type `dt`,
    * synthesized from the manifest's `part_dir`: min = max = the parsed
    * value, nulls = 0 — or n_rows for the `__HIVE_DEFAULT_PARTITION__`
    * null group (Spark writes null AND empty-string partition values as
    * that default dir, so a real partition level never extracts as "").
    * A value carrying a '%' escape is NOT decoded (Hive path-escaping is
    * not plain URL decoding), and an EMPTY extraction means the `p=`
    * segment is missing (a damaged shard key, an escaped column NAME):
    * both get nulls = -1, which fails every homogeneity and covered test
    * and keeps the file a [[candidate]] under `unknownBounds` — scanned
    * raw, where Spark's own partition parsing supplies the value. */
  private[graft] def withPartStats(m: DataFrame, p: String,
                                   dt: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val raw = partDirValue(p)
    val nullish = raw === "__HIVE_DEFAULT_PARTITION__"
    val unknown = raw.contains("%") || raw === ""
    val v = when(nullish || unknown, lit(null)).otherwise(raw).cast(dt)
    m.withColumn(s"${p}_min", v)
      .withColumn(s"${p}_max", v)
      .withColumn(s"${p}_nulls",
        when(nullish, col("n_rows"))
          .otherwise(when(unknown, lit(-1L)).otherwise(lit(0L))))
  }

  private def partDirValue(p: String): Column =
    regexp_extract(col("part_dir"),
      "(?:^|/)" + java.util.regex.Pattern.quote(p) + "=([^/]*)", 1)

  /** An API band `(c, lo, hi)`: the closed range `lo <= c <= hi`. */
  private def bandRange(b: (String, Any, Any)): ColRange =
    ColRange(b._1, Some(Bound(b._2, true)), Some(Bound(b._3, true)))

  /** The rows of `df` inside every band — the exact predicate a boundary
    * scan re-applies (zones are necessary, not sufficient). */
  private def withinBands(df: DataFrame,
                          bands: Seq[(String, Any, Any)]): DataFrame =
    bands.map(bandRange).map(r => beyond(df.col(r.c), r.lo, lower = true) &&
        beyond(df.col(r.c), r.hi, lower = false))
      .reduceOption(_ && _).map(df.filter).getOrElse(df)

  // ------------------------------------------------- per-file sketch tier

  /** Sketch parameters are FIXED so sketches written by any maintenance
    * tick merge with sketches written by any other (merging is only
    * defined at compatible parameters): KLL k=200 → ~1.65% one-sided
    * rank error; HLL lgK=12 → ~0.8% RSE, exact below sparse-mode
    * capacity. Bumping either is a manifest schema change in spirit —
    * rebuild the manifest if you must retune. */
  private[graft] val KllK = 200
  private[graft] val HllLgK = 12

  /** Heavy-hitters map size: exact while a merged scope holds fewer than
    * ~0.75·1024 distinct items (event types, languages, sources —
    * categorical columns sit far under this), ~0.34% relative error
    * beyond. Fixed for the same merge-compatibility reason as k/lgK. */
  private[graft] val FreqMapSize = 1024

  /** Frequent-items records LONG/INT columns (DataSketches LongsSketch)
    * under the `_frq` suffix and STRING columns (`ItemsSketch<String>`)
    * under `_frqs` — two suffixes because the blob FAMILIES differ and a
    * reader must pick the right deserializer from the manifest schema
    * alone. */
  private def freqableLong(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
  private def freqableStr(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.StringType]

  /** Theta set-sketch size: exact below 2^12 distinct values per merged
    * scope, ~1.6% RSE beyond, compact blob ≤ 32 KB per file. OPT-IN per
    * column (a `theta:<col>` entry in `sketchCols`) rather than
    * type-driven: intersections are the one question HLL cannot answer,
    * but the blob is the heaviest of the four families — pay it only on
    * the identity columns you will ask overlap questions about. */
  private[graft] val ThetaLgK = 12

  /** The `sketchCols` tag that opts a column into the theta family. */
  private[graft] val ThetaTag = "theta:"

  private def thetable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DoubleType => true
      case _: org.apache.spark.sql.types.StringType => true
      case _ => false
    }

  /** KLL records NUMERIC columns (sketched as double — quantiles of an
    * integral column come back as exact item values cast to double). */
  private def kllable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }

  /** HLL records the types Spark's `hll_sketch_agg` accepts. */
  private def hllable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.BinaryType => true
      case st: org.apache.spark.sql.types.StringType => true
      case _ => false
    }

  /** Columns carrying a sketch in an existing manifest — how [[update]],
    * [[refreshShards]] and [[Compaction]] preserve a sketch tier they
    * didn't configure (the `_kll`/`_hll` schema suffixes are the single
    * source of truth, like `_min` for the zone columns). */
  private[graft] def manifestSketchCols(spark: SparkSession,
                                        path: String): Seq[String] = {
    val fields = spark.read.parquet(s"$path/_zonemap").schema.fieldNames
    (fields.filter(_.endsWith("_kll")).map(_.stripSuffix("_kll")) ++
      fields.filter(_.endsWith("_hll")).map(_.stripSuffix("_hll")) ++
      fields.filter(_.endsWith("_frqs")).map(_.stripSuffix("_frqs")) ++
      fields.filter(_.endsWith("_frq")).map(_.stripSuffix("_frq")) ++
      fields.filter(_.endsWith("_tht"))
        .map(f => ThetaTag + f.stripSuffix("_tht")))
      .distinct.sorted.toSeq
  }

  /** The build session's arithmetic-overflow mode, recorded per manifest
    * row (`built_ansi`): an INTEGRAL per-file sum computed under LEGACY
    * mode may have WRAPPED silently inside the file — serving it to an
    * ANSI session would return the wrapped total where the direct scan
    * raises ARITHMETIC_OVERFLOW. An ANSI build certifies no per-file wrap
    * happened (the build itself would have errored), so
    * [[graft.plans.RewriteToMetaAggregate]] serves integral SUMs to an
    * ANSI session only when every row carries `built_ansi = true`; LEGACY
    * sessions compose either way (modular long arithmetic is
    * order-independent), and decimal sums self-police (a LEGACY decimal
    * overflow nulls the per-file sum, which the sum-validity probe
    * already refuses). */
  private def ansiNow(spark: SparkSession): Boolean =
    try spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean
    catch { case _: IllegalArgumentException => true }

  private def statsFor(df: DataFrame, cols: Seq[String],
                       rootAbs: String,
                       sketchCols: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      (cols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          (count(lit(1)) - count(col(c))).as(s"${c}_nulls")) ++
          (if (types.get(c).exists(sumable))
             Seq(sum(col(c)).as(s"${c}_sum"))
           else Nil)
      } ++ {
        val (tagged, plainCols) =
          sketchCols.distinct.partition(_.startsWith(ThetaTag))
        val thetaCols = tagged.map(_.stripPrefix(ThetaTag)).distinct.sorted
        plainCols.sorted.flatMap { c =>
        // the sketch tier: one KLL (quantiles), one HLL (distincts) and
        // one frequent-items (heavy hitters) blob per file per column,
        // type-permitting — all fixed-size and MERGEABLE, so any later
        // union of manifest rows answers the approx profile of exactly
        // those files
        (if (types.get(c).exists(kllable))
           Seq(expr(s"kll_sketch_agg_double(CAST(`$c` AS DOUBLE), $KllK)")
             .as(s"${c}_kll"))
         else Nil) ++
          (if (types.get(c).exists(hllable))
             Seq(expr(s"hll_sketch_agg(`$c`, $HllLgK)").as(s"${c}_hll"))
           else Nil) ++
          (if (types.get(c).exists(freqableLong))
             Seq(graft.functions.Sketches.freqSketch(col(c), FreqMapSize)
               .as(s"${c}_frq"))
           else Nil) ++
          (if (types.get(c).exists(freqableStr))
             Seq(graft.functions.Sketches.freqSketchStr(col(c), FreqMapSize)
               .as(s"${c}_frqs"))
           else Nil)
        } ++ thetaCols.flatMap { c =>
          // the SET family: mergeable theta sketches answer overlap /
          // only-in-A questions across any two file scopes
          // ([[metaApproxOverlap]]) — opt-in, see [[ThetaLgK]]
          if (types.get(c).exists(thetable))
            Seq(graft.functions.Sketches.thetaSketch(col(c), ThetaLgK)
              .as(s"${c}_tht"))
          else Nil
        }
      })
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("built_ansi", lit(ansiNow(df.sparkSession)))
      .withColumn("part_dir", Manifests.partDirCol(rootAbs))
  }

  /** One pass: per data file, per indexed column — min/max/null count.
    * Wide-format manifest: `file, n_rows, <c>_min, <c>_max, <c>_nulls,
    * part_dir` (the shard key). */
  def build(spark: SparkSession, path: String, cols: Seq[String],
            sketchCols: Seq[String] = Nil): DataFrame = {
    val (_, root) = Manifests.fsFor(spark, path)
    statsFor(spark.read.parquet(path), cols, root.toUri.getPath, sketchCols)
  }

  /** The indexed column names, recovered from a manifest's schema — how
    * [[Compaction]] maintains (and [[graft.plans.GraftCatalog]]
    * self-describes) a zone map it didn't build. */
  private[graft] def manifestCols(spark: SparkSession,
                                  path: String): Seq[String] = {
    val fields = spark.read.parquet(s"$path/_zonemap").schema.fieldNames
    fields.filter(_.endsWith("_min")).map(_.stripSuffix("_min")).toSeq
  }

  private[graft] def manifestExists(spark: SparkSession,
                                    path: String): Boolean = {
    val (fs, root) = Manifests.fsFor(spark, path)
    fs.exists(new Path(root, "_zonemap"))
  }

  /** Incremental manifest maintenance — the per-micro-batch call for a
    * streaming sink: index ONLY files the manifest doesn't know yet
    * (identified by basename — part files carry a UUID), scanning just
    * those files, and REAP rows whose files no longer exist (a replayed
    * batch directory was overwritten under the same batchId, or a
    * compaction rewrote a leaf — either way the old part files are gone
    * and their zones must not surface as candidates). Cost per call is
    * O(new files) scan + a rewrite of only the AFFECTED manifest shards
    * (dynamic partition overwrite on `part_dir`); untouched shards are
    * never rewritten and the layout is never rescanned. The layout
    * listing is driver-side metadata. Indexed columns must be DATA
    * columns (reading a file set directly sees no Hive partition values —
    * partition columns already have partition pruning). */
  def update(spark: SparkSession, path: String,
             cols: Seq[String],
             sketchCols: Seq[String] = Nil): UpdateDelta = {
    val (fs, root) = Manifests.fsFor(spark, path)
    val rootAbs = root.toUri.getPath
    // the effective sketch tier is the UNION of what the caller asks for
    // and what the manifest already carries: an existing tier is
    // preserved across maintenance ticks even by callers that never
    // configured it (the manifest schema is the source of truth), and a
    // caller ADDING sketch columns to a pre-sketch manifest triggers the
    // schema-drift rebuild below exactly once, after which every
    // incremental tick writes the blobs alongside the zones
    val effSketch =
      (sketchCols ++
        (if (manifestExists(spark, path)) manifestSketchCols(spark, path)
         else Nil)).distinct.sorted
    // SCHEMA-DRIFT guard: a manifest written before a stats-schema change
    // (e.g. the per-file `<c>_sum` columns) cannot be extended
    // incrementally — a union would throw on the reap path and a plain
    // append would leave a SILENT mixed-schema manifest whose reader
    // drops the old files' sums. Rebuild the whole manifest once instead
    // (one distributed pass, the build cost) and return it as all-added.
    if (manifestExists(spark, path) &&
        !schemaMatches(spark, path, cols, effSketch)) {
      write(spark, path, cols, updateCatalog = false,
        sketchCols = effSketch)
      val n = Manifests.listDataFiles(fs, root).length.toLong
      return UpdateDelta(n, 0L)
    }
    val (added, reaped) = Manifests.incrementalUpdate(spark, path, "_zonemap",
      fresh => statsFor(
        spark.read.parquet(fresh.map(_.toString): _*), cols, rootAbs,
        effSketch))
    UpdateDelta(added, reaped)
  }

  /** [[schemaMatches]] verdicts, cached per (root, manifest version,
    * ON-DISK FINGERPRINT, cols). The in-process version alone is not a
    * safe key: an OUT-OF-PROCESS manifest rewrite with a different stats
    * schema never bumps this process's version, and a stale TRUE verdict
    * would let [[update]] incrementally union mismatched schemas — the
    * exact failure the check exists to prevent. The fingerprint is the
    * sorted `_zonemap` part-file listing (parquet part files are
    * immutable-by-name, so any rewrite mints fresh names), costing one
    * listing RPC per maintenance tick — still cheaper than the two
    * footer/schema round-trips the verdict replaces. A MISMATCH verdict
    * is never cached: it triggers a rebuild (new fingerprint) and must
    * be re-evaluated if the rebuild failed. */
  private val schemaVerdict =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, String, Seq[String]), java.lang.Boolean]()

  /** Strong digest (SHA-256, hex) of the sorted `_zonemap` part-file
    * listing — the on-disk identity that changes whenever ANY process
    * rewrites the manifest (parquet part files are immutable-by-name).
    * A 32-bit hash was not enough here: a collision across an
    * out-of-process rewrite would reuse a stale TRUE verdict and let
    * [[update]] incrementally union mismatched schemas — the exact
    * failure the fingerprint exists to prevent. Listing failure returns
    * None (a distinct never-cached state, NOT a fingerprint value):
    * the verdict is then computed uncached, so two unrelated failure
    * states can never alias each other. */
  private def manifestFingerprint(spark: SparkSession,
                                  path: String): Option[String] =
    try {
      val (mfs, mp) = Manifests.fsFor(spark, s"$path/_zonemap")
      val joined = Manifests.listDataFiles(mfs, mp).map(_.toString)
        .sorted.mkString("\n")
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Some(d.map(b => f"$b%02x").mkString)
    } catch { case _: Exception => None }

  /** Does the on-disk manifest carry exactly the statistic columns
    * [[statsFor]] would emit today for `cols` over this layout? */
  private def schemaMatches(spark: SparkSession, path: String,
                            cols: Seq[String],
                            sketchCols: Seq[String] = Nil): Boolean =
    manifestFingerprint(spark, path) match {
      case None =>
        // the on-disk identity is unknowable right now — never cache
        // (and never consult a cache keyed on a made-up identity)
        schemaMatchesUncached(spark, path, cols, sketchCols)
      case Some(fp) =>
        val key = (Manifests.fsFor(spark, path)._2.toUri.getPath,
          Manifests.manifestVersion(path, "_zonemap"), fp,
          cols.sorted ++ ("|" +: sketchCols.sorted))
        Option(schemaVerdict.get(key)) match {
          case Some(v) => v.booleanValue()
          case None =>
            val v = schemaMatchesUncached(spark, path, cols, sketchCols)
            if (v) {
              // stale-version entries accumulate one per maintenance tick —
              // a wholesale clear past a generous cap bounds the map without
              // an LRU's bookkeeping (re-probing after a clear is one tick's
              // round-trips)
              if (schemaVerdict.size() > 4096) schemaVerdict.clear()
              schemaVerdict.put(key, java.lang.Boolean.TRUE)
            }
            v
        }
    }

  private def schemaMatchesUncached(spark: SparkSession, path: String,
                                    cols: Seq[String],
                                    sketchCols: Seq[String]): Boolean = {
    // a layout with ZERO data files left (full retention wipe) cannot
    // answer a schema read — and needs no stats schema either: nothing
    // fresh will be indexed, the reap path never unions fresh stats
    val types =
      try spark.read.parquet(path).schema.fields
        .map(f => f.name -> f.dataType).toMap
      catch { case _: org.apache.spark.sql.AnalysisException => return true }
    val expected: Set[String] =
      Set("file", "n_rows", "built_ansi", "part_dir") ++
      cols.flatMap { c =>
        Seq(s"${c}_min", s"${c}_max", s"${c}_nulls") ++
          (if (types.get(c).exists(sumable)) Seq(s"${c}_sum") else Nil)
      } ++
      sketchCols.filterNot(_.startsWith(ThetaTag)).flatMap { c =>
        (if (types.get(c).exists(kllable)) Seq(s"${c}_kll") else Nil) ++
          (if (types.get(c).exists(hllable)) Seq(s"${c}_hll") else Nil) ++
          (if (types.get(c).exists(freqableLong)) Seq(s"${c}_frq") else Nil) ++
          (if (types.get(c).exists(freqableStr)) Seq(s"${c}_frqs") else Nil)
      } ++
      sketchCols.filter(_.startsWith(ThetaTag))
        .map(_.stripPrefix(ThetaTag)).flatMap { c =>
          if (types.get(c).exists(thetable)) Seq(s"${c}_tht") else Nil
        }
    spark.read.parquet(s"$path/_zonemap")
      .schema.fieldNames.toSet == expected
  }

  /** Persist the manifest next to the data (full rebuild, overwrite),
    * then SELF-DESCRIBE the layout in `_graft_catalog.json` beside the
    * data ([[graft.plans.GraftCatalog.selfDescribe]] — the
    * `FileDestination` discipline on the batch path): a fresh session's
    * plain range query prunes with zero setup. `updateCatalog = false`
    * opts out. */
  def write(spark: SparkSession, path: String, cols: Seq[String],
            updateCatalog: Boolean = true,
            sketchCols: Seq[String] = Nil): Unit = {
    build(spark, path, cols, sketchCols).coalesce(1)
      .write.mode("overwrite").partitionBy("part_dir")
      .parquet(s"$path/_zonemap")
    Manifests.bumpManifestVersion(path, "_zonemap")
    if (updateCatalog) graft.plans.GraftCatalog.selfDescribe(spark, path)
  }

  /** Rewrite the manifest shards for `dirs` (leaf directories relative to
    * the root) from the files currently on disk — [[Compaction]]'s hook:
    * it knows exactly which leaves it rewrote, so the zone map follows
    * the rewrite at O(rewritten dirs), never a full rebuild. */
  private[sources] def refreshShards(spark: SparkSession, path: String,
                                     dirs: Seq[String]): Unit = {
    if (dirs.isEmpty || !manifestExists(spark, path)) return
    val cols = manifestCols(spark, path)
    val sketchCols = manifestSketchCols(spark, path)
    // same schema-drift guard as [[update]]: a per-shard overwrite onto a
    // pre-drift manifest would leave shards with DIFFERENT schemas (the
    // reader then silently drops whichever columns its sampled footer
    // lacks) — rebuild wholesale instead
    if (!schemaMatches(spark, path, cols, sketchCols)) {
      write(spark, path, cols, updateCatalog = false,
        sketchCols = sketchCols)
      return
    }
    val (_, root) = Manifests.fsFor(spark, path)
    val rootAbs = root.toUri.getPath
    val abs = dirs.map(d =>
      if (d == ".") root.toString else new Path(root, d).toString)
    statsFor(spark.read.parquet(abs: _*), cols, rootAbs, sketchCols)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_dir")
      .parquet(s"$path/_zonemap")
    Manifests.bumpManifestVersion(path, "_zonemap")
  }

  /** Files whose zone intersects `[lo, hi]` on `c` (inclusive). A file
    * with an all-NULL zone for `c` never matches a range predicate.
    * `parts` restricts the intersect to those manifest shards (partition
    * pruning on the manifest read — supply it when the predicate is known
    * to live in specific partition directories). */
  def candidateFiles(spark: SparkSession, path: String, c: String,
                     lo: Any, hi: Any,
                     parts: Seq[String] = Nil): Seq[String] = {
    val m = zoneFilter(spark, path, c, lo, hi, parts)
    m.select("file").collect().map(_.getString(0)).toSeq
  }

  /** Candidate files for an OPTIONALLY-OPEN interval (None = unbounded
    * on that side) — the probe leg of the
    * [[graft.plans.RewriteToBloomPrunedJoin]] optimizer rule's range
    * case. Files whose zone cells are all-NULL never match a range
    * predicate (range comparisons are null-rejecting), so the
    * min-isNotNull guard is exact. */
  private[graft] def candidateFilesBounded(spark: SparkSession,
                                           path: String, c: String,
                                           lo: Option[Any], hi: Option[Any],
                                           parts: Seq[String] = Nil)
      : Seq[String] = {
    Manifests.shards(spark, path, "_zonemap", parts)
      .filter(candidate(ColRange(c, lo.map(Bound(_, true)),
        hi.map(Bound(_, true)))))
      .select("part_dir", "file").sort("part_dir", "file")
      .collect().map(_.getString(1)).toSeq
  }

  private def zoneFilter(spark: SparkSession, path: String, c: String,
                         lo: Any, hi: Any, parts: Seq[String]): DataFrame =
    Manifests.shards(spark, path, "_zonemap", parts)
      .filter(candidate(bandRange((c, lo, hi))))

  /** Range-predicate read through the manifest: scan ONLY candidate
    * files, then re-apply the exact predicate (zones are necessary, not
    * sufficient). Output == the full scan's filter, proven in spec.
    *
    * The intersect is ONE metadata-sized manifest job whose result
    * streams to the driver partition-ordered (`toLocalIterator` — memory
    * stays one batch wide, never the layout's file list), and the scan
    * plans as few batched parquet arms ([[Manifests.batchedRead]]), not
    * one union arm per shard. `parts` short-circuits the manifest scan
    * to those shards. */
  def prunedRead(spark: SparkSession, path: String, c: String,
                 lo: Any, hi: Any, parts: Seq[String] = Nil): DataFrame = {
    withinBands(Manifests.readListed(spark,
        zoneFilter(spark, path, c, lo, hi, parts), path)
      .getOrElse(spark.read.parquet(path).limit(0)), Seq((c, lo, hi)))
  }

  /** Answer table-level `count / min / max / null-count` aggregates from
    * the manifest ALONE — zero data files opened. The manifest already
    * holds each file's row count and per-column extrema, and those
    * statistics COMPOSE exactly (count = Σ counts, min = min of mins …),
    * so the classic "how big is this table, what's its value range"
    * dashboard query costs a files-sized metadata scan instead of a
    * 100 TB data scan — the trick every lakehouse table format plays with
    * its manifest tier, available here on plain parquet. Only these four
    * statistics compose losslessly from zones. This is the FIRST of the
    * library's three metadata tiers (README "metadata tiers"): grouped
    * SUM/COUNT/AVG roll-ups need maintained summaries
    * ([[graft.plans.SummaryViews]] over
    * [[graft.streaming.IncrementalAgg]]), and distincts/quantiles/heavy
    * hitters need the sketch tier — which the manifest itself can carry
    * per file ([[write]]'s `sketchCols` → [[metaApproxProfile]]), with
    * [[graft.functions.Sketches]] as the general surface — anything past
    * that honestly needs the data.
    *
    * Output: one row — `n_rows`, then per indexed column `<c>_min,
    * <c>_max, <c>_nulls` in NATIVE types (exactly what a raw-table
    * aggregate would return, proven under the oracle). */
  def metaProfile(spark: SparkSession, path: String,
                  cols: Seq[String]): DataFrame = {
    val m = spark.read.parquet(s"$path/_zonemap")
    val aggs: Seq[Column] = sum(col("n_rows")).as("n_rows") +:
      cols.flatMap { c =>
        Seq(min(col(s"${c}_min")).as(s"${c}_min"),
          max(col(s"${c}_max")).as(s"${c}_max"),
          sum(col(s"${c}_nulls")).as(s"${c}_nulls"))
      }
    m.agg(aggs.head, aggs.tail: _*)
  }

  /** Approximate quantiles and distinct counts from the manifest ALONE —
    * the sketch tier ([[write]]'s `sketchCols`) merged across files: the
    * per-file KLL/HLL blobs are MERGEABLE, and merging every file's
    * sketch is exactly sketching the whole layout (KLL merge preserves
    * the rank-error contract at equal k; HLL union is lossless at equal
    * lgK), so `approx_percentile`/`approx_count_distinct`-class questions
    * cost a files-sized manifest scan — zero data files opened, at any
    * layout size. Error contracts: KLL rank error ~1.65% (k=200,
    * one-sided per bound), HLL RSE ~0.8% (lgK=12) and EXACT below
    * sparse-mode capacity.
    *
    * This is deliberately an API, not a fourth rewrite rule: the rewrite
    * tier's contract is "rewrites never change answers", and serving
    * Spark's built-in `approx_count_distinct` (HyperLogLog++) or
    * `approx_percentile` (Greenwald-Khanna) from DataSketches blobs would
    * return a DIFFERENT estimate than the un-rewritten plan — same error
    * class, different bits. The honest surface is an explicit call whose
    * name says "approx".
    *
    * Output: one row — `n_rows` (exact, from the zone tier), then per
    * requested quantile `<c>_p<q*100>` (absent when the column carries no
    * KLL blob, i.e. non-numeric) and `<c>_approx_distinct` (absent
    * without an HLL blob). Columns the manifest never sketched throw —
    * the caller asked for a tier the layout doesn't carry. */
  def metaApproxProfile(spark: SparkSession, path: String,
                        cols: Seq[String],
                        quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                        bands: Seq[(String, Any, Any)] = Nil,
                        topK: Int = 0,
                        cdfAt: Seq[(String, Double)] = Nil)
      : DataFrame =
    profileCore(spark, path, Nil, None, cols, quantiles, bands, topK, cdfAt)

  /** [[metaApproxProfile]] GROUPED — "p99 of value and distinct users,
    * PER (TENANT, DAY, SOURCE)" from the manifest's sketch tier: one
    * output row per `groupCols` value TUPLE. A file HOMOGENEOUS in EVERY
    * group column (one value throughout, or all-NULL — the SQL NULL
    * group) belongs to exactly one tuple, so its per-file blobs merge
    * into that tuple's sketch directly; files mixed in ANY group column
    * scan raw with their rows grouped and re-sketched at the same FIXED
    * parameters (mergeable with the manifest blobs by construction).
    * Each group column independently may be a zone-indexed DATA column
    * or a HIVE PARTITION column — a directory-derived value is
    * homogeneous per file by construction and parses from the manifest's
    * own `part_dir` (percent-escaped values route to the scan leg rather
    * than risk a wrong decode; a column that is neither zone-indexed nor
    * a partition level refuses loudly). Per-group `n_rows` is exact;
    * quantile/distinct error contracts as [[metaApproxProfile]]. At
    * 100 TB over a clustered or partitioned layout the per-group profile
    * costs a files-sized manifest job plus the group-boundary files,
    * never a data scan. */
  def metaApproxProfileBy(spark: SparkSession, path: String,
                          groupCols: Seq[String], cols: Seq[String],
                          quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                          bands: Seq[(String, Any, Any)] = Nil,
                          topK: Int = 0,
                          cdfAt: Seq[(String, Double)] = Nil)
      : DataFrame = {
    require(groupCols.nonEmpty && groupCols.distinct == groupCols,
      s"bad group columns: $groupCols")
    profileCore(spark, path, groupCols, None, cols, quantiles, bands, topK,
      cdfAt)
  }

  /** [[metaApproxProfile]] under a SEMI-JOIN: approximate quantiles and
    * distinct counts of the fact rows whose `factKey` matches a key in
    * `dim` — "p99 of value and distinct users, for the dim-selected
    * keys" — answered from the manifest's sketch tier wherever the
    * layout's clustering allows. A file HOMOGENEOUS in `factKey` (one
    * key throughout, zero nulls) either matches the dim entirely or not
    * at all, so its per-file blobs ARE the sketches of its matching
    * rows and merge in directly; mixed files scan raw with their
    * matching rows re-sketched at the same FIXED parameters (mergeable
    * with the manifest blobs by construction), and files all-NULL in
    * the key match nothing (null never equals). Semantics are the SEMI
    * join — each fact row counted once however many dim rows match, the
    * natural reading of "rows matching this dim" (an INNER-join profile
    * would weight rows by dim multiplicity, which a quantile/distinct
    * question never wants). `factKey` may be a zone-indexed column or a
    * Hive partition column (a tenant-dim gate on a partitioned lake).
    * `n_rows` is exact; quantile/distinct error contracts as
    * [[metaApproxProfile]]. The dim evaluates once per leg — pass a
    * small, deterministic key set. At 100 TB over a key-clustered layout
    * the cost is a files-sized manifest job plus the key-boundary files,
    * never a fact scan. */
  def metaApproxProfileSemiJoin(spark: SparkSession, path: String,
                                factKey: String,
                                dim: DataFrame, dimKey: String,
                                cols: Seq[String],
                                quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                                bands: Seq[(String, Any, Any)] = Nil,
                                topK: Int = 0,
                                cdfAt: Seq[(String, Double)] = Nil)
      : DataFrame =
    profileCore(spark, path, Nil, Some((factKey, dim, dimKey)), cols,
      quantiles, bands, topK, cdfAt)

  /** [[metaApproxProfileBy]] ∘ [[metaApproxProfileSemiJoin]] — the real
    * monitoring query: "p99 of value PER TENANT/DAY, for the
    * dim-selected keys". One output row per `groupCols` tuple, over only
    * the fact rows whose `factKey` matches a key in `dim` (SEMI
    * semantics — rows counted once however many dim rows match). A file
    * serves from its manifest blobs when it is homogeneous in EVERY
    * group column AND in the key (its single key then matches the dim
    * entirely or not at all, and its blobs are the sketches of its
    * matching rows, already in the right group); files mixed in any of
    * them scan raw with their matching rows grouped and re-sketched at
    * the same FIXED parameters; files all-NULL in the key match nothing
    * and are never touched. Group columns and the key independently may
    * be zone-indexed data columns or Hive partition columns. Per-group
    * `n_rows` is exact; error contracts as [[metaApproxProfile]]. At
    * 100 TB the cost is a files-sized manifest job plus the boundary
    * files — never a fact scan. */
  def metaApproxProfileSemiJoinBy(spark: SparkSession, path: String,
                                  factKey: String,
                                  dim: DataFrame, dimKey: String,
                                  groupCols: Seq[String], cols: Seq[String],
                                  quantiles: Seq[Double] =
                                    Seq(0.5, 0.9, 0.99),
                                  bands: Seq[(String, Any, Any)] = Nil,
                                  topK: Int = 0,
                                  cdfAt: Seq[(String, Double)] = Nil)
      : DataFrame = {
    require(groupCols.nonEmpty && groupCols.distinct == groupCols,
      s"bad group columns: $groupCols")
    profileCore(spark, path, groupCols, Some((factKey, dim, dimKey)), cols,
      quantiles, bands, topK, cdfAt)
  }

  /** Per-file statistics for every column a metadata-serving decision
    * needs: the zone tier's own `_min/_max/_nulls` when present, else
    * synthesized from `part_dir` for a Hive partition level — the value
    * TYPE comes from the layout schema (a retention-wiped layout can't
    * be read, so its partition values stay strings, exactly as they sit
    * in part_dir). A column that extracts empty from EVERY part_dir is
    * genuinely not a partition level and refuses loudly (lumping the
    * layout into one NULL group would be a silent wrong answer); a
    * PARTIAL empty extraction routes those files to the caller's
    * boundary leg ([[withPartStats]]): degraded cost, never a refused
    * layout or a wrong group. */
  private def withSynthStats(spark: SparkSession, path: String,
                             m: DataFrame, fields: Set[String],
                             statCols: Seq[String]): DataFrame =
    statCols.foldLeft(m) { (d, gc) =>
      if (fields.contains(s"${gc}_min") && fields.contains(s"${gc}_nulls")) d
      else {
        val dt =
          try spark.read.parquet(path).schema.fields
            .find(_.name == gc)
            .getOrElse(throw new IllegalArgumentException(
              s"unknown column '$gc' — not zone-indexed and not in the " +
                s"layout schema")).dataType
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              org.apache.spark.sql.types.StringType
          }
        require(d.filter(partDirValue(gc) =!= "").limit(1).count() > 0L,
          s"'$gc' is neither zone-indexed nor a partition level " +
            s"of this layout — add it to the zone map's cols")
        withPartStats(d, gc, dt)
      }
    }

  /** The one engine behind the four profile fronts ([[metaApproxProfile]]
    * global / [[metaApproxProfileBy]] grouped /
    * [[metaApproxProfileSemiJoin]] gated /
    * [[metaApproxProfileSemiJoinBy]] both): split the manifest into a
    * SERVED leg (files homogeneous in every group column and — when
    * gated — in the key, matched against the dim's distinct keys; their
    * per-file blobs merge directly, grouped by each file's single value
    * tuple) and a BOUNDARY leg (everything else except all-NULL-key
    * files under a gate, which match nothing; scanned raw, gated,
    * grouped, re-sketched at the same fixed k/lgK so the blobs merge
    * losslessly with the manifest's), then merge the two legs' blobs per
    * group tuple and read the estimates out. `bands` (closed ranges,
    * ANDed — every front takes them) adds the predicate axis: fully
    * covered files serve whole, disjoint and all-NULL files are
    * excluded, partial files re-apply the exact predicate on the raw
    * leg — "p99 of value for k ∈ [a, b], per tenant, for dim-selected
    * keys" in one files-sized call. Group/key/band statistics come
    * from the zone tier, or are synthesized from `part_dir` for Hive
    * partition columns (the NULL group for `__HIVE_DEFAULT_PARTITION__`;
    * percent-escaped values get `nulls = -1`, failing homogeneity and
    * routing to the boundary leg rather than risking a wrong decode; a
    * column that is neither refuses loudly — lumping the layout into one
    * NULL group would be a silent wrong answer). */
  private def profileCore(spark: SparkSession, path: String,
                          groupCols: Seq[String],
                          gate: Option[(String, DataFrame, String)],
                          cols: Seq[String],
                          quantiles: Seq[Double],
                          bands: Seq[(String, Any, Any)] = Nil,
                          topK: Int = 0,
                          cdfAt: Seq[(String, Double)] = Nil): DataFrame = {
    require(quantiles.forall(q => q > 0 && q <= 1), s"bad quantiles: $quantiles")
    val m = spark.read.parquet(s"$path/_zonemap")
    val fields = m.schema.fieldNames.toSet
    require(cols.nonEmpty && cols.forall(c =>
        fields.contains(s"${c}_kll") || fields.contains(s"${c}_hll")),
      s"no sketch tier for ${cols.filterNot(c => fields.contains(s"${c}_kll") ||
        fields.contains(s"${c}_hll")).mkString(",")} — " +
        s"rebuild the manifest with sketchCols")
    // a CDF probe against a column that is not requested, or that carries
    // no KLL blob (non-numeric), would silently produce NO output column
    // — refuse loudly instead; same for non-finite probes (NaN would
    // reach the SQL parser as an identifier) and duplicate probes
    // (duplicate output column names)
    require(cdfAt.forall { case (c, _) =>
        cols.contains(c) && fields.contains(s"${c}_kll") },
      s"cdfAt columns must be requested cols carrying a KLL blob: " +
        s"${cdfAt.collect { case (c, _) if !cols.contains(c) ||
          !fields.contains(s"${c}_kll") => c }.distinct.mkString(",")}")
    require(cdfAt.forall(p => java.lang.Double.isFinite(p._2)) &&
        cdfAt.distinct == cdfAt,
      s"cdfAt probes must be finite and distinct: $cdfAt")
    // topK against a manifest with NO frequent-items blobs on any
    // requested column (pre-heavy-hitters build, or all-double cols)
    // would silently emit no _topk output at all — refuse loudly; a
    // per-column absence among several requested cols stays the
    // established by-TYPE convention (doubles carry no freq blob, the
    // column is absent, not wrong)
    require(topK == 0 || cols.exists(c =>
        fields.contains(s"${c}_frq") || fields.contains(s"${c}_frqs")),
      s"topK requested but no requested column carries a frequent-items " +
        s"blob — rebuild the manifest (sketchCols) to add the " +
        s"heavy-hitters tier")
    // per-file statistics for every column the serving decision needs:
    // the zone tier's, or synthesized from part_dir for partition levels
    val statCols = (groupCols ++ gate.map(_._1) ++ bands.map(_._1)).distinct
    val mg = withSynthStats(spark, path, m, fields, statCols)
    // a group column is servable homogeneous when one value throughout
    // OR all-NULL (the SQL NULL group); the gate key strictly (all-NULL
    // files match NOTHING — excluded from both legs, null never equals).
    // A band (closed range predicate, ANDed) splits files three ways:
    // [[covered]] files serve whole, files that are no [[candidate]]
    // (disjoint or all-NULL) are excluded from both legs, anything else —
    // partial overlap, some-null files, unknown bounds (nulls = -1) —
    // scans raw with the exact predicate re-applied.
    def groupHomog(c: String): Column =
      singleValued(c) || col(s"${c}_nulls") === col("n_rows")
    val keyHomog = gate.map { case (k, _, _) => singleValued(k) }
    val ranges = bands.map(bandRange)
    // only a definite TRUE may serve or exclude: a NULL verdict (a NULL
    // band literal) falls to the BOUNDARY leg, where the exact predicate
    // decides. Without the coalesce a NULL `excluded` would fail BOTH
    // legs' filters and silently drop the file's rows.
    val excluded = coalesce(
      (gate.map { case (k, _, _) =>
          col(s"${k}_nulls") === col("n_rows") } ++
        ranges.map(r => !candidate(r, unknownBounds = true)))
        .reduceOption(_ || _).getOrElse(lit(false)),
      lit(false))
    val servedCond = coalesce(
      (groupCols.map(groupHomog) ++ keyHomog ++ ranges.map(covered))
        .reduceOption(_ && _).getOrElse(lit(true)),
      lit(false))
    val keys = gate.map { case (_, dim, dimKey) =>
      dim.select(col(dimKey).as("__graft_dim_key")).distinct() }
    // leg 1 — served: whole files answer from their manifest blobs,
    // grouped by each file's single value tuple (and, under a gate,
    // kept iff the file's single key matches the dim)
    val servedRows = (gate, keys) match {
      case (Some((k, _, _)), Some(ks)) =>
        mg.filter(servedCond && !excluded)
          .join(ks, col(s"${k}_min") === col("__graft_dim_key"), "left_semi")
      case _ => mg.filter(servedCond && !excluded)
    }
    val servedBlobs = {
      val aggs: Seq[Column] =
        (if (groupCols.isEmpty) coalesce(sum(col("n_rows")), lit(0L))
         else sum(col("n_rows"))).as("__n") +:
          cols.flatMap { c =>
            (if (fields.contains(s"${c}_kll"))
               Seq(expr(s"kll_merge_agg_double(`${c}_kll`)").as(s"${c}_b_kll"))
             else Nil) ++
              (if (fields.contains(s"${c}_hll"))
                 Seq(expr(s"hll_union_agg(`${c}_hll`, true)").as(s"${c}_b_hll"))
               else Nil) ++
              (if (topK > 0 && fields.contains(s"${c}_frq"))
                 Seq(graft.functions.Sketches
                   .freqMerge(col(s"${c}_frq"), FreqMapSize)
                   .as(s"${c}_b_frq"))
               else Nil) ++
              (if (topK > 0 && fields.contains(s"${c}_frqs"))
                 Seq(graft.functions.Sketches
                   .freqMergeStr(col(s"${c}_frqs"), FreqMapSize)
                   .as(s"${c}_b_frqs"))
               else Nil)
          }
      servedRows.groupBy(groupCols.zipWithIndex.map { case (c, i) =>
          soleValue(c).as(s"__g$i") }: _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    // leg 2 — boundary files scan raw, their (matching) rows grouped by
    // the real columns and re-sketched at the SAME k/lgK so the blobs
    // merge losslessly with the manifest's
    val rawBlobs = Manifests.readListed(spark,
        mg.filter(!servedCond && !excluded), path)
      .map { df =>
        val banded = withinBands(df, bands)
        val gated = (gate, keys) match {
          case (Some((k, _, _)), Some(ks)) =>
            banded.join(ks, banded.col(k) === col("__graft_dim_key"),
              "left_semi")
          case _ => banded
        }
        val aggs: Seq[Column] = count(lit(1)).as("__n") +:
          cols.flatMap { c =>
            (if (fields.contains(s"${c}_kll"))
               Seq(expr(s"kll_sketch_agg_double(CAST(`$c` AS DOUBLE), $KllK)")
                 .as(s"${c}_b_kll"))
             else Nil) ++
              (if (fields.contains(s"${c}_hll"))
                 Seq(expr(s"hll_sketch_agg(`$c`, $HllLgK)").as(s"${c}_b_hll"))
               else Nil) ++
              (if (topK > 0 && fields.contains(s"${c}_frq"))
                 Seq(graft.functions.Sketches
                   .freqSketch(gated.col(c), FreqMapSize).as(s"${c}_b_frq"))
               else Nil) ++
              (if (topK > 0 && fields.contains(s"${c}_frqs"))
                 Seq(graft.functions.Sketches
                   .freqSketchStr(gated.col(c), FreqMapSize)
                   .as(s"${c}_b_frqs"))
               else Nil)
          }
        gated.groupBy(groupCols.zipWithIndex.map { case (c, i) =>
            gated.col(c).as(s"__g$i") }: _*)
          .agg(aggs.head, aggs.tail: _*)
      }
    val both = rawBlobs.fold(servedBlobs)(servedBlobs.unionByName(_))
    val merges: Seq[Column] = sum(col("__n")).as("n_rows") +:
      cols.flatMap { c =>
        (if (fields.contains(s"${c}_kll"))
           Seq(expr(s"kll_merge_agg_double(`${c}_b_kll`)").as(s"${c}_mk"))
         else Nil) ++
          (if (fields.contains(s"${c}_hll"))
             Seq(expr(s"hll_union_agg(`${c}_b_hll`, true)").as(s"${c}_mh"))
           else Nil) ++
          (if (topK > 0 && fields.contains(s"${c}_frq"))
             Seq(graft.functions.Sketches
               .freqMerge(col(s"${c}_b_frq"), FreqMapSize).as(s"${c}_mf"))
           else Nil) ++
          (if (topK > 0 && fields.contains(s"${c}_frqs"))
             Seq(graft.functions.Sketches
               .freqMergeStr(col(s"${c}_b_frqs"), FreqMapSize)
               .as(s"${c}_mfs"))
           else Nil)
      }
    val merged = both.groupBy(groupCols.zipWithIndex.map { case (c, i) =>
        col(s"__g$i").as(c) }: _*)
      .agg(merges.head, merges.tail: _*)
    def pct(q: Double): String = {
      val v = q * 100
      if (v == v.floor) f"${v.toInt}%d" else f"$v%.4f".replace('.', '_')
    }
    def fmtV(v: Double): String =
      (if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
       else v.toString).replace('.', '_').replace("-", "m")
    val outs: Seq[Column] = groupCols.map(col) ++ (col("n_rows") +:
      cols.flatMap { c =>
        (if (fields.contains(s"${c}_kll"))
           quantiles.map(q =>
             expr(s"kll_sketch_get_quantile_double(`${c}_mk`, $q)")
               .as(s"${c}_p${pct(q)}"))
         else Nil) ++
          (if (fields.contains(s"${c}_hll"))
             Seq(round(expr(s"hll_sketch_estimate(`${c}_mh`)")).cast("long")
               .as(s"${c}_approx_distinct"))
           else Nil) ++
          (if (topK > 0 && fields.contains(s"${c}_frq"))
             Seq(graft.functions.Sketches.freqTopK(col(s"${c}_mf"), topK)
               .as(s"${c}_topk"))
           else Nil) ++
          (if (topK > 0 && fields.contains(s"${c}_frqs"))
             Seq(graft.functions.Sketches.freqTopKStr(col(s"${c}_mfs"), topK)
               .as(s"${c}_topk"))
           else Nil) ++
          // inverse quantiles — "what share of rows sits at or below v"
          // (inclusive rank; in the exact regime this IS the exact
          // fraction). Requested per (column, value); a probe against a
          // column with no KLL blob refuses via the same cols require.
          cdfAt.collect {
            case (cc, v) if cc == c && fields.contains(s"${c}_kll") =>
              expr(s"kll_sketch_get_rank_double(`${c}_mk`, " +
                  s"CAST($v AS DOUBLE))")
                .as(s"${c}_cdf_${fmtV(v)}")
          }
      })
    merged.select(outs: _*)
  }

  /** Set OVERLAP between two file scopes from the manifest's theta tier
    * — the retention question HLL cannot answer: how many distinct `c`
    * values appear in scope A, in scope B, in BOTH, only in A, only in
    * B. A scope is a conjunction of closed bands over zone-indexed or
    * Hive-partition columns (Nil = the whole layout) — "users active on
    * day X vs day Y", "keys in tenant T vs everywhere else". Files
    * fully covered by a scope contribute their `_tht` blobs whole,
    * partially-overlapping files re-sketch their passing rows at the
    * same lgK (mergeable by construction), disjoint and
    * indefinite-verdict files follow the same three-valued discipline
    * as [[metaApproxProfile]]'s bands (definite TRUE serves or
    * excludes; anything else scans). Estimates are EXACT while a
    * scope's distinct count stays below 2^[[ThetaLgK]]; beyond, ~1.6%
    * RSE per scope and the published theta intersection envelope.
    * `n_rows_a`/`n_rows_b` are exact scope row counts. Requires a
    * `theta:<c>` entry in the layout's sketchCols. At 100 TB the cost
    * is a files-sized manifest job plus each scope's boundary files —
    * never two full scans and a distinct-join. */
  def metaApproxOverlap(spark: SparkSession, path: String, c: String,
                        bandsA: Seq[(String, Any, Any)],
                        bandsB: Seq[(String, Any, Any)]): DataFrame = {
    val m = spark.read.parquet(s"$path/_zonemap")
    val fields = m.schema.fieldNames.toSet
    require(fields.contains(s"${c}_tht"),
      s"no theta blobs for '$c' — rebuild the manifest with a " +
        s"'$ThetaTag$c' entry in sketchCols")
    def scopeSketch(bands: Seq[(String, Any, Any)]): DataFrame = {
      val mg = withSynthStats(spark, path, m, fields,
        bands.map(_._1).distinct)
      val ranges = bands.map(bandRange)
      val servedCond = coalesce(ranges.map(covered)
        .reduceOption(_ && _).getOrElse(lit(true)), lit(false))
      val excluded = coalesce(
        ranges.map(r => !candidate(r, unknownBounds = true))
          .reduceOption(_ || _).getOrElse(lit(false)), lit(false))
      val served = mg.filter(servedCond).agg(
        coalesce(sum(col("n_rows")), lit(0L)).as("__n"),
        graft.functions.Sketches.thetaUnion(col(s"${c}_tht"), ThetaLgK)
          .as("__sk"))
      val raw = Manifests.readListed(spark,
          mg.filter(!servedCond && !excluded), path)
        .map { df =>
          val pass = withinBands(df, bands)
          pass.agg(count(lit(1)).as("__n"),
            graft.functions.Sketches.thetaSketch(pass.col(c), ThetaLgK)
              .as("__sk"))
        }
      raw.fold(served)(served.unionByName(_))
        .agg(sum(col("__n")).as("__n"),
          graft.functions.Sketches.thetaUnion(col("__sk"), ThetaLgK)
            .as("__sk"))
    }
    val a = scopeSketch(bandsA)
      .select(col("__n").as("n_rows_a"), col("__sk").as("__ska"))
    val b = scopeSketch(bandsB)
      .select(col("__n").as("n_rows_b"), col("__sk").as("__skb"))
    import graft.functions.Sketches
    // two one-row frames — the broadcast-totals crossJoin pattern
    a.crossJoin(b).select(
      col("n_rows_a"), col("n_rows_b"),
      round(Sketches.thetaEstimate(col("__ska"))).cast("long")
        .as(s"${c}_distinct_a"),
      round(Sketches.thetaEstimate(col("__skb"))).cast("long")
        .as(s"${c}_distinct_b"),
      round(Sketches.thetaIntersectEstimate(col("__ska"), col("__skb")))
        .cast("long").as(s"${c}_overlap"),
      round(Sketches.thetaAnotBEstimate(col("__ska"), col("__skb")))
        .cast("long").as(s"${c}_only_a"),
      round(Sketches.thetaAnotBEstimate(col("__skb"), col("__ska")))
        .cast("long").as(s"${c}_only_b"))
  }

  /** Clustering diagnostic per indexed NUMERIC column: mean zone width
    * as a share of the global value range (`width_share`). ~files⁻¹ on a
    * perfectly range-clustered layout, ~1.0 on a random layout — the
    * number that says whether building this index will prune anything,
    * read from the manifest alone (no data scan). */
  def diagnose(spark: SparkSession, path: String,
               cols: Seq[String]): DataFrame = {
    val m = spark.read.parquet(s"$path/_zonemap")
    val frames = cols.map { c =>
      m.agg(
          avg(col(s"${c}_max").cast("double") -
            col(s"${c}_min").cast("double")).as("mean_width"),
          (max(col(s"${c}_max").cast("double")) -
            min(col(s"${c}_min").cast("double"))).as("global_range"))
        .select(lit(c).as("col_name"),
          round(col("mean_width") /
            when(col("global_range") === 0d, lit(null))
              .otherwise(col("global_range")), 6).as("width_share"))
    }
    frames.reduce(_ unionByName _)
  }
}
