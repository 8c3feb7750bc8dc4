package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.sources.Manifests.normPath

/** Persistence + discovery for the optimizer-tier registries — the fix
  * for "the registry dies with the session": `register(...)` then
  * [[save]] records [[BloomJoins]] layouts, zone layouts and
  * [[SummaryViews]] views in a small `_graft_catalog.json` file BESIDE
  * the data (exactly where the `_bloomindex`/`_zonemap` manifests and
  * the summary state already live), and the rules DISCOVER it: the
  * first time a query plans over an unregistered path, the rule checks
  * once for a catalog file and loads it. A fresh session — including a
  * SQL-only user who has never heard of `register()` — then prunes plain
  * `spark.sql` over any previously-catalogued layout with zero setup.
  * [[graft.streaming.Destination]]'s `FileDestination` writes this
  * catalog itself when it maintains zone/bloom manifests, so streamed
  * layouts self-describe without any call at all.
  *
  * Cost discipline: discovery is one filesystem `exists` per DISTINCT
  * scanned root (hit or miss, the attempt is cached in memory); every
  * subsequent query pays a map lookup. A HIT is pinned for the session
  * (the same freshness contract as Spark's own FileIndex caching); a
  * MISS expires after `spark.graft.catalog.negativeTtlMs` (default
  * 5 min), so a long-lived session eventually sees a catalog another
  * process wrote after its first look — at one re-probe per TTL window.
  *
  * Off switch: `spark.graft.catalog.autoload=false` disables discovery
  * (explicit `register()`/[[load]] calls keep working).
  *
  * Concurrency contract, two layers. IN-PROCESS: saves serialize on a
  * per-root lock, so concurrent threads registering different entries
  * both land, deterministically (spec-proven with two threads).
  * CROSS-PROCESS: each save merges with the existing catalog, renames
  * atomically, then READS BACK and verifies its own entries — a racing
  * process whose rename landed between our merge-read and our rename is
  * detected and the merge retries from the new on-disk state. The one
  * residual window (a stale writer's rename landing AFTER our verify
  * read) is narrowed to a single read's width and, entries being
  * per-identity upserts, costs PRUNING until the loser's next save —
  * never correctness.
  */
object GraftCatalog {

  private val FileName = "_graft_catalog.json"

  /** Roots already probed for a catalog this session, mapped to the
    * probe's re-check deadline: a POSITIVE probe (catalog found and
    * loaded) never re-probes (`Long.MaxValue` — the same freshness
    * contract as Spark's FileIndex caching), while a NEGATIVE probe
    * expires after `spark.graft.catalog.negativeTtlMs` (default 5 min) so
    * a long-lived session eventually SEES a catalog written after its
    * first look. One `exists` per TTL window per missing root is the
    * whole steady-state cost. */
  private val attempted =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Injectable clock (specs drive the negative-TTL expiry). */
  private[plans] var clock: () => Long = () => System.currentTimeMillis()

  /** A persisted non-layout artifact living at its own root — an ANN
    * index, a dedup index, a bucketed table. Artifacts carry no
    * optimizer behavior (their consumers take the path explicitly); the
    * catalog records WHAT lives there and under WHICH parameters, so
    * `describe` makes the lake self-documenting and a fresh session can
    * rediscover an index another process built. One artifact per KIND
    * per root (the writers own their roots exclusively). */
  final case class Artifact(kind: String, params: Map[String, String])

  private val artifactReg = new PlanShapes.PathRegistry[Artifact](_.kind)

  def registerArtifact(root: String, a: Artifact): Unit =
    artifactReg.register(root, a)

  def artifactsFor(root: String): Seq[Artifact] = artifactReg.get(root)

  /** Spec/fresh-session hook (the registries sibling of [[clearCache]]). */
  private[graft] def clearArtifacts(): Unit = artifactReg.clear()

  /** The artifact writers' self-description hook — [[graft.functions]]
    * index builders and [[graft.sources.Bucketing]] call this after their
    * write lands, mirroring [[selfDescribe]] for layouts: register the
    * artifact (in-session registration wins over on-disk, which [[load]]
    * fills first) and merge-write the catalog AT THE ARTIFACT ROOT. A
    * catalog failure REFUSES loudly (the artifact itself already landed
    * and stays fully usable by path) — never fails the build. Concurrent
    * describes of DIFFERENT kinds at one root converge through [[save]]'s
    * read-verify-retry (the load→register→save here is not itself
    * locked; the save-level verification is what makes the composed
    * read-modify-write safe). */
  def describeArtifact(spark: SparkSession, root: String,
                       kind: String, params: Map[String, String]): Unit =
    try {
      load(spark, root)
      registerArtifact(root, Artifact(kind, params))
      save(spark, root)
    } catch { case e: Exception =>
      BloomJoins.refused(root, "self-describe", e)
    }

  /** Drop the discovery memory (NOT the registries): the next query
    * re-probes. Spec/fresh-session hook. */
  def clearCache(): Unit = attempted.clear()

  private val mapper = new ObjectMapper()

  /** Write the catalog for `root`: every CURRENTLY-registered bloom
    * layout, zone layout and summary view whose data path is `root`,
    * MERGED over whatever catalog already sits there — an existing
    * on-disk entry survives unless this session carries its OWN entry
    * for the same identity (bloom/zone column, view state path), in
    * which case the in-memory one wins. Merge-by-default means two
    * sequential sessions each registering one column both survive, and a
    * session that never called [[load]] cannot clobber entries it has
    * never seen. Pass `merge = false` to OVERWRITE — the explicit
    * "drop what I did not re-register" path (e.g. after an unregister).
    * The write is atomic: temp file + rename-with-overwrite (no
    * delete-then-rename window where readers see no catalog).
    *
    * CONCURRENT merge-writers converge through read-verify-retry: after
    * the rename, the catalog is read back and this session's own entries
    * checked present — a racing writer whose rename landed after ours
    * (built from a pre-merge read) is detected and the merge re-runs
    * from the NEW on-disk state, which by then carries the racer's
    * entries. Entries are per-identity upserts, so every retry is
    * monotone; exhausting the retries refuses loudly (pruning lost,
    * never correctness). `merge = false` skips verification — overwrite
    * IS last-writer-wins by contract.
    *
    * OVERWRITE vs CONCURRENT MERGERS: the verify-retry cannot distinguish
    * a lost race from an INTENTIONAL drop — a `merge = false` overwrite
    * (the unregister path) landing between a merger's rename and its
    * verify read looks to that merger exactly like a racing merge, and
    * its retry re-merges from the overwritten state, resurrecting the
    * deliberately-dropped entries. Unregistering therefore requires
    * QUIESCING concurrent merge-writers of the same root first (the same
    * single-maintenance-process discipline every manifest rebuild here
    * already assumes); under that discipline the overwrite is the last
    * write and sticks. The failure mode when violated is stale
    * registrations (pruning attempted against a deleted manifest refuses
    * loudly at probe time) — never wrong answers. */
  def save(spark: SparkSession, root: String, merge: Boolean = true): Unit =
    // IN-PROCESS writers serialize per root: two threads saving the same
    // root compose deterministically (no retry needed). The verify-retry
    // below is the CROSS-PROCESS backstop, where no shared lock exists.
    saveLocks.computeIfAbsent(normPath(root), _ => new Object).synchronized {
      var attempt = 0
      var done = false
      while (!done) {
        val written = saveOnce(spark, root, merge)
        attempt += 1
        if (!merge || verifyOwn(spark, root, written)) done = true
        else if (attempt >= 5) {
          BloomJoins.refused(root, "catalog-save", new java.io.IOException(
            "concurrent catalog writers kept racing; an entry of this " +
              "session may be missing until its next save"))
          done = true
        }
      }
    }

  private val saveLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The identities this session wrote — what [[save]] verifies. */
  private final case class Written(bloom: Set[String], zones: Set[String],
                                   views: Set[String], arts: Set[String])

  private def verifyOwn(spark: SparkSession, root: String,
                        w: Written): Boolean =
    try {
      val (fs, rootPath) = graft.sources.Manifests.fsFor(spark, root)
      val in = fs.open(new Path(rootPath, FileName))
      val doc = try mapper.readTree(in) finally in.close()
      w.bloom.subsetOf(
        arr(doc, "bloom").map(_.get("col").asText()).toSet) &&
        w.zones.subsetOf(
          arr(doc, "zones").map(_.get("col").asText()).toSet) &&
        w.views.subsetOf(
          arr(doc, "views").map(n => normPath(n.get("statePath").asText())).toSet) &&
        w.arts.subsetOf(
          arr(doc, "artifacts").map(_.get("kind").asText()).toSet)
    } catch { case _: Exception => false } // unreadable: let the loop retry

  private def saveOnce(spark: SparkSession, root: String,
                       merge: Boolean): Written = {
    val doc = mapper.createObjectNode()
    val blooms = doc.putArray("bloom")
    val bloomCols = BloomJoins.layoutsFor(root).map { l =>
      val n = blooms.addObject()
      n.put("col", l.col)
      n.put("maxKeys", l.maxKeys)
      l.col
    }.toSet
    val zs = doc.putArray("zones")
    val zoneCols = BloomJoins.zoneLayoutsFor(root).map { z =>
      zs.addObject().put("col", z.col)
      z.col
    }.toSet
    val vs = doc.putArray("views")
    val viewPaths = SummaryViews.viewsFor(root).map { v =>
      val n = vs.addObject()
      n.put("statePath", v.statePath)
      strArr(n, "keyCols", v.keyCols)
      strArr(n, "sumCols", v.sumCols.toSeq.sorted)
      v.countCol.foreach(n.put("countCol", _))
      strMap(n, "nnCounts", v.nnCounts)
      strMap(n, "minCols", v.minCols)
      strMap(n, "maxCols", v.maxCols)
      normPath(v.statePath)
    }.toSet
    val arts = doc.putArray("artifacts")
    val artKinds = artifactsFor(root).map { a =>
      val n = arts.addObject()
      n.put("kind", a.kind)
      strMap(n, "params", a.params)
      a.kind
    }.toSet
    val (fs, rootPath) = graft.sources.Manifests.fsFor(spark, root)
    val target = new Path(rootPath, FileName)
    if (merge && fs.exists(target)) {
      // fold in on-disk entries this session does not itself carry (a
      // malformed existing catalog refuses the MERGE loudly but never
      // the save — the fresh entries still land)
      try {
        val in = fs.open(target)
        val old = try mapper.readTree(in) finally in.close()
        arr(old, "bloom")
          .filterNot(n => bloomCols.contains(n.get("col").asText()))
          .foreach(n => blooms.add(n))
        arr(old, "zones")
          .filterNot(n => zoneCols.contains(n.get("col").asText()))
          .foreach(n => zs.add(n))
        arr(old, "views")
          .filterNot(n =>
            viewPaths.contains(normPath(n.get("statePath").asText())))
          .foreach(n => vs.add(n))
        arr(old, "artifacts")
          .filterNot(n => artKinds.contains(n.get("kind").asText()))
          .foreach(n => arts.add(n))
      } catch { case e: Exception =>
        BloomJoins.refused(root, "catalog-merge", e)
      }
    }
    // per-write temp name: concurrent writers must not truncate each
    // other's in-flight temp (the rename below is the only shared step).
    // Unique names LEAK on failure where the old fixed name self-overwrote,
    // so any incomplete attempt deletes its own temp on the way out.
    val tmp = new Path(rootPath,
      s".$FileName.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    var renamed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(doc))
      finally out.close()
      renameOverwrite(spark, fs, tmp, target)
      renamed = true
    } finally {
      if (!renamed) {
        try fs.delete(tmp, false)
        catch { case _: Exception => () } // best effort; original error wins
      }
    }
    testAfterRename() // spec-only hook: simulates a cross-process racer
    // this session has by definition "attempted" the root — and found it
    attempted.put(normPath(root), java.lang.Long.MAX_VALUE)
    Written(bloomCols, zoneCols, viewPaths, artKinds)
  }

  /** Spec-only injection point: runs between [[saveOnce]]'s rename and
    * [[save]]'s verification read — the window where a CROSS-PROCESS
    * writer's stale rename can land. Specs overwrite the catalog here to
    * prove the verify-retry re-merges and converges. */
  private[plans] var testAfterRename: () => Unit = () => ()

  /** The batch writers' self-description hook — [[graft.sources.BloomIndex]]
    * `.write`, [[graft.sources.ZoneMap]]`.write` and
    * [[graft.sources.Compaction]] call this after their manifest lands,
    * extending `FileDestination`'s streaming discipline to the batch
    * path: derive this root's registrations from the manifests ON DISK
    * (the `<col>_bloom` / `<col>_min` schema columns), merge them into
    * the in-memory registries, and merge-write the catalog. Precedence:
    * in-session registrations win over the on-disk catalog, which wins
    * over manifest-derived defaults — so a custom `maxKeys` survives any
    * later writer, whether it was registered in this session or a
    * previous one. A layout built in batch then self-describes exactly
    * like a streamed one: the next session's plain SQL prunes with zero
    * setup calls. */
  def selfDescribe(spark: SparkSession, root: String): Unit = {
    // column derivation is the writers' OWN manifest-schema readers —
    // one source of truth with refreshShards/Compaction maintenance
    def cols(exists: Boolean, read: => Seq[String]): Seq[String] =
      if (!exists) Nil
      else try read
      catch { case e: Exception =>
        BloomJoins.refused(root, "self-describe", e); Nil }
    // precedence falls out of load()'s fill-gaps contract: in-session
    // registrations stay, the on-disk catalog fills columns this session
    // never touched, manifest-derived defaults fill the rest
    load(spark, root)
    val haveBloom = BloomJoins.layoutsFor(root).map(_.col).toSet
    cols(graft.sources.BloomIndex.manifestExists(spark, root),
        graft.sources.BloomIndex.manifestCols(spark, root))
      .filterNot(haveBloom)
      .foreach(c => BloomJoins.register(BloomJoins.Layout(root, c)))
    val haveZone = BloomJoins.zoneLayoutsFor(root).map(_.col).toSet
    cols(graft.sources.ZoneMap.manifestExists(spark, root),
        graft.sources.ZoneMap.manifestCols(spark, root))
      .filterNot(haveZone)
      .foreach(c => BloomJoins.registerZone(BloomJoins.ZoneLayout(root, c)))
    save(spark, root)
  }

  /** Atomic rename onto a possibly-existing target: FileContext rename
    * with OVERWRITE where the filesystem supports it (readers always see
    * either the old or the new catalog); fall back to delete+rename only
    * where FileContext is unavailable. */
  private def renameOverwrite(spark: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              tmp: Path, target: Path): Unit = {
    try {
      val ctx = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      ctx.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(target, false)
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"catalog rename failed: $target")
    }
  }

  private def strArr(n: ObjectNode, field: String, vs: Seq[String]): Unit = {
    val a = n.putArray(field)
    vs.foreach(a.add)
  }

  private def strMap(n: ObjectNode, field: String,
                     m: Map[String, String]): Unit = {
    val o = n.putObject(field)
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
  }

  /** Read the catalog at `root` (if any) and register its contents in
    * the in-memory registries — FILL-GAPS ONLY: an identity already
    * registered in this session (bloom/zone column, view state path)
    * keeps its in-memory settings. Load can fire implicitly through
    * DISCOVERY while any query plans, so it must never override what
    * this session registered on purpose (a custom `maxKeys` must not be
    * silently reset by the first scan that happens to probe the root).
    * Returns true iff a catalog file was found and parsed.
    * A malformed catalog is a REFUSAL, not a crash: the session keeps
    * planning plain scans, and the failure is counted on the metrics
    * registry (the [[BloomJoins.RefusalMetric]] discipline). */
  def load(spark: SparkSession, root: String): Boolean =
    try {
      val (fs, rootPath) = graft.sources.Manifests.fsFor(spark, root)
      val target = new Path(rootPath, FileName)
      if (!fs.exists(target)) false
      else {
        val in = fs.open(target)
        val doc =
          try mapper.readTree(in)
          finally in.close()
        val haveBloom = BloomJoins.layoutsFor(root).map(_.col).toSet
        arr(doc, "bloom")
          .filterNot(n => haveBloom.contains(n.get("col").asText()))
          .foreach { n =>
            BloomJoins.register(BloomJoins.Layout(root, n.get("col").asText(),
              if (n.has("maxKeys")) n.get("maxKeys").asInt() else 100000))
          }
        val haveZone = BloomJoins.zoneLayoutsFor(root).map(_.col).toSet
        arr(doc, "zones")
          .filterNot(n => haveZone.contains(n.get("col").asText()))
          .foreach { n =>
            BloomJoins.registerZone(
              BloomJoins.ZoneLayout(root, n.get("col").asText()))
          }
        val haveArt = artifactsFor(root).map(_.kind).toSet
        arr(doc, "artifacts")
          .filterNot(n => haveArt.contains(n.get("kind").asText()))
          .foreach { n =>
            registerArtifact(root,
              Artifact(n.get("kind").asText(), pairs(n, "params")))
          }
        val haveView = SummaryViews.viewsFor(root)
          .map(v => normPath(v.statePath)).toSet
        arr(doc, "views")
          .filterNot(n => haveView.contains(normPath(n.get("statePath").asText())))
          .foreach { n =>
            SummaryViews.register(SummaryViews.View(
              root,
              n.get("statePath").asText(),
              strs(n, "keyCols"),
              strs(n, "sumCols").toSet,
              if (n.has("countCol")) Some(n.get("countCol").asText())
              else None,
              nnCounts = pairs(n, "nnCounts"),
              minCols = pairs(n, "minCols"),
              maxCols = pairs(n, "maxCols")))
          }
        true
      }
    } catch {
      case e: Exception =>
        BloomJoins.refused(root, "catalog-load", e)
        false
    }

  private def arr(doc: JsonNode, field: String): Seq[JsonNode] =
    Option(doc.get(field)) match {
      case Some(a: ArrayNode) =>
        (0 until a.size()).map(a.get)
      case _ => Nil
    }

  private def strs(n: JsonNode, field: String): Seq[String] =
    arr(n, field).map(_.asText())

  private def pairs(n: JsonNode, field: String): Map[String, String] =
    Option(n.get(field)) match {
      case Some(o: ObjectNode) =>
        val it = o.properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> e.getValue.asText()
        }
        b.result()
      case _ => Map.empty
    }

  /** Discovery hook for the optimizer rules: probe each not-yet-attempted
    * root once. Steady-state cost per query is one set lookup per scanned
    * relation. */
  /** Test spy: filesystem probes actually made by discovery. */
  private[graft] val discoveryProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[plans] def ensureDiscovered(spark: SparkSession,
                                      paths: Seq[String]): Unit = {
    if (!autoload(spark)) return
    val now = clock()
    paths.foreach { p =>
      val k = normPath(p)
      val entry = attempted.get(k)
      if (entry == null || (entry != java.lang.Long.MAX_VALUE &&
          now >= entry)) {
        discoveryProbes.incrementAndGet()
        val found = load(spark, k)
        attempted.put(k,
          if (found) java.lang.Long.MAX_VALUE
          else java.lang.Long.valueOf(now + negativeTtlMs(spark)))
      }
    }
  }

  private def autoload(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.catalog.autoload", "true") == "true"

  /** How long a MISSED probe suppresses re-probing (see [[attempted]]).
    * Parsed defensively: this runs inside the optimizer on every query —
    * a malformed setting must degrade to the default, never fail plans. */
  private def negativeTtlMs(spark: SparkSession): Long =
    try spark.conf.get("spark.graft.catalog.negativeTtlMs", "300000").toLong
    catch { case _: NumberFormatException => 300000L }

  /** Remove the catalog file at `root` (registrations in memory stay). */
  def delete(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = graft.sources.Manifests.fsFor(spark, root)
    fs.delete(new Path(rootPath, FileName), false)
    attempted.remove(normPath(root))
  }

  /** The zone manifest's sketch columns (KLL list, HLL list,
    * frequent-items list) for `root`, or None when the root has no zone
    * layouts or no sketch tier — [[describe]]'s "sketch" row.
    * Version-cached through the shared probe cache; a read failure
    * refuses (the row is absent, never a crash). */
  private def sketchColsFor(spark: SparkSession, root: String)
      : Option[(Seq[String], Seq[String], Seq[String], Seq[String])] = {
    val r = normPath(root)
    if (BloomJoins.zoneLayoutsFor(root).isEmpty) return None
    val ver = graft.sources.Manifests.manifestVersion(r, "_zonemap")
    val tagged = BloomJoins.cachedProbe(("sketchcols", r, ver)) {
      try {
        val fields =
          spark.read.parquet(s"$r/_zonemap").schema.fieldNames.toSeq
        BloomJoins.Probed(
          fields.filter(_.endsWith("_kll"))
            .map(f => "kll:" + f.stripSuffix("_kll")).sorted ++
            fields.filter(_.endsWith("_hll"))
              .map(f => "hll:" + f.stripSuffix("_hll")).sorted ++
            (fields.filter(_.endsWith("_frqs")).map(_.stripSuffix("_frqs")) ++
              fields.filter(_.endsWith("_frq")).map(_.stripSuffix("_frq")))
              .sorted.map("frq:" + _) ++
            fields.filter(_.endsWith("_tht"))
              .map(f => "tht:" + f.stripSuffix("_tht")).sorted)
      } catch { case e: Exception =>
        BloomJoins.refused(r, "self-describe", e)
        BloomJoins.RefusedTransient
      }
    }.getOrElse(Nil)
    if (tagged.isEmpty) None
    else Some((tagged.collect { case s if s.startsWith("kll:") => s.drop(4) },
      tagged.collect { case s if s.startsWith("hll:") => s.drop(4) },
      tagged.collect { case s if s.startsWith("frq:") => s.drop(4) },
      tagged.collect { case s if s.startsWith("tht:") => s.drop(4) }))
  }

  /** The lake's self-documentation, read back from the artifacts: one row
    * per discovered layout/view at `root` — kind, column-or-state-path,
    * settings, the in-process manifest version, and the refusal count the
    * metrics registry carries for the root. Loads the on-disk catalog
    * first (explicit call — no autoload gate), so a fresh session can
    * `describe` a lake it has never queried. Metadata-sized by
    * construction: rows = registrations, never files or data. */
  def describe(spark: SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    load(spark, root)
    val r = normPath(root)
    val legs = Seq("literal-scan", "zone-scan", "join", "zone-join",
      "filter-scan", "catalog-load", "catalog-merge", "catalog-save",
      "self-describe", "summary-state", "meta-agg", "meta-agg-budget")
    def perLeg(layout: String): Seq[(String, Long)] =
      legs.map(l => l -> graft.streaming.GraftMetrics
          .counter(BloomJoins.RefusalMetric, "layout" -> layout, "leg" -> l))
        .filter(_._2 > 0)
    def refusalsFor(layout: String): Long = perLeg(layout).map(_._2).sum
    def refusals: Long = refusalsFor(r)
    /** "pruning off — WHY": the nonzero legs, `leg=count` — the per-leg
      * breakdown of `graft_rule_refusals_total` an operator needs to see
      * in one place beside each layout row. */
    def detailFor(layouts: String*): String =
      layouts.distinct.flatMap(l => perLeg(l).map { case (leg, n) =>
        s"$leg=$n" }).mkString(";")
    val rows =
      BloomJoins.layoutsFor(root).map(l => (r, "bloom", l.col,
        s"maxKeys=${l.maxKeys}",
        graft.sources.Manifests.manifestVersion(l.factPath, "_bloomindex"),
        refusals, detailFor(r))) ++
      BloomJoins.zoneLayoutsFor(root).map(z => (r, "zone", z.col, "",
        graft.sources.Manifests.manifestVersion(z.factPath, "_zonemap"),
        refusals, detailFor(r))) ++
      // the SKETCH tier: which columns carry mergeable KLL/HLL blobs —
      // the "can I approx-profile this lake from metadata alone" row.
      // Read from the manifest schema, cached per manifest version (one
      // footer round-trip per rewrite, not per describe).
      sketchColsFor(spark, root).toSeq.map { case (klls, hlls, frqs, thts) =>
        val detail =
          (if (klls.isEmpty) Nil else Seq(s"kll=${klls.mkString("+")}")) ++
            (if (hlls.isEmpty) Nil else Seq(s"hll=${hlls.mkString("+")}")) ++
            (if (frqs.isEmpty) Nil else Seq(s"frq=${frqs.mkString("+")}")) ++
            (if (thts.isEmpty) Nil else Seq(s"tht=${thts.mkString("+")}"))
        (r, "sketch", r, detail.mkString(";"),
          graft.sources.Manifests.manifestVersion(r, "_zonemap"),
          refusals, detailFor(r))
      } ++
      artifactsFor(root).map { a =>
        (r, "artifact:" + a.kind, r,
          a.params.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(";"),
          0L, refusals, detailFor(r))
      } ++
      SummaryViews.viewsFor(root).map { v =>
        val detail = s"keys=${v.keyCols.mkString("+")};" +
          s"sums=${v.sumCols.toSeq.sorted.mkString("+")}" +
          v.countCol.fold("")(c => s";count=$c") +
          (if (v.nnCounts.isEmpty) ""
           else s";nn=${v.nnCounts.keys.toSeq.sorted.mkString("+")}") +
          (if (v.minCols.isEmpty) ""
           else s";min=${v.minCols.keys.toSeq.sorted.mkString("+")}") +
          (if (v.maxCols.isEmpty) ""
           else s";max=${v.maxCols.keys.toSeq.sorted.mkString("+")}")
        // state-read refusals are recorded under the view's STATE PATH
        // (SummaryViews.statePlan refuses with that label) — a view row
        // must surface those, not the base root's
        (r, "view", normPath(v.statePath), detail,
          graft.streaming.BucketedStateTable.stateVersion(v.statePath),
          refusals + refusalsFor(normPath(v.statePath)),
          detailFor(r, normPath(v.statePath)))
      }
    import spark.implicits._
    rows.toDF("root", "kind", "name", "detail", "version", "refusals",
      "refusal_detail")
  }
}
