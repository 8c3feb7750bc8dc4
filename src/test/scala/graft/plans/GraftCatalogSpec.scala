package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sources.BloomIndex
import graft.streaming.IncrementalAgg

/** The catalog's contract: registrations persisted beside the data are
  * DISCOVERED by a fresh session's plain SQL (the registry no longer dies
  * with the JVM), discovery costs one filesystem probe per root, the off
  * switch works, and a malformed catalog refuses loudly — never crashes a
  * query. "Fresh session" is simulated by clearing every in-memory
  * registry plus the discovery cache, which is exactly the state a new
  * JVM starts from. */
class GraftCatalogSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val root = s"$outRoot/test-out/graft-catalog"
  private val factPath = s"$root/fact"
  private val basePath = s"$root/base"
  private val statePath = s"$root/mv-state"
  private val fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  fs.delete(new org.apache.hadoop.fs.Path(root), true)

  // bloom + zone layout
  Tables.documents(spark, sfTiny)
    .select("doc_id", "lang", "n_chars")
    .repartition(8, col("doc_id"))
    .write.parquet(factPath)
  BloomIndex.write(spark, factPath, Seq("doc_id"),
    expectedItemsPerFile = 2000, fpp = 0.01)
  graft.sources.ZoneMap.write(spark, factPath, Seq("n_chars"))

  // summary view state over a second base
  Tables.documents(spark, sfTiny)
    .select("doc_id", "lang", "source", "n_chars")
    .write.parquet(basePath)
  IncrementalAgg.applyDelta(spark,
    statePath,
    spark.read.parquet(basePath).select(col("lang"),
      col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs")),
    keyCols = Seq("lang"), sumCols = Seq("n_chars", "n_docs"),
    nBuckets = 4, batchId = 0L)

  // register everything, persist, then FORGET (the fresh-session state)
  BloomJoins.clear()
  SummaryViews.clear()
  GraftCatalog.clearCache()
  BloomJoins.register(BloomJoins.Layout(factPath, "doc_id", maxKeys = 50000))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(factPath, "n_chars"))
  GraftCatalog.save(spark, factPath)
  SummaryViews.register(SummaryViews.View(
    basePath, statePath, Seq("lang"), Set("n_chars"), Some("n_docs")))
  GraftCatalog.save(spark, basePath)
  freshSession()
  BloomJoins.install(spark)
  SummaryViews.install(spark)

  private def freshSession(): Unit = {
    BloomJoins.clear()
    SummaryViews.clear()
    GraftCatalog.clearArtifacts()
    GraftCatalog.clearCache()
  }

  override def afterAll(): Unit = {
    BloomJoins.uninstall(spark)
    SummaryViews.uninstall(spark)
    freshSession()
    super.afterAll()
  }

  private def factFiles(df: DataFrame, marker: String): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if f.location.rootPaths.exists(_.toString.contains(marker)) =>
            f.location.inputFiles.length.toLong
          case _ => 0L
        }
    }.sum

  private def firedOnState(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.contains("mv-state/state"))
          case _ => false
        }
    }.exists(identity)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("|"))

  private def withoutRules[T](f: => T): T = {
    BloomJoins.uninstall(spark)
    SummaryViews.uninstall(spark)
    try f finally { BloomJoins.install(spark); SummaryViews.install(spark) }
  }

  test("a fresh session's plain SQL prunes a catalogued bloom layout — " +
    "no register() call anywhere") {
    // the standing state IS the fresh session: registries cleared after
    // save. The first query over the path must discover the catalog.
    val q = spark.sql(s"SELECT doc_id, lang FROM parquet.`$factPath` " +
      "WHERE doc_id IN (3, 7, 11)")
    assert(factFiles(q, "graft-catalog/fact") > 0 &&
      factFiles(q, "graft-catalog/fact") < 8,
      s"discovery must let plain SQL prune:\n${q.queryExecution.optimizedPlan}")
    val exp = withoutRules(sortedRows(
      spark.read.parquet(factPath).where(col("doc_id").isin(3L, 7L, 11L))
        .select("doc_id", "lang")))
    assert(sortedRows(q) === exp)
  }

  test("zone layouts ride the same catalog: a fresh-session range query " +
    "prunes") {
    freshSession()
    val q = spark.sql(
      s"SELECT count(*) AS n FROM parquet.`$factPath` WHERE n_chars < 40")
    // n_chars is hash-spread across files, so zones may not skip — the
    // REQUIRE here is on discovery registering the zone layout at all;
    // skipping is asserted on the clustered layout below
    assert(BloomJoins.zoneLayoutsFor(factPath).isEmpty,
      "premise: fresh session starts empty")
    q.queryExecution.optimizedPlan // plan → discovery runs
    assert(BloomJoins.zoneLayoutsFor(factPath).map(_.col) === Seq("n_chars"),
      "discovery must register the catalogued zone layout")
    // a range-clustered layout catalogued the same way actually SKIPS
    val zpath = s"$root/zfact"
    Tables.documents(spark, sfTiny).select("doc_id", "lang")
      .repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(zpath)
    graft.sources.ZoneMap.write(spark, zpath, Seq("doc_id"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "doc_id"))
    GraftCatalog.save(spark, zpath)
    freshSession()
    val zq = spark.sql(
      s"SELECT doc_id FROM parquet.`$zpath` WHERE doc_id <= 60")
    assert(factFiles(zq, "graft-catalog/zfact") > 0 &&
      factFiles(zq, "graft-catalog/zfact") < 8,
      zq.queryExecution.optimizedPlan.toString)
    assert(zq.count() === withoutRules(
      spark.read.parquet(zpath).where(col("doc_id") <= 60L).count()))
  }

  test("a fresh session's plain GROUP BY lands on a catalogued summary " +
    "view") {
    freshSession()
    val q = spark.sql(
      s"""SELECT lang, sum(n_chars) AS sc, count(*) AS n
         |FROM parquet.`$basePath` GROUP BY lang""".stripMargin)
    assert(firedOnState(q),
      s"discovery must route the aggregate onto the summary:\n${
        q.queryExecution.optimizedPlan}")
    val exp = withoutRules(sortedRows(spark.sql(
      s"""SELECT lang, sum(n_chars) AS sc, count(*) AS n
         |FROM parquet.`$basePath` GROUP BY lang""".stripMargin)))
    assert(sortedRows(q) === exp)
  }

  test("discovery costs one filesystem probe per root, hit or miss") {
    freshSession()
    val other = s"$root/no-catalog"
    spark.range(10).select(col("id").as("doc_id")).write
      .mode("overwrite").parquet(other)
    def q: DataFrame =
      spark.read.parquet(other).where(col("doc_id").isin(1L, 2L))
    q.queryExecution.optimizedPlan
    val p0 = GraftCatalog.discoveryProbes.get()
    (1 to 3).foreach(_ => q.queryExecution.optimizedPlan)
    assert(GraftCatalog.discoveryProbes.get() === p0,
      "a probed root (miss) must never re-probe in-session")
    // and a HIT root equally probes once
    def qc: DataFrame =
      spark.read.parquet(factPath).where(col("doc_id").isin(3L))
    qc.queryExecution.optimizedPlan
    val p1 = GraftCatalog.discoveryProbes.get()
    (1 to 3).foreach(_ => qc.queryExecution.optimizedPlan)
    assert(GraftCatalog.discoveryProbes.get() === p1)
  }

  test("spark.graft.catalog.autoload=false disables discovery; explicit " +
    "load() still works") {
    freshSession()
    spark.conf.set("spark.graft.catalog.autoload", "false")
    try {
      val q = spark.read.parquet(factPath)
        .where(col("doc_id").isin(3L, 7L))
      assert(factFiles(q, "graft-catalog/fact") === 8L,
        "autoload off: plain scan")
      assert(GraftCatalog.load(spark, factPath),
        "explicit load must still read the catalog")
      val q2 = spark.read.parquet(factPath)
        .where(col("doc_id").isin(3L, 7L))
      assert(factFiles(q2, "graft-catalog/fact") < 8)
    } finally spark.conf.set("spark.graft.catalog.autoload", "true")
  }

  test("a malformed catalog refuses loudly: queries answer exactly, the " +
    "refusal is counted") {
    val broken = s"$root/broken"
    spark.range(20).select(col("id").as("doc_id")).write
      .mode("overwrite").parquet(broken)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$broken/_graft_catalog.json"), true)
    out.write("{not json at all".getBytes("UTF-8")); out.close()
    freshSession()
    val before = graft.streaming.GraftMetrics
      .counterTotal(BloomJoins.RefusalMetric)
    val q = spark.read.parquet(broken).where(col("doc_id") === 3L)
    assert(q.count() === 1L, "the query must answer despite the bad catalog")
    assert(graft.streaming.GraftMetrics
      .counterTotal(BloomJoins.RefusalMetric) > before,
      "the catalog-load failure must be counted")
  }

  test("save round-trips every registration field") {
    freshSession()
    BloomJoins.register(BloomJoins.Layout(factPath, "doc_id", maxKeys = 123))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(factPath, "n_chars"))
    GraftCatalog.save(spark, factPath)
    SummaryViews.register(SummaryViews.View(
      basePath, statePath, Seq("lang"), Set("n_chars"), Some("n_docs"),
      nnCounts = Map("n_chars" -> "nn"), minCols = Map("n_chars" -> "mn"),
      maxCols = Map("n_chars" -> "mx")))
    GraftCatalog.save(spark, basePath)
    freshSession()
    assert(GraftCatalog.load(spark, factPath))
    assert(GraftCatalog.load(spark, basePath))
    assert(BloomJoins.layoutsFor(factPath)
      === Seq(BloomJoins.Layout(factPath, "doc_id", maxKeys = 123)))
    assert(BloomJoins.zoneLayoutsFor(factPath)
      === Seq(BloomJoins.ZoneLayout(factPath, "n_chars")))
    assert(SummaryViews.viewsFor(basePath) === Seq(SummaryViews.View(
      basePath, statePath, Seq("lang"), Set("n_chars"), Some("n_docs"),
      nnCounts = Map("n_chars" -> "nn"), minCols = Map("n_chars" -> "mn"),
      maxCols = Map("n_chars" -> "mx"))))
    // restore the canonical persisted state for any later test
    GraftCatalog.save(spark, factPath)
    GraftCatalog.save(spark, basePath)
  }

  test("save MERGES by default: two sessions each registering a different " +
    "column both survive; merge=false overwrites") {
    val mpath = s"$root/merge-fact"
    spark.range(10).select(col("id").as("doc_id"), col("id").as("n_chars"))
      .write.mode("overwrite").parquet(mpath)
    // session 1: registers doc_id only, saves
    freshSession()
    BloomJoins.register(BloomJoins.Layout(mpath, "doc_id", maxKeys = 50))
    GraftCatalog.save(spark, mpath)
    // session 2: NEVER loads, registers a different column, saves — the
    // save-clobber shape: without merge, session 1's entry would vanish
    freshSession()
    BloomJoins.register(BloomJoins.Layout(mpath, "n_chars", maxKeys = 77))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(mpath, "n_chars"))
    GraftCatalog.save(spark, mpath)
    // session 3: discovery sees BOTH registrations, settings intact
    freshSession()
    assert(GraftCatalog.load(spark, mpath))
    assert(BloomJoins.layoutsFor(mpath).sortBy(_.col) === Seq(
      BloomJoins.Layout(mpath, "doc_id", maxKeys = 50),
      BloomJoins.Layout(mpath, "n_chars", maxKeys = 77)))
    assert(BloomJoins.zoneLayoutsFor(mpath) ===
      Seq(BloomJoins.ZoneLayout(mpath, "n_chars")))
    // merge=false is the explicit drop-what-I-did-not-re-register path
    freshSession()
    BloomJoins.register(BloomJoins.Layout(mpath, "doc_id", maxKeys = 50))
    GraftCatalog.save(spark, mpath, merge = false)
    freshSession()
    assert(GraftCatalog.load(spark, mpath))
    assert(BloomJoins.layoutsFor(mpath) ===
      Seq(BloomJoins.Layout(mpath, "doc_id", maxKeys = 50)))
    assert(BloomJoins.zoneLayoutsFor(mpath).isEmpty,
      "overwrite must drop entries this session did not carry")
  }

  test("two concurrent threads register+save on one root: both entries " +
    "land (saves serialize in-process)") {
    val cpath = s"$root/concurrent-fact"
    spark.range(10).select(col("id").as("a"), col("id").as("b"))
      .write.mode("overwrite").parquet(cpath)
    freshSession()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(c: String, mk: Int): Thread = {
      val t = new Thread(() =>
        try {
          barrier.await()
          BloomJoins.register(BloomJoins.Layout(cpath, c, maxKeys = mk))
          GraftCatalog.save(spark, cpath)
        } catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    val ts = Seq(writer("a", 11), writer("b", 22))
    ts.foreach(_.join(60000))
    assert(errs.isEmpty, s"concurrent saves must not fail: ${errs.peek()}")
    freshSession()
    assert(GraftCatalog.load(spark, cpath))
    assert(BloomJoins.layoutsFor(cpath).map(_.col).sorted === Seq("a", "b"),
      "both concurrent writers' entries must be discoverable")
  }

  test("a cross-process rename landing inside the save window is detected " +
    "and re-merged (read-verify-retry)") {
    val rpath = s"$root/raced-fact"
    spark.range(10).select(col("id").as("mine"))
      .write.mode("overwrite").parquet(rpath)
    freshSession()
    // the racer: a catalog carrying ONLY a foreign entry, renamed over
    // ours right after our rename lands (the stale-writer clobber)
    val foreign =
      """{"bloom":[{"col":"theirs","maxKeys":33}],
        |"zones":[],"views":[],"artifacts":[]}""".stripMargin
    val target = new org.apache.hadoop.fs.Path(rpath, "_graft_catalog.json")
    var clobbers = 0
    GraftCatalog.testAfterRename = () => {
      if (clobbers == 0) { // only the first save attempt is raced
        clobbers += 1
        val out = fs.create(target, true)
        out.write(foreign.getBytes("UTF-8"))
        out.close()
      }
    }
    try {
      BloomJoins.register(BloomJoins.Layout(rpath, "mine", maxKeys = 44))
      GraftCatalog.save(spark, rpath)
    } finally GraftCatalog.testAfterRename = () => ()
    assert(clobbers === 1, "the injected racer must have fired")
    // the retry re-merged from the racer's file: BOTH entries survive
    freshSession()
    assert(GraftCatalog.load(spark, rpath))
    assert(BloomJoins.layoutsFor(rpath).sortBy(_.col) === Seq(
      BloomJoins.Layout(rpath, "mine", maxKeys = 44),
      BloomJoins.Layout(rpath, "theirs", maxKeys = 33)))
  }

  test("a catalog written AFTER a negative probe is seen once the " +
    "negative TTL expires") {
    val tpath = s"$root/ttl-fact"
    Tables.documents(spark, sfTiny).select("doc_id", "lang")
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(tpath)
    BloomIndex.write(spark, tpath, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    GraftCatalog.delete(spark, tpath) // premise: no catalog yet
    freshSession()
    var now = 1000L * 1000L
    GraftCatalog.clock = () => now
    spark.conf.set("spark.graft.catalog.negativeTtlMs", "60000")
    try {
      def q: DataFrame =
        spark.read.parquet(tpath).where(col("doc_id").isin(3L, 7L))
      q.queryExecution.optimizedPlan // negative probe at t0
      val p0 = GraftCatalog.discoveryProbes.get()
      // another PROCESS writes the catalog now (out-of-band file write —
      // save() would mark this session's own cache positive)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$tpath/_graft_catalog.json"), true)
      out.write(
        """{"bloom":[{"col":"doc_id","maxKeys":100000}]}"""
          .getBytes("UTF-8"))
      out.close()
      // within the TTL: no re-probe, still a full scan
      now += 30000L
      assert(factFiles(q, "graft-catalog/ttl-fact") === 8L)
      assert(GraftCatalog.discoveryProbes.get() === p0,
        "a negative probe must not re-check within its TTL")
      // past the TTL: exactly one re-probe, discovery lands, scan prunes
      now += 31000L
      val pruned = factFiles(q, "graft-catalog/ttl-fact")
      assert(GraftCatalog.discoveryProbes.get() === p0 + 1,
        "the expired negative entry must re-probe exactly once")
      assert(pruned > 0 && pruned < 8,
        "the late-written catalog must now drive pruning")
      (1 to 3).foreach(_ => q.queryExecution.optimizedPlan)
      assert(GraftCatalog.discoveryProbes.get() === p0 + 1,
        "the hit is pinned: no further probes")
    } finally {
      GraftCatalog.clock = () => System.currentTimeMillis()
      spark.conf.unset("spark.graft.catalog.negativeTtlMs")
      BloomJoins.unregister(tpath)
    }
  }

  test("batch writers SELF-DESCRIBE: BloomIndex.write alone makes a " +
    "fresh session prune, and a later ZoneMap.write preserves sibling " +
    "settings") {
    val p = s"$root/selfdesc"
    Tables.documents(spark, sfTiny).select("doc_id", "lang", "n_chars")
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(p)
    freshSession()
    // the WRITE is the only call — no register(), no save()
    graft.sources.BloomIndex.write(spark, p, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    freshSession()
    val q = spark.read.parquet(p).where(col("doc_id").isin(3L, 7L))
    assert(factFiles(q, "graft-catalog/selfdesc") > 0 &&
      factFiles(q, "graft-catalog/selfdesc") < 8,
      s"the self-written catalog must drive discovery pruning:\n${
        q.queryExecution.optimizedPlan}")
    // custom settings persisted by a PREVIOUS session survive a later
    // writer on a DIFFERENT column (merge + catalog-over-default
    // precedence in selfDescribe)
    freshSession()
    BloomJoins.register(BloomJoins.Layout(p, "doc_id", maxKeys = 7))
    GraftCatalog.save(spark, p)
    freshSession()
    graft.sources.ZoneMap.write(spark, p, Seq("n_chars"))
    freshSession()
    assert(GraftCatalog.load(spark, p))
    assert(BloomJoins.layoutsFor(p) ===
      Seq(BloomJoins.Layout(p, "doc_id", maxKeys = 7)),
      "the catalogued custom maxKeys must survive the zone writer")
    assert(BloomJoins.zoneLayoutsFor(p).map(_.col) === Seq("n_chars"))
    // and IN-SESSION registrations outrank the on-disk catalog
    freshSession()
    BloomJoins.register(BloomJoins.Layout(p, "doc_id", maxKeys = 9))
    graft.sources.BloomIndex.write(spark, p, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    assert(BloomJoins.layoutsFor(p) ===
      Seq(BloomJoins.Layout(p, "doc_id", maxKeys = 9)),
      "an in-session registration must win over the on-disk catalog")
    freshSession()
    assert(GraftCatalog.load(spark, p))
    assert(BloomJoins.layoutsFor(p) ===
      Seq(BloomJoins.Layout(p, "doc_id", maxKeys = 9)))
  }

  test("updateCatalog=false opts a batch writer out of self-description") {
    val p = s"$root/selfdesc-off"
    spark.range(20).select(col("id").as("doc_id")).write
      .mode("overwrite").parquet(p)
    freshSession()
    graft.sources.BloomIndex.write(spark, p, Seq("doc_id"),
      expectedItemsPerFile = 100, fpp = 0.01, updateCatalog = false)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$p/_graft_catalog.json")), "opt-out must not write a catalog")
    assert(BloomJoins.layoutsFor(p).isEmpty,
      "opt-out must not register either")
  }

  test("IncrementalAgg.applyDelta self-describes a summary view: a fresh " +
    "session's plain GROUP BY rewrites with zero setup") {
    val bcopy = s"$root/sd-base"
    val spath = s"$root/sd-state"
    Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(bcopy)
    fs.delete(new org.apache.hadoop.fs.Path(spath), true)
    freshSession()
    val view = SummaryViews.View(
      bcopy, spath, Seq("lang"), Set("n_chars"), Some("n_docs"))
    IncrementalAgg.applyDelta(spark, spath,
      spark.read.parquet(bcopy).select(col("lang"),
        col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs")),
      keyCols = Seq("lang"), sumCols = Seq("n_chars", "n_docs"),
      nBuckets = 4, batchId = 0L, describeView = Some(view))
    assert(SummaryViews.viewsFor(bcopy) === Seq(view),
      "the fold must register the view it was asked to describe")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$bcopy/_graft_catalog.json")),
      "the fold must write the catalog beside the BASE table")
    // fresh session: the plain aggregate must discover and rewrite
    freshSession()
    val q = spark.sql(
      s"""SELECT lang, sum(n_chars) AS sc, count(*) AS n
         |FROM parquet.`$bcopy` GROUP BY lang""".stripMargin)
    val fired = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.contains("sd-state/state"))
          case _ => false
        }
    }.exists(identity)
    assert(fired,
      s"discovery must route the aggregate onto the self-described " +
        s"summary:\n${q.queryExecution.optimizedPlan}")
    val exp = withoutRules(sortedRows(spark.sql(
      s"""SELECT lang, sum(n_chars) AS sc, count(*) AS n
         |FROM parquet.`$bcopy` GROUP BY lang""".stripMargin)))
    assert(sortedRows(q) === exp)
  }

  test("Compaction self-describes a layout that was never catalogued: " +
    "the rewrite makes it discoverable") {
    val p = s"$root/compact-sd"
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    // a fragmented bloom-indexed layout built BEFORE the catalog existed
    // (updateCatalog=false simulates that): 16 small files, no catalog
    Tables.documents(spark, sfTiny).select("doc_id", "lang")
      .repartition(16, col("doc_id"))
      .write.mode("overwrite").parquet(p)
    graft.sources.BloomIndex.write(spark, p, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01, updateCatalog = false)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$p/_graft_catalog.json")), "premise: no catalog before compaction")
    freshSession()
    val report = graft.sources.Compaction.compact(spark, p,
      graft.sources.OutFormat.Parquet, targetFileBytes = 512L << 20)
    assert(report.filter(col("compacted")).count() > 0,
      "premise: compaction must actually rewrite the fragmented dir")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$p/_graft_catalog.json")),
      "the compactor must write the catalog after refreshing manifests")
    freshSession()
    assert(GraftCatalog.load(spark, p))
    assert(BloomJoins.layoutsFor(p).map(_.col) === Seq("doc_id"),
      "the refreshed manifest's columns must be discoverable")
  }

  test("two FileDestinations on one root (different columns) are both " +
    "discoverable after their writes") {
    val out = s"$root/two-sinks"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    freshSession()
    val feed = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val destA = new graft.streaming.FileDestination(out,
      graft.sources.OutFormat.Parquet, graft.sources.OutCompression.Snappy,
      graft.operators.KeyStrategy.Flat,
      bloomIndexCols = Seq("doc_id"), bloomExpectedItemsPerFile = 2000)
    destA.writeBatch(feed, 0L)
    // a SECOND sink on the same root, maintaining a DIFFERENT column —
    // its self-description must merge, not clobber, the first sink's
    freshSession()
    val destB = new graft.streaming.FileDestination(out,
      graft.sources.OutFormat.Parquet, graft.sources.OutCompression.Snappy,
      graft.operators.KeyStrategy.Flat,
      zoneMapCols = Seq("n_chars"))
    destB.writeBatch(feed, 1L)
    freshSession()
    assert(GraftCatalog.load(spark, out))
    assert(BloomJoins.layoutsFor(out).map(_.col) === Seq("doc_id"),
      "sink A's bloom registration must survive sink B's save")
    assert(BloomJoins.zoneLayoutsFor(out).map(_.col) === Seq("n_chars"),
      "sink B's zone registration must land beside it")
  }

  test("describe() reads the lake's self-documentation back from the " +
    "artifacts") {
    freshSession()
    val d = GraftCatalog.describe(spark, factPath)
    assert(d.columns.toSeq ===
      Seq("root", "kind", "name", "detail", "version", "refusals",
        "refusal_detail"))
    val byKind = d.collect().groupBy(_.getString(1))
    assert(byKind("bloom").map(_.getString(2)).toSeq === Seq("doc_id"))
    assert(byKind("zone").map(_.getString(2)).toSeq === Seq("n_chars"))
    // the per-leg WHY: a refusal recorded for this layout surfaces as
    // `leg=count` in refusal_detail, beside the total — "pruning off,
    // why" in one place
    val before = byKind("bloom").head.getLong(5)
    BloomJoins.refused(factPath, "literal-scan",
      new java.io.IOException("spec-injected"))
    val d2 = GraftCatalog.describe(spark, factPath).collect()
      .filter(_.getString(1) == "bloom").head
    assert(d2.getLong(5) === before + 1)
    assert(d2.getString(6).contains(s"literal-scan=${before + 1}") ||
      d2.getString(6).contains("literal-scan="),
      s"refusal_detail must name the refusing leg: ${d2.getString(6)}")
    val dv = GraftCatalog.describe(spark, basePath)
    val views = dv.where(col("kind") === "view").collect()
    assert(views.length === 1)
    assert(views.head.getString(2).endsWith("mv-state"))
    assert(views.head.getString(3).contains("keys=lang"),
      s"view detail must carry the key columns: ${views.head.getString(3)}")
  }

  test("describe() surfaces the SKETCH tier: which columns carry KLL/HLL " +
    "blobs, read from the manifest schema") {
    val sroot = s"$root/sketch-desc"
    fs.delete(new org.apache.hadoop.fs.Path(sroot), true)
    Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("id", "v", "s")
      .write.parquet(sroot)
    graft.sources.ZoneMap.write(spark, sroot, Seq("id", "v"),
      sketchCols = Seq("id", "s", graft.sources.ZoneMap.ThetaTag + "id"))
    freshSession()
    val d = GraftCatalog.describe(spark, sroot)
    val srow = d.where(col("kind") === "sketch").collect()
    assert(srow.length === 1,
      "a sketch-carrying lake must self-document the tier")
    // id is numeric (KLL + HLL + frequent-items, theta opted in); s is
    // string (HLL + frequent-items, no KLL); v never sketched
    assert(srow.head.getString(3) === "kll=id;hll=id+s;frq=id+s;tht=id",
      s"sketch detail: ${srow.head.getString(3)}")
    // a layout with zones but NO sketch tier carries no sketch row — the
    // row answers "can I approx-profile this from metadata", so absence
    // must mean no
    val d0 = GraftCatalog.describe(spark, factPath)
    assert(d0.where(col("kind") === "sketch").count() === 0L)
  }

  test("artifacts round-trip the catalog and merge beside layout entries") {
    val aroot = s"$root/artifact-merge"
    fs.delete(new org.apache.hadoop.fs.Path(aroot), true)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").write.parquet(aroot)
    // session A: a zone layout self-describes
    graft.sources.ZoneMap.write(spark, aroot, Seq("v"))
    // session B (fresh): registers ONLY an artifact and saves — the zone
    // entry on disk must survive the merge
    freshSession()
    GraftCatalog.registerArtifact(aroot,
      GraftCatalog.Artifact("ivf-index", Map("nLists" -> "4")))
    GraftCatalog.save(spark, aroot)
    // session C (fresh): discovery sees BOTH
    freshSession()
    assert(GraftCatalog.load(spark, aroot))
    assert(BloomJoins.zoneLayoutsFor(aroot).map(_.col) === Seq("v"))
    val arts = GraftCatalog.artifactsFor(aroot)
    assert(arts.map(_.kind) === Seq("ivf-index"))
    assert(arts.head.params("nLists") === "4")
    val d = GraftCatalog.describe(spark, aroot)
    val arow = d.where(col("kind") === "artifact:ivf-index").collect()
    assert(arow.length === 1)
    assert(arow.head.getString(3).contains("nLists=4"))
  }

  test("index builders SELF-DESCRIBE: describe() on a fresh session lists " +
    "the IVF index and the dedup index with their parameters") {
    val ivfPath = s"$root/ivf-idx"
    val dedupPath = s"$root/dedup-idx"
    fs.delete(new org.apache.hadoop.fs.Path(ivfPath), true)
    fs.delete(new org.apache.hadoop.fs.Path(dedupPath), true)
    graft.functions.Similarity.writeIvfIndex(
      Tables.table(spark, sfTiny, "embeddings"), ivfPath, nLists = 4,
      iters = 1)
    graft.functions.DedupIndex.write(
      Tables.documents(spark, sfTiny).limit(50), dedupPath,
      shingleN = 3, k = 16, bands = 4)
    freshSession()
    val di = GraftCatalog.describe(spark, ivfPath)
      .where(col("kind") === "artifact:ivf-index").collect()
    assert(di.length === 1, "writeIvfIndex must self-describe")
    assert(di.head.getString(3).contains("nLists=4"))
    freshSession()
    val dd = GraftCatalog.describe(spark, dedupPath)
      .where(col("kind") === "artifact:dedup-index").collect()
    assert(dd.length === 1, "DedupIndex.write must self-describe")
    assert(dd.head.getString(3).contains("bands=4") &&
      dd.head.getString(3).contains("k=16"))
  }

  test("bucketed tables self-describe; updateCatalog=false opts out") {
    val bPath = s"$root/bucketed"
    fs.delete(new org.apache.hadoop.fs.Path(bPath), true)
    graft.sources.Bucketing.writeBucketed(
      Tables.documents(spark, sfTiny).select("doc_id", "n_chars"),
      "gc_bucketed_docs", "doc_id", 4, bPath)
    freshSession()
    val db = GraftCatalog.describe(spark, bPath)
      .where(col("kind") === "artifact:bucketed-table").collect()
    assert(db.length === 1)
    assert(db.head.getString(3).contains("nBuckets=4") &&
      db.head.getString(3).contains("key=doc_id"))
    // opt-out: no catalog file is written
    val oPath = s"$root/bucketed-optout"
    fs.delete(new org.apache.hadoop.fs.Path(oPath), true)
    graft.sources.Bucketing.writeBucketed(
      Tables.documents(spark, sfTiny).select("doc_id", "n_chars"),
      "gc_bucketed_optout", "doc_id", 4, oPath, updateCatalog = false)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$oPath/_graft_catalog.json")))
  }
}
