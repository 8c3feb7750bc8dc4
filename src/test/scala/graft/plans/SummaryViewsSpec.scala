package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.SparkSpec
import graft.streaming.{BucketedStateTable, IncrementalAgg}

/** The MV-rewrite rule's full contract: a globally injected plan rewriter
  * must prove it never fires WRONGLY (every refusal path), not just that
  * it can fire rightly — plus exprId/type preservation, the version-
  * stamped plan cache, and the crash-replay bump. */
class SummaryViewsSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val root = s"$outRoot/test-out/summary-views"
  private val basePath = s"$root/base"
  private val baseUnregistered = s"$root/base-unreg"
  private val statePath = s"$root/mv-state"
  private val fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 60 deterministic rows over keys (k1 in a..c, k2 in x..y); v is null
    * on every 5th row so COUNT(v) genuinely differs from COUNT(*). */
  private def baseRows: DataFrame =
    spark.range(60).select(
      concat(lit("k"), (col("id") % 3).cast("string")).as("k1"),
      concat(lit("g"), (col("id") % 2).cast("string")).as("k2"),
      when(col("id") % 5 === 0, lit(null).cast(LongType))
        .otherwise(col("id") * 7).as("v"),
      (col("id") * 7).cast(DecimalType(10, 2)).as("d"))

  private def rebuildFixture(): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    baseRows.write.parquet(basePath)
    baseRows.limit(40).write.parquet(baseUnregistered)
    foldBatches(0L to 1L)
  }

  /** Maintain the summary from the base in two guarded batches (split by a
    * deterministic hash so batch contents are stable across reruns). */
  private def foldBatches(batches: Iterable[Long],
                          spelledStatePath: String = statePath): Unit =
    batches.foreach { i =>
      val deltas = spark.read.parquet(basePath)
        .withColumn("__chunk", pmod(xxhash64(col("k1"), col("k2"),
          coalesce(col("v"), lit(-1L))), lit(2)))
        .filter(col("__chunk") === i).drop("__chunk")
        // pre-widen d to precision 28: SUM over decimal adds 10 precision
        // per fold, so a (28,2) input pins every fold's output at the
        // (38,2) cap — state files stay schema-stable across batches
        .select(col("k1"), col("k2"), col("v"),
          col("d").cast(DecimalType(28, 2)).as("d"),
          lit(1L).as("n_rows"),
          when(col("v").isNotNull, 1L).otherwise(0L).as("v_nn"),
          col("v").as("v_min"), col("v").as("v_max"))
      IncrementalAgg.applyDelta(spark, spelledStatePath, deltas,
        keyCols = Seq("k1", "k2"),
        sumCols = Seq("v", "d", "n_rows", "v_nn"),
        nBuckets = 4, batchId = i,
        minCols = Seq("v_min"), maxCols = Seq("v_max"))
    }

  rebuildFixture()
  SummaryViews.clear()
  SummaryViews.register(SummaryViews.View(
    basePath, statePath, Seq("k1", "k2"), Set("v", "d"), Some("n_rows"),
    nnCounts = Map("v" -> "v_nn"),
    minCols = Map("v" -> "v_min"), maxCols = Map("v" -> "v_max")))
  SummaryViews.install(spark)

  override def afterAll(): Unit = {
    SummaryViews.uninstall(spark)
    SummaryViews.clear()
    super.afterAll()
  }

  /** Did the optimized plan land on the summary state dir? */
  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.endsWith("mv-state/state"))
          case _ => false
        }
    }.exists(identity)

  private def withoutRule[T](f: => T): T = {
    SummaryViews.uninstall(spark)
    try f finally SummaryViews.install(spark)
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("|"))

  /** Rewritten and base answers must agree row-for-row and schema-for-
    * schema; returns the rewritten rows for extra assertions. */
  private def assertParity(q: => DataFrame, expectFired: Boolean): Seq[Row] = {
    val withRule = q
    assert(fired(withRule) === expectFired,
      s"expected fired=$expectFired:\n${withRule.queryExecution.optimizedPlan}")
    val got = sortedRows(withRule)
    val (expSchema, exp) = withoutRule {
      val e = q
      assert(!fired(e), "rule must be inert while uninstalled")
      (e.schema, sortedRows(e))
    }
    assert(withRule.schema === expSchema)
    assert(got === exp)
    got
  }

  private def base: DataFrame = spark.read.parquet(basePath)

  // ---------------------------------------------------------------- fires

  test("SUM + COUNT(*) coarser roll-up fires and matches the base answer") {
    val rows = assertParity(
      base.groupBy("k1")
        .agg(sum("v").as("sv"), count(lit(1)).as("n")),
      expectFired = true)
    assert(rows.length === 3)
    assert(rows.map(_.getLong(2)).sum === 60L)
  }

  test("AVG(col) and COUNT(col) fire and are exact under nulls") {
    val rows = assertParity(
      base.groupBy("k2")
        .agg(avg("v").as("av"), count(col("v")).as("nv"),
          count(lit(1)).as("n")),
      expectFired = true)
    // the null rows must actually bite: COUNT(v) < COUNT(*)
    assert(rows.map(_.getLong(2)).sum === 48L)
    assert(rows.map(_.getLong(3)).sum === 60L)
  }

  test("key-only deterministic filter pushes onto the summary scan") {
    assertParity(
      base.where(col("k1") =!= "k0").groupBy("k1", "k2")
        .agg(sum("v").as("sv")),
      expectFired = true)
  }

  test("global COUNT(*) over an empty filtered summary coalesces to 0") {
    val q = base.where(col("k1") === "nope").agg(count(lit(1)).as("n"))
    assert(fired(q))
    assert(q.as[Long].head() === 0L)
    assert(withoutRule(q.as[Long].head()) === 0L)
  }

  test("decimal SUM keeps the original result type and exact value") {
    val q = base.groupBy("k1").agg(sum("d").as("sd"))
    assert(fired(q))
    // re-summing the summary widens decimal(20,2) → decimal(30,2); the
    // rewrite must cast back to the type parents recorded
    assert(q.schema("sd").dataType === DecimalType(20, 2))
    assertParity(base.groupBy("k1").agg(sum("d").as("sd")),
      expectFired = true)
  }

  test("parent Sort/Filter over the aggregate keep resolving (exprIds preserved)") {
    assertParity(
      base.groupBy("k1", "k2").agg(sum("v").as("sv"))
        .where(col("sv") > -1).orderBy("k1", "k2"),
      expectFired = true)
  }

  test("spark.sql over a temp view of the base fires too") {
    base.createOrReplaceTempView("sv_base")
    assertParity(
      spark.sql(
        "SELECT k1, sum(v) AS sv, count(*) AS n FROM sv_base GROUP BY k1"),
      expectFired = true)
  }

  // -------------------------------------------------------------- refusals

  test("refuses a filter on a non-key column") {
    assertParity(
      base.where(col("v") > 10).groupBy("k1").agg(sum("v").as("sv")),
      expectFired = false)
  }

  test("refuses a non-deterministic filter") {
    // a sampling filter has NO attribute references, so the key-only check
    // is vacuously true — pushed onto the summary it would sample GROUPS,
    // not base rows; only the determinism guard refuses it. (A vacuous
    // bound like rand() < 2.0 won't do here: the main optimizer folds it
    // away via Rand's known range before the rule ever runs.)
    val q = base.where(rand(42) < 0.5).groupBy("k1").agg(sum("v").as("sv"))
    assert(!fired(q), q.queryExecution.optimizedPlan.toString)
  }

  test("refuses AVG of a column without a registered non-null count") {
    // d is a registered sum column but has no nnCounts entry
    val q = base.groupBy("k1").agg(avg("d").as("ad"))
    assert(!fired(q))
    // and refuses COUNT(d) for the same reason
    assert(!fired(base.groupBy("k1").agg(count(col("d")).as("nd"))))
  }

  test("refuses DISTINCT aggregates") {
    assert(!fired(base.groupBy("k1").agg(sum_distinct(col("v")).as("sv"))))
    assert(!fired(base.groupBy("k1").agg(countDistinct(col("v")).as("nv"))))
  }

  test("refuses FILTER-clause aggregates") {
    base.createOrReplaceTempView("sv_base")
    val q = spark.sql(
      "SELECT k1, sum(v) FILTER (WHERE k2 = 'g0') AS sv " +
        "FROM sv_base GROUP BY k1")
    assert(!fired(q))
  }

  test("key-derived expression groupings fire: the expression evaluates " +
    "over summary key values exactly") {
    // substring(k1, 1, 1) collapses k0/k1/k2 into ONE group — the rewrite
    // must merge summary groups under the derived value, exactly, for
    // every served aggregate shape at once
    val rows = assertParity(
      base.groupBy(substring(col("k1"), 1, 1).as("kgrp"))
        .agg(sum("v").as("sv"), count(lit(1)).as("n"), avg("v").as("av"),
          min("v").as("mn"), max("v").as("mx"),
          countDistinct(col("k2")).as("nk2")),
      expectFired = true)
    assert(rows.length === 1 && rows.head.getString(0) === "k")
    assert(rows.head.getLong(2) === 60L)
    // a non-collapsing derivation and a multi-key expression also fire
    assertParity(
      base.groupBy(upper(col("k1")).as("K")).agg(sum("v").as("sv")),
      expectFired = true)
    assertParity(
      base.groupBy(concat_ws("|", col("k1"), col("k2")).as("kk"))
        .agg(sum("v").as("sv")),
      expectFired = true)
  }

  test("expression groupings refuse non-key references and non-determinism") {
    // v is not a key: f(v) cannot be evaluated over summary key values
    assert(!fired(base.groupBy((col("v") % 10).as("vb"))
      .agg(count(lit(1)).as("n"))))
    // a mixed expression touching any non-key column refuses too
    assert(!fired(base.groupBy(concat(col("k1"), col("v")).as("kv"))
      .agg(count(lit(1)).as("n"))))
    // non-deterministic grouping would bucket GROUPS instead of rows
    assert(!fired(base.groupBy((rand(7) * 3).cast("int").as("rb"))
      .agg(count(lit(1)).as("n"))))
  }

  test("refuses aggregates over a COMPUTED alias shadowing a registered " +
    "column") {
    // (v * 2).as("v") is non-cheap and referenced twice, so CollapseProject
    // leaves the projection BELOW the aggregate and the rule sees it as an
    // extracted definition; matching the registered sum column by surface
    // NAME alone would rewrite to the raw v-sums — silently half the right
    // answer. The rule must refuse on the computed def (for every
    // aggregate shape: SUM, AVG, COUNT(col), MIN, MAX).
    def q: DataFrame = base.select(col("k1"), (col("v") * 2).as("v"))
      .groupBy("k1").agg(sum("v").as("sv"), avg("v").as("av"))
    val planned = q
    val hasComputedDef = planned.queryExecution.optimizedPlan.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.exists {
          case al: org.apache.spark.sql.catalyst.expressions.Alias =>
            !al.child.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.AttributeReference]
          case _ => false
        }
    }.exists(identity)
    assert(hasComputedDef,
      s"premise: the computed projection must survive below the " +
        s"aggregate\n${planned.queryExecution.optimizedPlan}")
    assertParity(q, expectFired = false)
    assert(!fired(base.select(col("k1"), (col("v") * 2).as("v"))
      .groupBy("k1").agg(min("v").as("mn"), max("v").as("mx"))))
    // a RENAME of a registered column is still served — and from the
    // UNDERLYING column, not the surface name
    assertParity(
      base.select(col("k1"), col("d").as("vv"))
        .groupBy("k1").agg(sum("vv").as("s")),
      expectFired = true)
  }

  test("unregister(base, state) removes exactly one view of a multi-view " +
    "base") {
    SummaryViews.register(SummaryViews.View(
      basePath, s"$root/mv-ghost", Seq("k1"), Set("v"), None))
    try {
      // remove the ghost by pair: the standing (k1, k2) view keeps serving
      SummaryViews.unregister(basePath, s"$root/mv-ghost/")
      assert(fired(base.groupBy("k1", "k2").agg(sum("v").as("sv"))))
      // remove the standing view by pair (spelled with a trailing slash —
      // paths must normalize): nothing serves anymore
      SummaryViews.unregister(basePath, statePath + "/")
      assert(!fired(base.groupBy("k1", "k2").agg(sum("v").as("sv"))))
    } finally {
      SummaryViews.clear()
      SummaryViews.register(SummaryViews.View(
        basePath, statePath, Seq("k1", "k2"), Set("v", "d"), Some("n_rows"),
        nnCounts = Map("v" -> "v_nn"),
        minCols = Map("v" -> "v_min"), maxCols = Map("v" -> "v_max")))
    }
  }

  test("refuses an unregistered base") {
    assert(!fired(spark.read.parquet(baseUnregistered)
      .groupBy("k1").agg(sum("v").as("sv"))))
  }

  test("refuses (without throwing) when the state dir is absent") {
    SummaryViews.register(SummaryViews.View(
      baseUnregistered, s"$root/never-written", Seq("k1", "k2"),
      Set("v"), None))
    try {
      val q = spark.read.parquet(baseUnregistered)
        .groupBy("k1").agg(sum("v").as("sv"))
      assert(!fired(q))
      assert(q.count() === 3)
    } finally SummaryViews.unregister(baseUnregistered)
  }

  test("refuses aggregates the summary does not cover") {
    // d has sum maintenance but no extrema columns
    assert(!fired(base.groupBy("k1").agg(max("d").as("md"))))
    assert(!fired(base.groupBy("k1").agg(min("d").as("md"))))
  }

  test("MIN/MAX fire alongside SUM/AVG/COUNT in one query, exact under nulls") {
    val rows = assertParity(
      base.groupBy("k1").agg(
        min("v").as("mn"), max("v").as("mx"), sum("v").as("sv"),
        avg("v").as("av"), count(col("v")).as("nv"),
        count(lit(1)).as("n")),
      expectFired = true)
    assert(rows.length === 3)
  }

  // -------------------------------------------- plan cache + invalidation

  test("plan cache: N optimizations cost one resolve; a fold invalidates " +
    "even when the state path is spelled differently") {
    def q: DataFrame = base.groupBy("k1").agg(sum("v").as("sv"))
    q.queryExecution.optimizedPlan // prime the cache for this version
    val r0 = SummaryViews.stateResolves.get()
    (1 to 4).foreach(_ => assert(fired(q)))
    assert(SummaryViews.stateResolves.get() === r0,
      "cached plan must be served from memory, not re-resolved")

    val before = sortedRows(q)
    // fold one more guarded batch, spelling the path with a trailing slash
    // — the version key must normalize so the cache still invalidates
    val extra = Seq(("k0", "g0", 1000L, BigDecimal(0),
      1L, 1L, 1000L, 1000L))
      .toDF("k1", "k2", "v", "d", "n_rows", "v_nn", "v_min", "v_max")
      .withColumn("d", col("d").cast(DecimalType(28, 2)))
    IncrementalAgg.applyDelta(spark, statePath + "/", extra,
      keyCols = Seq("k1", "k2"),
      sumCols = Seq("v", "d", "n_rows", "v_nn"),
      nBuckets = 4, batchId = 99L,
      minCols = Seq("v_min"), maxCols = Seq("v_max"))
    assert(fired(q))
    assert(SummaryViews.stateResolves.get() === r0 + 1,
      "a fold must invalidate the cached plan exactly once")
    val after = sortedRows(q)
    assert(after !== before, "the rewritten answer must see the new delta")
    assert(after.find(_.getString(0) == "k0").get.getLong(1)
      === before.find(_.getString(0) == "k0").get.getLong(1) + 1000L)
    // rebuild the canonical fixture for any later test
    rebuildFixture()
  }

  test("a replayed fold after a crash between write and marker still bumps " +
    "the version (no stale cache, no FileNotFound)") {
    def q: DataFrame = base.groupBy("k1").agg(sum("v").as("sv"))
    val v0 = BucketedStateTable.stateVersion(statePath)
    val extra = Seq(("k1", "g1", 500L, BigDecimal(0), 1L, 1L, 500L, 500L))
      .toDF("k1", "k2", "v", "d", "n_rows", "v_nn", "v_min", "v_max")
      .withColumn("d", col("d").cast(DecimalType(28, 2)))
    foldOnce(extra, batchId = 100L)
    val v1 = BucketedStateTable.stateVersion(statePath)
    assert(v1 > v0)
    // simulate the crash window: state swapped, marker lost
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$statePath/_applied/batch-100"), true)
    foldOnce(extra, batchId = 100L) // replay → per-bucket guard path
    assert(BucketedStateTable.stateVersion(statePath) > v1,
      "the replay rewrote no buckets but the crashed attempt DID — " +
        "version must bump so caches drop the pre-crash listing")
    // the re-resolved plan answers correctly, applying the delta ONCE
    assert(fired(q))
    val sv = sortedRows(q).find(_.getString(0) == "k1").get.getLong(1)
    val expected = withoutRule(sortedRows(
      base.groupBy("k1").agg(sum("v").as("sv")))
      .find(_.getString(0) == "k1").get.getLong(1))
    assert(sv === expected + 500L)
    rebuildFixture()
  }

  private def foldOnce(extra: DataFrame, batchId: Long): Unit =
    IncrementalAgg.applyDelta(spark, statePath, extra,
      keyCols = Seq("k1", "k2"),
      sumCols = Seq("v", "d", "n_rows", "v_nn"),
      nBuckets = 4, batchId = batchId,
      minCols = Seq("v_min"), maxCols = Seq("v_max"))

  // ------------------------------------------- extensions-injection path

  test("the rule fires in a session built with spark.sql.extensions " +
    "(the spark-submit path, no install())") {
    val orig = spark
    // session extensions resolve by CLASS NAME from the context conf at
    // session construction — the exact spark-submit
    // `--conf spark.sql.extensions=graft.GraftExtensions` path
    org.apache.spark.sql.GraftBridge.setContextConf(orig.sparkContext,
      "spark.sql.extensions", "graft.GraftExtensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s2 ne orig)
      val q = s2.read.parquet(basePath)
        .groupBy("k1").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      assert(fired(q))
      val exp = withoutRule {
        sortedRows(orig.read.parquet(basePath)
          .groupBy("k1").agg(sum("v").as("sv"), count(lit(1)).as("n")))
      }
      assert(sortedRows(q) === exp)
    } finally {
      org.apache.spark.sql.GraftBridge.removeContextConf(orig.sparkContext,
        "spark.sql.extensions")
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  // ------------------------------------------- COUNT(DISTINCT) + liveness

  test("COUNT(DISTINCT key col) fires — alone, multi-key, and mixed with " +
    "SUM in one aggregate") {
    val rows = assertParity(
      base.groupBy("k1").agg(countDistinct(col("k2")).as("nk2"),
        sum("v").as("sv"), count(lit(1)).as("n")),
      expectFired = true)
    // every k1 sees both k2 values in the fixture
    assert(rows.length === 3 && rows.forall(_.getLong(1) === 2L))
    // global multi-arg distinct over the full key set: 3 × 2 combos
    val global = assertParity(
      base.agg(countDistinct(col("k1"), col("k2")).as("nkk")),
      expectFired = true)
    assert(global.head.getLong(0) === 6L)
  }

  test("COUNT(DISTINCT expr-of-keys) fires; SELECT DISTINCT keys is served " +
    "from the summary's key values") {
    // distinct over a key-derived expression: distinct substring values
    // over live summary rows == over base rows (f deterministic)
    val rows = assertParity(
      base.groupBy("k1")
        .agg(countDistinct(concat(col("k1"), col("k2"))).as("nkk")),
      expectFired = true)
    assert(rows.forall(_.getLong(1) === 2L))
    // SELECT DISTINCT over key columns is an Aggregate with no aggregate
    // functions — served straight from the summary's live key values
    assertParity(base.select("k1", "k2").distinct(), expectFired = true)
    assertParity(base.select("k1").distinct(), expectFired = true)
  }

  test("COUNT(DISTINCT) refuses non-key columns and count-less views") {
    // d is maintained as a sum, but distinct d is not answerable from a
    // (k1, k2)-keyed summary
    assert(!fired(base.groupBy("k1").agg(countDistinct(col("d")).as("nd"))))
    // a view without a maintained count column cannot prove liveness —
    // distinct-over-keys must refuse rather than count dead groups
    SummaryViews.register(SummaryViews.View(
      baseUnregistered, statePath, Seq("k1", "k2"), Set.empty, None))
    try {
      assert(!fired(spark.read.parquet(baseUnregistered)
        .groupBy("k1").agg(countDistinct(col("k2")).as("nk"))))
    } finally SummaryViews.unregister(baseUnregistered)
  }

  test("fully-deleted groups never resurrect: the liveness filter excludes " +
    "net-zero state rows from every rewritten shape") {
    // insert then fully delete a synthetic key combo: the state ROW
    // persists (applyDelta keeps net-zero rows), so only the maintained
    // count can prove the group dead
    def ghost(sign: Long): DataFrame = spark.range(4).select(
      lit("kz").as("k1"), lit("gz").as("k2"),
      lit(9L * sign).as("v"),
      lit(sign).cast(DecimalType(28, 2)).as("d"),
      lit(sign).as("n_rows"),
      lit(sign).as("v_nn"),
      lit(9L).as("v_min"), lit(9L).as("v_max"))
    IncrementalAgg.applyDelta(spark, statePath, ghost(1L),
      keyCols = Seq("k1", "k2"), sumCols = Seq("v", "d", "n_rows", "v_nn"),
      nBuckets = 4, batchId = 100L,
      minCols = Seq("v_min"), maxCols = Seq("v_max"))
    IncrementalAgg.applyDelta(spark, statePath, ghost(-1L),
      keyCols = Seq("k1", "k2"), sumCols = Seq("v", "d", "n_rows", "v_nn"),
      nBuckets = 4, batchId = 101L,
      minCols = Seq("v_min"), maxCols = Seq("v_max"))
    // the dead row is really in state …
    assert(IncrementalAgg.read(spark, statePath)
      .where(col("k1") === "kz").count() === 1L)
    // … and really absent from every rewritten answer
    val rows = assertParity(
      base.groupBy("k1").agg(count(lit(1)).as("n"),
        countDistinct(col("k2")).as("nk"), sum("v").as("sv")),
      expectFired = true)
    assert(!rows.exists(_.getString(0) == "kz"))
    val global = assertParity(
      base.agg(countDistinct(col("k1")).as("nk1")), expectFired = true)
    assert(global.head.getLong(0) === 3L)
  }

  // ------------------------------------------------- multi-view selection

  test("two views on one base: the coarse query picks the coarse summary, " +
    "the fine query the fine one; re-registration replaces in place") {
    val coarsePath = s"$root/mv-state-coarse"
    fs.delete(new org.apache.hadoop.fs.Path(coarsePath), true)
    // maintain a k1-only summary next to the standing (k1, k2) view
    val deltas = spark.read.parquet(basePath)
      .select(col("k1"), col("v"), lit(1L).as("n_rows"))
    graft.streaming.IncrementalAgg.applyDelta(spark, coarsePath, deltas,
      keyCols = Seq("k1"), sumCols = Seq("v", "n_rows"),
      nBuckets = 4, batchId = 0L)
    SummaryViews.register(SummaryViews.View(
      basePath, coarsePath, Seq("k1"), Set("v"), Some("n_rows")))
    def landsOn(df: DataFrame, suffix: String): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.exists(_.toString.endsWith(suffix))
            case _ => false
          }
      }.exists(identity)
    try {
      // coarse query: BOTH views can serve it — the k1-only summary has
      // fewer rows and must win
      val coarseQ = base.groupBy("k1")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      assert(landsOn(coarseQ, "mv-state-coarse/state"),
        s"coarse query must pick the coarse view:\n${
          coarseQ.queryExecution.optimizedPlan}")
      assert(sortedRows(coarseQ) === withoutRule(sortedRows(
        base.groupBy("k1").agg(sum("v").as("sv"), count(lit(1)).as("n")))))
      // fine query: only the (k1, k2) view can serve it
      val fineQ = base.groupBy("k1", "k2").agg(sum("v").as("sv"))
      assert(landsOn(fineQ, "mv-state/state"),
        s"fine query must fall through to the fine view:\n${
          fineQ.queryExecution.optimizedPlan}")
      assert(sortedRows(fineQ) === withoutRule(sortedRows(
        base.groupBy("k1", "k2").agg(sum("v").as("sv")))))
      // d is only maintained by the fine view: selection is per-QUERY
      // coverage, not just key arity
      val dQ = base.groupBy("k1").agg(sum("d").as("sd"))
      assert(landsOn(dQ, "mv-state/state"))
      // re-registering the same (base, state) pair REPLACES: drop the
      // coarse view's count column and COUNT(*) must fall through to fine
      SummaryViews.register(SummaryViews.View(
        basePath, coarsePath, Seq("k1"), Set("v"), None))
      val countQ = base.groupBy("k1").agg(count(lit(1)).as("n"))
      assert(landsOn(countQ, "mv-state/state"),
        "replaced registration must lose the coarse COUNT(*) capability")
    } finally {
      // restore the single-view standing fixture
      SummaryViews.clear()
      SummaryViews.register(SummaryViews.View(
        basePath, statePath, Seq("k1", "k2"), Set("v", "d"), Some("n_rows"),
        nnCounts = Map("v" -> "v_nn"),
        minCols = Map("v" -> "v_min"), maxCols = Map("v" -> "v_max")))
    }
  }

  // ------------------------------------------------- star-schema join path

  test("star-schema: Aggregate over fact ⋈ dim is served from " +
    "Join(summary, dim) — every aggregate shape at once") {
    val dim = Seq(("k0", "west"), ("k1", "east"), ("k2", "west"))
      .toDF("dk", "tier")
    val rows = assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .groupBy("tier")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"),
          min("v").as("mn"), max("v").as("mx"), avg("v").as("av"),
          count(col("v")).as("nv"))
    }, expectFired = true)
    assert(rows.length === 2)
    assert(rows.map(_.getLong(2)).sum === 60L, "every base row joins")
  }

  test("star-schema: N:M dim multiplicity stays exact (a key group's " +
    "aggregate replicates to each matching dim row)") {
    val dim = Seq(("k0", "a"), ("k0", "b"), ("k1", "a")).toDF("dk", "tag")
    val rows = assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .groupBy("tag")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    }, expectFired = true)
    // k0 rows land in BOTH tags; tag a additionally holds k1's rows
    assert(rows.find(_.getString(0) == "b").get.getLong(2) === 20L)
    assert(rows.find(_.getString(0) == "a").get.getLong(2) === 40L)
  }

  test("star-schema: mixed groupings (dim attr + fact key), key-only fact " +
    "filters, dim filters above the join — all fire") {
    val dim = Seq(("k0", "west"), ("k1", "east"), ("k2", "west"))
      .toDF("dk", "tier")
    assertParity({
      val f = base
      f.where(col("k2") =!= "gX") // key-only fact filter (below the join)
        .join(dim, f("k1") === dim("dk"))
        .where(col("tier").isNotNull) // dim filter (above/into the join)
        .groupBy(col("tier"), col("k2"))
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    }, expectFired = true)
    // spark.sql spelling with a dim-side predicate and HAVING
    base.createOrReplaceTempView("sv_base")
    dim.createOrReplaceTempView("sv_dim")
    assertParity(
      spark.sql(
        """SELECT d.tier, sum(f.v) AS sv, count(*) AS n
          |FROM sv_base f JOIN sv_dim d ON f.k1 = d.dk
          |WHERE d.tier <> 'none'
          |GROUP BY d.tier HAVING count(*) > 1""".stripMargin),
      expectFired = true)
  }

  test("star-schema: COUNT(DISTINCT keys / dim attrs / expressions) fires " +
    "— the (key-group, dim-row) pair set is identical under liveness") {
    // ONE distinct group per query: several distinct-arg groups expand
    // through RewriteDistinctAggregates (Expand + double Aggregate)
    // before user rules run — same served shape as the single-base path
    val dim = Seq(("k0", "west"), ("k1", "east"), ("k2", "west"))
      .toDF("dk", "tier")
    val rows = assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .groupBy("tier")
        .agg(countDistinct(col("k2")).as("nk2"), sum("v").as("sv"),
          count(lit(1)).as("n"))
    }, expectFired = true)
    assert(rows.length === 2)
    assert(rows.forall(_.getLong(1) === 2L), "both k2 values under each tier")
    // multi-ARG single distinct group, mixing a key and a dim attribute
    assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .groupBy("tier")
        .agg(countDistinct(col("k1"), col("tier")).as("nkt"))
    }, expectFired = true)
    // a key-derived EXPRESSION under the distinct
    assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .agg(countDistinct(concat(col("k1"), col("k2"))).as("nkk"))
    }, expectFired = true)
  }

  test("star-schema: MULTI-DIM stars (fact ⋈ dim1 ⋈ dim2) rewrite — the " +
    "nested join tree keeps both dims verbatim") {
    val dim1 = Seq(("k0", "west"), ("k1", "east"), ("k2", "west"))
      .toDF("dk", "tier")
    val dim2 = Seq(("g0", "zero"), ("g1", "one")).toDF("gk", "par")
    val rows = assertParity({
      val f = base
      f.join(dim1, f("k1") === dim1("dk"))
        .join(dim2, f("k2") === dim2("gk"))
        .groupBy("tier", "par")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"),
          min("v").as("mn"))
    }, expectFired = true)
    assert(rows.length === 4, "3 k1 × 2 k2 collapse to 2 tiers × 2 pars")
    assert(rows.map(_.getLong(3)).sum === 60L)
    // a dim joined on a fact NON-KEY column refuses the whole star
    val dim3 = Seq((7L, "x"), (14L, "y")).toDF("w", "t")
    val f2 = base
    assert(!fired(f2.join(dim1, f2("k1") === dim1("dk"))
      .join(dim3, f2("v") === dim3("w"))
      .groupBy("tier").agg(sum("v").as("sv"))))
    // an unstable SECOND dim refuses too (file-backed — a limit over a
    // LITERAL dim is executed away by the optimizer before rules run)
    dim2.write.mode("overwrite").parquet(s"$root/join-dim2")
    val f3 = base
    val d2lim = spark.read.parquet(s"$root/join-dim2").limit(1)
    assert(!fired(f3.join(dim1, f3("k1") === dim1("dk"))
      .join(d2lim, f3("k2") === d2lim("gk"))
      .groupBy("tier").agg(sum("v").as("sv"))))
  }

  test("star-schema: key-derived grouping expressions over the join fire") {
    val dim = Seq(("k0", "west"), ("k1", "east")).toDF("dk", "tier")
    assertParity({
      val f = base
      f.join(dim, f("k1") === dim("dk"))
        .groupBy(upper(col("tier")).as("T"), substring(col("k2"), 1, 1)
          .as("kg"))
        .agg(sum("v").as("sv"))
    }, expectFired = true)
  }

  test("star-schema refusals: dim-side aggregates, fact non-key " +
    "references, outer joins, DISTINCT, unstable dims") {
    val dim = Seq(("k0", 1L), ("k1", 2L), ("k2", 3L)).toDF("dk", "w")
    val f = base
    // SUM over a DIM column does not commute (weighs once per fact row
    // originally, once per summary row after) — must refuse
    assert(!fired(f.join(dim, f("k1") === dim("dk"))
      .groupBy("k1").agg(sum("w").as("sw"))))
    // fact NON-KEY column in the join condition sees rows, not key groups
    val f2 = base
    assert(!fired(f2.join(dim, f2("v") === dim("w"))
      .groupBy("k1").agg(sum("v").as("sv"))))
    // grouping on a fact non-key column
    val f3 = base
    assert(!fired(f3.join(dim, f3("k1") === dim("dk"))
      .groupBy("v").agg(count(lit(1)).as("n"))))
    // outer joins fabricate/keep rows the key argument cannot see
    val f4 = base
    assert(!fired(f4.join(dim, f4("k1") === dim("dk"), "left")
      .groupBy("k1").agg(sum("v").as("sv"))))
    // DISTINCT over a fact NON-KEY column is genuinely row-level — refuses
    val f5 = base
    assert(!fired(f5.join(dim, f5("k1") === dim("dk"))
      .groupBy("dk").agg(countDistinct(col("v")).as("nv"))))
    // a Limit dim's row set is run-dependent: parity is meaningless
    val dimFile = s"$root/join-dim"
    dim.write.mode("overwrite").parquet(dimFile)
    val dLim = spark.read.parquet(dimFile).limit(2)
    val f6 = base
    assert(!fired(f6.join(dLim, f6("k1") === dLim("dk"))
      .groupBy("dk").agg(sum("v").as("sv"))))
  }

  test("HAVING above the aggregate rewrites (filter lands on preserved " +
    "exprIds over the summary answer)") {
    base.createOrReplaceTempView("sv_base")
    assertParity(
      spark.sql(
        "SELECT k1, sum(v) AS sv, count(DISTINCT k2) AS nk " +
          "FROM sv_base GROUP BY k1 HAVING count(*) > 10"),
      expectFired = true)
  }

  test("decimal AVG fires — single-base, Cast-wrapped, and star — and is " +
    "BIT-EXACT against the base (Average's own decimal formula)") {
    val b2 = s"$root/avg-dec-base"
    val st2 = s"$root/avg-dec-state"
    fs.delete(new org.apache.hadoop.fs.Path(b2), true)
    fs.delete(new org.apache.hadoop.fs.Path(st2), true)
    // group sums are non-terminating thirds (quadratic values, 3 rows per
    // group), so the 6-fractional-digit rounding genuinely bites; group
    // g3 is ALL-NULL so the zero-divisor branch is exercised too.
    // TWO decimal widths, deliberately: avg(d: decimal(12,2)) reaches the
    // rule as a TRUE decimal Average (12+4 > 15 keeps DecimalAggregates
    // away), while avg(u: decimal(10,2)) arrives REWRITTEN by
    // DecimalAggregates into cast(avg(UnscaledValue(u))/10^2) — both
    // shapes must serve.
    spark.range(12).select(
      concat(lit("g"), (col("id") % 4).cast("string")).as("k"),
      when(col("id") % 4 === 3, lit(null).cast(DecimalType(12, 2)))
        .otherwise((col("id") * col("id") * 7 + 1).cast(DecimalType(12, 2)))
        .as("d"),
      when(col("id") % 4 === 3, lit(null).cast(DecimalType(10, 2)))
        .otherwise((col("id") * col("id") * 7 + 1).cast(DecimalType(10, 2)))
        .as("u"))
      .write.parquet(b2)
    IncrementalAgg.applyDelta(spark, st2,
      spark.read.parquet(b2).select(col("k"),
        col("d").cast(DecimalType(28, 2)).as("d"),
        col("u").cast(DecimalType(28, 2)).as("u"),
        lit(1L).as("n"),
        when(col("d").isNotNull, 1L).otherwise(0L).as("d_nn"),
        when(col("u").isNotNull, 1L).otherwise(0L).as("u_nn")),
      keyCols = Seq("k"), sumCols = Seq("d", "u", "n", "d_nn", "u_nn"),
      nBuckets = 2, batchId = 0L)
    SummaryViews.register(SummaryViews.View(
      b2, st2, Seq("k"), Set("d", "u"), Some("n"),
      nnCounts = Map("d" -> "d_nn", "u" -> "u_nn")))
    def firedOn(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.exists(
                _.toString.endsWith("avg-dec-state/state"))
            case _ => false
          }
      }.exists(identity)
    def decRows(df: DataFrame): Seq[(String, java.math.BigDecimal)] =
      df.collect().toSeq
        .map(r => (r.getString(0), r.getAs[java.math.BigDecimal](1)))
        .sortBy(_._1)
    try {
      def q = spark.read.parquet(b2).groupBy("k").agg(avg(col("d")).as("ad"))
      val p = q
      assert(firedOn(p), p.queryExecution.optimizedPlan.toString)
      // Average's decimal contract: avg(decimal(12,2)) = decimal(16,6)
      assert(p.schema("ad").dataType === DecimalType(16, 6))
      val got = decRows(p)
      val exp = withoutRule(decRows(q))
      assert(got === exp,
        "decimal AVG must be BIT-equal to the base (value AND scale)")
      assert(exp.exists(t => t._2 != null &&
          t._2.toPlainString.endsWith("666667")),
        s"premise: rounding must actually bite ($exp)")
      assert(got.exists(_._2 == null), "the all-null group must stay null")
      // the DecimalAggregates shape: avg(decimal(10,2)) is rewritten by
      // the MAIN optimizer into cast(avg(UnscaledValue(u))/100.0) before
      // this rule runs — the unscaled serving path + the generalized
      // wrapper must land it on the summary with the identical value
      def qu = spark.read.parquet(b2).groupBy("k").agg(avg(col("u")).as("au"))
      val pu = qu
      assert(firedOn(pu),
        s"the unscaled-avg shape must serve:\n${
          pu.queryExecution.optimizedPlan}")
      assert(pu.schema("au").dataType === DecimalType(14, 6))
      assert(decRows(pu) === withoutRule(decRows(qu)),
        "unscaled-avg serving must be value-equal to the base plan")
      // CAST-wrapped aggregates serve through the same path
      def qc = spark.read.parquet(b2).groupBy("k")
        .agg(avg(col("d")).cast("double").as("ad"),
          sum(col("d")).cast("double").as("sd"))
      val pc = qc
      assert(firedOn(pc), "Alias(Cast(agg)) must serve from the summary")
      assert(pc.collect().toSeq.sortBy(_.getString(0)) ===
        withoutRule(qc.collect().toSeq.sortBy(_.getString(0))))
      // and through the STAR path (fact ⋈ dim, aggregate on a dim label)
      val dim = Seq(("g0", "A"), ("g1", "B"), ("g2", "C"), ("g3", "D"))
        .toDF("dk", "tag")
      def qs = {
        val f = spark.read.parquet(b2)
        f.join(dim, f("k") === dim("dk"))
          .groupBy("tag").agg(avg(col("d")).as("ad"))
      }
      val ps = qs
      assert(firedOn(ps),
        s"star decimal AVG must serve:\n${ps.queryExecution.optimizedPlan}")
      assert(decRows(ps) === withoutRule(decRows(qs)))
    } finally SummaryViews.unregister(b2)
  }
}
