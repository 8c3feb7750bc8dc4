package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sources.BloomIndex

/** The bloom-pruned-join rule's contract: a globally injected rewriter
  * must prove it never fires wrongly (every refusal path), that firing
  * actually SKIPS files, and that the answer is bit-identical to the
  * plain join. */
class BloomJoinsSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val root = s"$outRoot/test-out/bloom-joins"
  private val factPath = s"$root/fact"
  private val fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // hash-spread layout: doc_id ranges overlap across every file, so only
  // the Bloom manifest can skip files for a point-ish dim
  fs.delete(new org.apache.hadoop.fs.Path(root), true)
  Tables.documents(spark, sfTiny)
    .select("doc_id", "lang", "source")
    .repartition(8, col("doc_id"))
    .write.parquet(factPath)
  BloomIndex.write(spark, factPath, Seq("doc_id"),
    expectedItemsPerFile = 2000, fpp = 0.01)
  BloomJoins.clear()
  BloomJoins.register(BloomJoins.Layout(factPath, "doc_id"))
  BloomJoins.install(spark)

  override def afterAll(): Unit = {
    BloomJoins.uninstall(spark)
    BloomJoins.clear()
    super.afterAll()
  }

  private def fact: DataFrame = spark.read.parquet(factPath)
  private def dimOf(ids: Long*): DataFrame =
    ids.toSeq.toDF("id")

  /** Number of fact files the optimized plan reads (0 when the scan
    * collapsed to a LocalRelation). Counts the file listing, not
    * rootPaths — a directory scan has ONE root path over 8 files. */
  private def factFiles(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if f.location.rootPaths.exists(_.toString.contains(
                "bloom-joins/fact")) =>
            f.location.inputFiles.length.toLong
          case _ => 0L
        }
    }.sum

  private def withoutRule[T](f: => T): T = {
    BloomJoins.uninstall(spark)
    try f finally BloomJoins.install(spark)
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("|"))

  /** Pruned and plain answers must agree; returns (rows, files read). */
  private def assertParity(q: => DataFrame): (Seq[Row], Long) = {
    val pruned = q
    val got = sortedRows(pruned)
    val exp = withoutRule {
      val e = q
      assert(factFiles(e) === 8L, "rule must be inert while uninstalled")
      sortedRows(e)
    }
    assert(got === exp)
    (got, factFiles(pruned))
  }

  test("a plain DataFrame inner join fires: files skipped, answer exact") {
    val dim = dimOf(3L, 7L, 11L)
    val (rows, files) = assertParity {
      val f = fact
      f.join(dim, f("doc_id") === dim("id"))
    }
    assert(rows.length === 3)
    assert(files > 0 && files < 8,
      s"expected file skipping, read $files of 8")
  }

  test("spark.sql spelling fires too, with parents resolving above the join") {
    fact.createOrReplaceTempView("bj_fact")
    dimOf(5L, 9L).createOrReplaceTempView("bj_dim")
    val q = spark.sql(
      """SELECT f.lang, count(*) AS n FROM bj_fact f
        |JOIN bj_dim d ON f.doc_id = d.id GROUP BY f.lang""".stripMargin)
    assert(factFiles(q) < 8, q.queryExecution.optimizedPlan.toString)
    val exp = withoutRule(sortedRows(spark.sql(
      """SELECT f.lang, count(*) AS n FROM bj_fact f
        |JOIN bj_dim d ON f.doc_id = d.id GROUP BY f.lang""".stripMargin)))
    assert(sortedRows(q) === exp)
  }

  test("fact-side filters stay in place above the pruned scan") {
    val dim = dimOf(3L, 7L)
    val (rows, files) = assertParity {
      val f = fact
      f.where(col("lang") =!= "zz").join(dim, f("doc_id") === dim("id"))
    }
    assert(files < 8)
    assert(rows.length === 2)
  }

  test("an empty dim prunes to the exact empty answer") {
    val dim = dimOf()
    val f = fact
    val q = f.join(dim, f("doc_id") === dim("id"))
    assert(factFiles(q) === 0L,
      "empty dim must collapse the fact scan entirely")
    assert(q.count() === 0L)
  }

  test("IN-subquery (left-semi) fires; NOT IN / anti never prunes") {
    fact.createOrReplaceTempView("bj_fact")
    dimOf(3L, 7L).createOrReplaceTempView("bj_dim_semi")
    val semi = spark.sql(
      "SELECT * FROM bj_fact WHERE doc_id IN (SELECT id FROM bj_dim_semi)")
    assert(factFiles(semi) > 0 && factFiles(semi) < 8,
      semi.queryExecution.optimizedPlan.toString)
    val exp = withoutRule(sortedRows(spark.sql(
      "SELECT * FROM bj_fact WHERE doc_id IN (SELECT id FROM bj_dim_semi)")))
    assert(sortedRows(semi) === exp)
    // anti: the kept rows are exactly the ones a pruned scan would drop
    val anti = spark.sql(
      "SELECT * FROM bj_fact WHERE doc_id NOT IN (SELECT id FROM bj_dim_semi)")
    assert(factFiles(anti) === 8L,
      anti.queryExecution.optimizedPlan.toString)
    assert(anti.count() === 498L)
  }

  test("literal IN / = filters prune the scan; OR branches never do") {
    val all = withoutRule(sortedRows(
      fact.where(col("doc_id").isin(3L, 7L, 11L))))
    // IN over the indexed column: scan swapped, filter stays, answer exact
    val q = fact.where(col("doc_id").isin(3L, 7L, 11L))
    assert(factFiles(q) > 0 && factFiles(q) < 8,
      q.queryExecution.optimizedPlan.toString)
    assert(sortedRows(q) === all)
    // single equality, spelled through SQL
    fact.createOrReplaceTempView("bj_fact")
    val eq = spark.sql("SELECT lang FROM bj_fact WHERE doc_id = 7")
    assert(factFiles(eq) > 0 && factFiles(eq) < 8)
    assert(eq.count() === 1L)
    // a conjunct on another column rides along (still prunes, still exact)
    val conj = fact.where(col("doc_id").isin(3L, 7L) && col("lang").isNotNull)
    assert(factFiles(conj) < 8)
    assert(conj.count() === 2L)
    // an OR involving the key must NOT prune: the other branch admits
    // rows in any file
    val or = fact.where(col("doc_id") === 3L || col("lang") === "en")
    assert(factFiles(or) === 8L,
      or.queryExecution.optimizedPlan.toString)
    // a large IN list goes through the optimizer's InSet form and still
    // prunes (cap permitting)
    val big = (1L to 15L).toSeq
    val inset = fact.where(col("doc_id").isin(big: _*))
    assert(factFiles(inset) < 8)
    assert(inset.count() === withoutRule(
      fact.where(col("doc_id").isin(big: _*)).count()))
  }

  test("literal pruning: NULL-only pins collapse to empty; non-key " +
    "columns and over-wide lists refuse") {
    val nullPin = fact.where(col("doc_id") === lit(null).cast("long"))
    assert(nullPin.count() === 0L)
    // literal filter on a non-indexed column: plain scan
    val nonKey = fact.where(col("lang") === "en")
    assert(factFiles(nonKey) === 8L)
    BloomJoins.register(BloomJoins.Layout(factPath, "doc_id", maxKeys = 2))
    try {
      val wide = fact.where(col("doc_id").isin(1L, 2L, 3L, 4L))
      assert(factFiles(wide) === 8L, "over-wide IN must refuse")
    } finally BloomJoins.register(BloomJoins.Layout(factPath, "doc_id"))
  }

  test("zone-registered range filters prune: BETWEEN, open-ended, " +
    "intersection; OR and unregistered columns refuse") {
    val zpath = s"$root/zfact"
    // range-cluster on doc_id so zones are tight
    Tables.documents(spark, sfTiny)
      .select("doc_id", "lang", "n_chars")
      .repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(zpath)
    graft.sources.ZoneMap.write(spark, zpath, Seq("doc_id", "n_chars"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "doc_id"))
    def zfiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                if f.location.rootPaths.exists(_.toString.contains("zfact")) =>
              f.location.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
    def z = spark.read.parquet(zpath)
    try {
      // closed interval: two conjuncts intersect to the holding files
      val between = z.where(col("doc_id") >= 100L && col("doc_id") <= 140L)
      assert(zfiles(between) > 0 && zfiles(between) < 8,
        between.queryExecution.optimizedPlan.toString)
      val exp = withoutRule(sortedRows(
        z.where(col("doc_id") >= 100L && col("doc_id") <= 140L)))
      assert(sortedRows(between) === exp)
      // open-ended bound prunes too (strict > probes the closed interval)
      val open = z.where(col("doc_id") > 450L)
      assert(zfiles(open) > 0 && zfiles(open) < 8)
      assert(open.count() === withoutRule(
        z.where(col("doc_id") > 450L).count()))
      // a second zoned column intersects its candidate set with the first
      BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "n_chars"))
      val both = z.where(col("doc_id") <= 80L && col("n_chars") >= 0)
      assert(zfiles(both) > 0 && zfiles(both) < 8)
      assert(both.count() === withoutRule(
        z.where(col("doc_id") <= 80L && col("n_chars") >= 0).count()))
      // OR involving the zoned column must not prune
      val or = z.where(col("doc_id") <= 10L || col("lang") === "en")
      assert(zfiles(or) === 8L)
      // a range on an unregistered column alone must not prune
      BloomJoins.unregisterZone(zpath)
      BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "n_chars"))
      val unreg = z.where(col("doc_id") <= 10L)
      assert(zfiles(unreg) === 8L)
    } finally BloomJoins.unregisterZone(zpath)
  }

  test("refuses an unregistered layout") {
    val other = s"$root/unregistered"
    fact.limit(50).write.mode("overwrite").parquet(other)
    val o = spark.read.parquet(other)
    val dim = dimOf(3L)
    val q = o.join(dim, o("doc_id") === dim("id"))
    val reads = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.contains("unregistered"))
          case _ => false
        }
    }
    assert(reads.exists(identity), "plain scan of the unregistered layout")
  }

  test("refuses outer joins and cross-side composite conditions") {
    val dim = dimOf(3L, 7L)
    val f = fact
    assert(factFiles(f.join(dim,
      f("doc_id") === dim("id"), "left")) === 8L)
    // a cross-side non-equi conjunct stays in the join condition (the
    // optimizer cannot split it to one side), so the rule must refuse.
    // (A SINGLE-side conjunct like `&& f("doc_id") > 0` is a non-test:
    // predicate pushdown splits it into a fact filter before this rule
    // runs, leaving a clean equi-join — firing there is correct.)
    val f2 = fact
    assert(factFiles(f2.join(dim,
      f2("doc_id") === dim("id") && f2("doc_id") =!= dim("id") + 1)) === 8L)
  }

  test("single-side extra conjuncts split into fact filters and still fire") {
    val dim = dimOf(3L, 7L)
    val (rows, files) = assertParity {
      val f = fact
      f.join(dim, f("doc_id") === dim("id") && f("doc_id") > 3)
    }
    assert(files > 0 && files < 8)
    assert(rows.length === 1)
  }

  test("refuses a non-deterministic dim (non-collapsible source)") {
    // the dim must be parquet-backed: a rand-filtered LOCAL relation is
    // eagerly evaluated by ConvertToLocalRelation into frozen rows before
    // this rule runs — at that point it IS deterministic and firing is
    // exact. Over a file source the Filter(rand…) survives into the
    // optimized plan and the rule must refuse (plan-time keys could
    // differ from run-time keys).
    val f = fact
    val dim = fact.select(col("doc_id").as("id"))
      .where(rand(42) < 0.001)
    val q = f.join(dim, f("doc_id") === dim("id"))
    val planStr = q.queryExecution.optimizedPlan.toString
    assert(planStr.contains("rand("), s"premise: rand must survive\n$planStr")
    assert(factFiles(q) >= 8L, // both sides scan the full layout
      s"non-deterministic dim must not prune:\n$planStr")
  }

  test("refuses a dim whose non-determinism hides in a scalar-subquery PLAN") {
    // the rand lives in a NESTED subquery plan, not in the dim's own
    // expressions — the determinism guard must recurse into PlanExpression
    // plans, or plan-time keys could come from one rand draw and run-time
    // keys from another (real false negatives). The dim is a SEPARATE
    // parquet table so the only prunable orientation is fact=registered.
    val dimPath = s"$root/subq-dim"
    dimOf(3L, 7L).write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("bj_subq_dim")
    val dim = spark.sql(
      "SELECT id FROM bj_subq_dim WHERE id >= (SELECT min(r) FROM " +
        "(SELECT rand(42) AS r FROM bj_subq_dim) t)")
    val f = fact
    val q = f.join(dim, f("doc_id") === dim("id"))
    assert(factFiles(q) === 8L,
      s"subquery-hidden non-determinism must refuse:\n${
        q.queryExecution.optimizedPlan}")
    // the same dim table WITHOUT the subquery still prunes — the refusal
    // above is the guard biting, not the fixture failing to qualify
    val plain = spark.read.parquet(dimPath)
    val f2 = fact
    val q2 = f2.join(plain, f2("doc_id") === plain("id"))
    assert(factFiles(q2) > 0 && factFiles(q2) < 8,
      q2.queryExecution.optimizedPlan.toString)
  }

  test("refuses plan-level row-set non-determinism: Limit and Sample dims") {
    // a Limit (no total order) or Sample selects a run-dependent SUBSET of
    // deterministic rows: two executions can return different keys, so the
    // plan-time collect is not authoritative and the rule must refuse
    val dimPath = s"$root/subq-dim"
    dimOf(3L, 7L, 11L).write.mode("overwrite").parquet(dimPath)
    val d = spark.read.parquet(dimPath)
    val f = fact
    val lim = d.limit(2)
    val ql = f.join(lim, f("doc_id") === lim("id"))
    assert(ql.queryExecution.optimizedPlan.toString.contains("Limit"),
      "premise: the limit must survive optimization")
    assert(factFiles(ql) === 8L,
      s"Limit dim must refuse:\n${ql.queryExecution.optimizedPlan}")
    val smp = d.sample(0.99, 7L)
    val qs = f.join(smp, f("doc_id") === smp("id"))
    assert(qs.queryExecution.optimizedPlan.toString.contains("Sample"),
      "premise: the sample must survive optimization")
    assert(factFiles(qs) === 8L,
      s"Sample dim must refuse:\n${qs.queryExecution.optimizedPlan}")
    // a limit above a global sort that does NOT order on the key still
    // refuses: ties on the sort column are free to swap key rows
    val limNoKey = d.orderBy(col("id") % 2).limit(2)
    val qn = f.join(limNoKey, f("doc_id") === limNoKey("id"))
    assert(factFiles(qn) === 8L,
      s"sorted-limit WITHOUT the key in the order must refuse:\n${
        qn.queryExecution.optimizedPlan}")
    // the carve-out: a top-n whose ordering includes the key itself is
    // key-set-reproducible and FIRES (the `ORDER BY x DESC, key LIMIT n`
    // dim shape)
    val topn = d.orderBy((col("id") % 5).desc, col("id")).limit(2)
    val qt = f.join(topn, f("doc_id") === topn("id"))
    assert(qt.queryExecution.optimizedPlan.toString.contains("Limit") ||
      qt.queryExecution.optimizedPlan.toString.contains("Sort"),
      "premise: the top-n must survive optimization")
    assert(factFiles(qt) > 0 && factFiles(qt) < 8,
      s"key-ordered top-n dim must fire:\n${qt.queryExecution.optimizedPlan}")
    val exp = withoutRule {
      val f3 = fact
      val t3 = d.orderBy((col("id") % 5).desc, col("id")).limit(2)
      sortedRows(f3.join(t3, f3("doc_id") === t3("id")))
    }
    assert(sortedRows(qt) === exp)
  }

  test("zone rule: NULL comparisons collapse to the exact empty scan, " +
    "literal on either side") {
    // applied to the rule DIRECTLY — the main optimizer normally folds
    // null comparisons away before user rules run, but the rule itself
    // must never leak a Some(null) bound into the zone probe
    val zpath = s"$root/zfact-null"
    Tables.documents(spark, sfTiny).select("doc_id", "lang")
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(zpath)
    graft.sources.ZoneMap.write(spark, zpath, Seq("doc_id"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "doc_id"))
    try {
      val rel = spark.read.parquet(zpath).queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r
      }.head
      val key = rel.output.find(_.name == "doc_id").get
      val rule = RewriteToBloomPrunedJoin(spark)
      def assertEmptyCollapse(
          cond: org.apache.spark.sql.catalyst.expressions.Expression)
          : Unit = {
        val out = rule(
          org.apache.spark.sql.catalyst.plans.logical.Filter(cond, rel))
        assert(out.collect {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            true
        }.nonEmpty, s"expected the scan to collapse:\n$out")
        // the exact empty answer, executed — not just a plan shape
        assert(org.apache.spark.sql.GraftBridge.ofRows(spark, out)
          .count() === 0L)
      }
      val nullLong = org.apache.spark.sql.catalyst.expressions
        .Literal(null, org.apache.spark.sql.types.LongType)
      assertEmptyCollapse(org.apache.spark.sql.catalyst.expressions
        .GreaterThan(nullLong, key)) // null on the LEFT
      assertEmptyCollapse(org.apache.spark.sql.catalyst.expressions
        .LessThan(key, nullLong)) // null on the RIGHT
    } finally BloomJoins.unregisterZone(zpath)
  }

  test("refuses a dim wider than maxKeys instead of degrading") {
    BloomJoins.register(BloomJoins.Layout(factPath, "doc_id", maxKeys = 2))
    try {
      val dim = dimOf(1L, 2L, 3L, 4L)
      val f = fact
      assert(factFiles(f.join(dim, f("doc_id") === dim("id"))) === 8L)
    } finally BloomJoins.register(BloomJoins.Layout(factPath, "doc_id"))
  }

  test("refuses when the join key is not the indexed column") {
    val dim = Seq("en").toDF("l")
    val f = fact
    val q = f.join(dim, f("lang") === dim("l"))
    assert(factFiles(q) === 8L)
  }

  test("composite-key equi-joins prune by intersecting per-column " +
    "candidate sets") {
    val cpath = s"$root/composite-fact"
    Tables.documents(spark, sfTiny)
      .select(col("doc_id"), pmod(col("doc_id"), lit(7)).as("grp"),
        col("lang"))
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(cpath)
    BloomIndex.write(spark, cpath, Seq("doc_id", "grp"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    BloomJoins.register(BloomJoins.Layout(cpath, "doc_id"))
    BloomJoins.register(BloomJoins.Layout(cpath, "grp"))
    def cfiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation
                if f.location.rootPaths.exists(
                  _.toString.contains("composite-fact")) =>
              f.location.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
    try {
      val f = spark.read.parquet(cpath)
      // (3, 3) matches (doc 3 has grp 3 % 7); (7, 0) matches (7 % 7 = 0)
      val dim = Seq((3L, 3L), (7L, 0L)).toDF("id", "g")
      val q = f.join(dim,
        f("doc_id") === dim("id") && f("grp") === dim("g"))
      assert(cfiles(q) > 0 && cfiles(q) < 8,
        s"two-key join must prune:\n${q.queryExecution.optimizedPlan}")
      val exp = withoutRule {
        val f2 = spark.read.parquet(cpath)
        sortedRows(f2.join(dim,
          f2("doc_id") === dim("id") && f2("grp") === dim("g")))
      }
      assert(sortedRows(q) === exp)
      assert(exp.length === 2, "premise: both composite keys must match")
      // a pair on an UNREGISTERED column rides along: pruning comes from
      // the registered column alone, answer stays exact
      val f3 = spark.read.parquet(cpath)
      val dim2 = Seq((3L, "en"), (7L, "zh")).toDF("id", "lg")
      val q2 = f3.join(dim2,
        f3("doc_id") === dim2("id") && f3("lang") === dim2("lg"))
      assert(cfiles(q2) > 0 && cfiles(q2) < 8,
        q2.queryExecution.optimizedPlan.toString)
      assert(sortedRows(q2) === withoutRule {
        val f4 = spark.read.parquet(cpath)
        sortedRows(f4.join(dim2,
          f4("doc_id") === dim2("id") && f4("lang") === dim2("lg")))
      })
      // per-column unregister keeps the sibling layout serving
      BloomJoins.unregister(cpath, "grp")
      val f5 = spark.read.parquet(cpath)
      val q3 = f5.join(dim, f5("doc_id") === dim("id") &&
        f5("grp") === dim("g"))
      assert(cfiles(q3) > 0 && cfiles(q3) < 8,
        "doc_id layout must keep pruning after grp's removal")
      BloomJoins.unregister(cpath, "doc_id")
      val f6 = spark.read.parquet(cpath)
      assert(cfiles(f6.join(dim, f6("doc_id") === dim("id"))) === 8L,
        "removing the last layout must stop pruning entirely")
    } finally BloomJoins.unregister(cpath)
  }

  test("probe cache: replanning the same query costs one probe; a manifest " +
    "rebuild and a dim overwrite each invalidate exactly once") {
    val dimPath = s"$root/cache-dim"
    dimOf(3L, 7L).write.mode("overwrite").parquet(dimPath)
    def q: org.apache.spark.sql.DataFrame = {
      val f = fact
      val d = spark.read.parquet(dimPath)
      f.join(d, f("doc_id") === d("id"))
    }
    assert(factFiles(q) > 0 && factFiles(q) < 8) // prime the cache
    val r0 = BloomJoins.probeRuns.get()
    (1 to 4).foreach(_ => assert(factFiles(q) > 0 && factFiles(q) < 8))
    assert(BloomJoins.probeRuns.get() === r0,
      "replanning the same query must be served from the probe cache")
    // a manifest rebuild bumps the version: exactly one fresh probe
    BloomIndex.write(spark, factPath, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    assert(factFiles(q) > 0 && factFiles(q) < 8)
    assert(BloomJoins.probeRuns.get() === r0 + 1,
      "a manifest version bump must invalidate the cached probe")
    // overwriting the DIM at the same path changes its data fingerprint:
    // the canonicalized plan alone would serve the stale key set
    dimOf(3L, 7L, 11L).write.mode("overwrite").parquet(dimPath)
    val rows = {
      val f = fact
      val d = spark.read.parquet(dimPath)
      val j = f.join(d, f("doc_id") === d("id"))
      assert(factFiles(j) > 0 && factFiles(j) < 8)
      sortedRows(j)
    }
    assert(BloomJoins.probeRuns.get() === r0 + 2,
      "a dim data change must invalidate the cached probe")
    assert(rows.length === 3, "the fresh dim's keys must all join")
    // two LITERAL dims with the same schema but different rows must not
    // collide (LocalRelation's string image elides the data — the cache
    // keys on the canonicalized plan OBJECT, whose equality includes it)
    val dA = dimOf(3L)
    val fA = fact
    assert(sortedRows(fA.join(dA, fA("doc_id") === dA("id")))
      .map(_.getLong(0)) === Seq(3L))
    val dB = dimOf(7L)
    val fB = fact
    assert(sortedRows(fB.join(dB, fB("doc_id") === dB("id")))
      .map(_.getLong(0)) === Seq(7L),
      "a same-schema literal dim must get ITS OWN candidate files")
  }

  test("zone maps serve JOINS: a dim-driven equi-join on a " +
    "range-clustered column prunes by the dim's [min, max]") {
    val zpath = s"$root/zjoin-fact"
    Tables.documents(spark, sfTiny).select("doc_id", "lang")
      .repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(zpath)
    // ZONE manifest only — no bloom index anywhere on this layout
    graft.sources.ZoneMap.write(spark, zpath, Seq("doc_id"),
      updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "doc_id"))
    def zfiles(df: DataFrame): Long =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation
                if f.location.rootPaths.exists(
                  _.toString.contains("zjoin-fact")) =>
              f.location.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
    try {
      val dim = dimOf(3L, 7L, 11L) // a narrow id interval: few zones hit
      def q: DataFrame = {
        val f = spark.read.parquet(zpath)
        f.join(dim, f("doc_id") === dim("id"))
      }
      val p = q
      assert(zfiles(p) > 0 && zfiles(p) < 8,
        s"the dim's [min,max] must zone-skip files:\n${
          p.queryExecution.optimizedPlan}")
      assert(sortedRows(p) === withoutRule(sortedRows(q)))
      assert(p.count() === 3L)
      // an empty dim still collapses to the exact empty answer
      val dEmpty = dimOf()
      val fe = spark.read.parquet(zpath)
      assert(zfiles(fe.join(dEmpty, fe("doc_id") === dEmpty("id"))) === 0L)
      // the shared determinism gate applies: a bare Limit dim refuses
      val dimFile = s"$root/zjoin-dim"
      dimOf(1L, 2L, 3L).write.mode("overwrite").parquet(dimFile)
      val dLim = spark.read.parquet(dimFile).limit(2)
      val f2 = spark.read.parquet(zpath)
      assert(zfiles(f2.join(dLim, f2("doc_id") === dLim("id"))) === 8L,
        "a run-dependent dim row set must refuse zone-join pruning too")
    } finally BloomJoins.unregisterZone(zpath)
  }

  test("probe cache is an access-order LRU: hot keys survive the cap, " +
    "cold keys age out") {
    val r0 = BloomJoins.probeRuns.get()
    BloomJoins.cachedProbe("lru-hot")(BloomJoins.Probed(Seq("f"))) // one miss, cached
    (1 to 600).foreach { i =>
      BloomJoins.cachedProbe(s"lru-cold-$i")(BloomJoins.Probed(Nil))
      // the hot key is TOUCHED between every insertion: access-order LRU
      // must keep it alive through 600 evict-worthy puts
      BloomJoins.cachedProbe("lru-hot")(
        sys.error("the hot key must never be recomputed"))
    }
    assert(BloomJoins.probeRuns.get() === r0 + 601,
      "601 misses expected: 1 hot + 600 cold; the hot key always hits")
    var recomputed = false
    BloomJoins.cachedProbe("lru-cold-1") { recomputed = true; BloomJoins.Probed(Nil) }
    assert(recomputed, "a cold key beyond the cap must have aged out")
  }

  test("a corrupted manifest refuses LOUDLY: exact answer over a full " +
    "scan, refusal counter on the metrics surface") {
    val cpath = s"$root/corrupt-fact"
    Tables.documents(spark, sfTiny)
      .select("doc_id", "lang")
      .repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(cpath)
    BloomIndex.write(spark, cpath, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    BloomJoins.register(BloomJoins.Layout(cpath, "doc_id"))
    // corrupt the manifest: junk bytes where parquet should be
    val mdir = new org.apache.hadoop.fs.Path(s"$cpath/_bloomindex")
    fs.delete(mdir, true)
    fs.mkdirs(mdir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(mdir, "part-00000.parquet"))
    out.write("this is not a parquet file".getBytes("UTF-8"))
    out.close()
    val before = graft.streaming.GraftMetrics
      .counterTotal(BloomJoins.RefusalMetric)
    try {
      def q: org.apache.spark.sql.DataFrame =
        spark.read.parquet(cpath).where(col("doc_id").isin(3L, 7L))
      def cfiles(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case f: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation
                  if f.location.rootPaths.exists(
                    _.toString.contains("corrupt-fact")) =>
                f.location.inputFiles.length.toLong
              case _ => 0L
            }
        }.sum
      val planned = q
      assert(cfiles(planned) === 4L,
        "broken manifest must refuse to prune — full scan")
      assert(sortedRows(planned) === withoutRule(sortedRows(q)),
        "the answer must stay exact")
      assert(graft.streaming.GraftMetrics
        .counterTotal(BloomJoins.RefusalMetric) > before,
        "the refusal must be counted, not swallowed")
      assert(graft.streaming.GraftMetrics.render()
        .contains(BloomJoins.RefusalMetric),
        "the counter must render on the /metrics surface")
    } finally BloomJoins.unregister(cpath)
  }

  // -------------------------------------------------- bloom × zone composition

  /** A layout carrying BOTH tiers: range-clustered by n_chars (zone maps
    * prune ranges) with doc_id spread across every file (bloom prunes
    * point lookups). Built once, shared by the composition tests. */
  private lazy val composePath: String = {
    val p = s"$root/compose-fact"
    Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartitionByRange(8, col("n_chars"), col("doc_id"))
      .write.mode("overwrite").parquet(p)
    graft.sources.ZoneMap.write(spark, p, Seq("n_chars"))
    BloomIndex.write(spark, p, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    // the writers SELF-DESCRIBE (catalog beside the data) — drop that
    // here: these tests measure each pruning leg in ISOLATION, and
    // discovery would re-register the other leg at first planning
    GraftCatalog.delete(spark, p)
    BloomJoins.unregister(p)
    BloomJoins.unregisterZone(p)
    p
  }

  private def composeFiles(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if f.location.rootPaths.exists(_.toString.contains(
                "compose-fact")) =>
            f.location.inputFiles.length.toLong
          case _ => 0L
        }
    }.sum

  /** (two low-n_chars ids in different low files, the max-n_chars id,
    * the median n_chars threshold) — chosen so the bloom leg and the
    * zone leg each keep SOME files and their intersection keeps fewer
    * than either. */
  private lazy val composeProbe: (Long, Long, Long, Long) = {
    val byChars = spark.read.parquet(composePath)
      .select("doc_id", "n_chars").orderBy(col("n_chars"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val low1 = byChars.head._1
    val low2 = byChars(byChars.length / 4)._1
    val high = byChars.last._1
    val thr = byChars(byChars.length / 2)._2
    (low1, low2, high, thr)
  }

  test("bloom IN-list and zone range candidate sets INTERSECT on one scan") {
    val (low1, low2, high, thr) = composeProbe
    def q: DataFrame = spark.read.parquet(composePath)
      .where(col("doc_id").isin(low1, low2, high) && col("n_chars") >= thr)
    def withBloom[T](on: Boolean)(f: => T): T = {
      if (on) BloomJoins.register(BloomJoins.Layout(composePath, "doc_id"))
      try f finally BloomJoins.unregister(composePath)
    }
    def withZone[T](on: Boolean)(f: => T): T = {
      if (on) BloomJoins.registerZone(
        BloomJoins.ZoneLayout(composePath, "n_chars"))
      try f finally BloomJoins.unregisterZone(composePath)
    }
    val bloomOnly = withBloom(true)(withZone(false)(composeFiles(q)))
    val zoneOnly = withBloom(false)(withZone(true)(composeFiles(q)))
    val both = withBloom(true)(withZone(true)(composeFiles(q)))
    val exp = withBloom(false)(withZone(false)(sortedRows(q)))
    val got = withBloom(true)(withZone(true)(sortedRows(q)))
    assert(got === exp, "the composed prune must stay exact")
    assert(bloomOnly > 0 && bloomOnly < 8,
      s"bloom leg alone must skip some files (read $bloomOnly of 8)")
    assert(zoneOnly > 0 && zoneOnly < 8,
      s"zone leg alone must skip some files (read $zoneOnly of 8)")
    assert(both < bloomOnly && both < zoneOnly,
      s"the intersection must beat either leg alone " +
        s"(both=$both bloom=$bloomOnly zone=$zoneOnly)")
  }

  test("join pruning composes with a zone range on the fact side") {
    val (low1, _, high, thr) = composeProbe
    BloomJoins.register(BloomJoins.Layout(composePath, "doc_id"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(composePath, "n_chars"))
    try {
      def q: DataFrame = {
        val f = spark.read.parquet(composePath)
          .where(col("n_chars") >= thr)
        val d = dimOf(low1, high)
        f.join(d, f("doc_id") === d("id"))
      }
      val both = composeFiles(q)
      BloomJoins.unregisterZone(composePath)
      val joinOnly = composeFiles(q)
      BloomJoins.unregister(composePath)
      BloomJoins.registerZone(BloomJoins.ZoneLayout(composePath, "n_chars"))
      val zoneOnly = composeFiles(q)
      BloomJoins.register(BloomJoins.Layout(composePath, "doc_id"))
      val got = sortedRows(q)
      val exp = withoutRule(sortedRows(q))
      assert(got === exp, "the composed join prune must stay exact")
      assert(joinOnly > 0 && joinOnly < 8 && zoneOnly > 0 && zoneOnly < 8)
      assert(both < joinOnly && both < zoneOnly,
        s"join ∩ zone must beat either leg alone " +
          s"(both=$both join=$joinOnly zone=$zoneOnly)")
    } finally {
      BloomJoins.unregister(composePath)
      BloomJoins.unregisterZone(composePath)
    }
  }

  test("literal IN-list cache keys are collision-free: IN ('a,b') vs " +
    "IN ('a','b')") {
    val cpath = s"$root/comma-fact"
    Seq(("a,b", 1), ("a", 2), ("b", 3)).toDF("s", "v")
      .repartitionByRange(3, col("v"))
      .write.mode("overwrite").parquet(cpath)
    BloomIndex.write(spark, cpath, Seq("s"),
      expectedItemsPerFile = 10, fpp = 0.01)
    assert(spark.read.parquet(s"$cpath/_bloomindex").count() === 3L,
      "fixture needs one file per row for the collision to be observable")
    BloomJoins.register(BloomJoins.Layout(cpath, "s"))
    try {
      def q(vals: String*): DataFrame =
        spark.read.parquet(cpath).where(col("s").isin(vals: _*))
      // prime the cache with the comma-carrying single value…
      assert(q("a,b").collect().map(_.getInt(1)).toSeq === Seq(1))
      // …then the two-value list on the same column and manifest version
      // must get ITS OWN candidate files, not the cached single-value set
      assert(q("a", "b").collect().map(_.getInt(1)).sorted.toSeq ===
        Seq(2, 3),
        "IN ('a','b') must not be served IN ('a,b')'s candidate files")
    } finally BloomJoins.unregister(cpath)
  }

  test("an exception-driven probe refusal is NOT cached: repairing the " +
    "manifest on disk re-enables pruning without a version bump") {
    val cpath = s"$root/transient-fact"
    Tables.documents(spark, sfTiny)
      .select("doc_id", "lang")
      .repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(cpath)
    BloomIndex.write(spark, cpath, Seq("doc_id"),
      expectedItemsPerFile = 2000, fpp = 0.01)
    BloomJoins.register(BloomJoins.Layout(cpath, "doc_id"))
    val mdir = new org.apache.hadoop.fs.Path(s"$cpath/_bloomindex")
    val stash = new org.apache.hadoop.fs.Path(s"$cpath/_bloomindex_stash")
    try {
      // break the manifest ON DISK (stash the real one — nothing bumps
      // the in-process manifest version in this test, by design)
      assert(fs.rename(mdir, stash))
      fs.mkdirs(mdir)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(mdir, "part-00000.parquet"))
      out.write("junk".getBytes("UTF-8"))
      out.close()
      def q: DataFrame =
        spark.read.parquet(cpath).where(col("doc_id").isin(3L, 7L))
      def cfiles(df: DataFrame): Long =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case f: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation
                  if f.location.rootPaths.exists(
                    _.toString.contains("transient-fact")) =>
                f.location.inputFiles.length.toLong
              case _ => 0L
            }
        }.sum
      assert(cfiles(q) === 4L, "broken manifest must refuse — full scan")
      // repair on disk only: a transient-refusal cache entry would pin
      // the full scan forever (no write path runs to bump the version)
      fs.delete(mdir, true)
      assert(fs.rename(stash, mdir))
      assert(cfiles(q) < 4L,
        "the next planning must RETRY the probe and prune again")
    } finally {
      BloomJoins.unregister(cpath)
      if (fs.exists(stash)) { fs.delete(mdir, true); fs.rename(stash, mdir) }
    }
  }

  test("a filter above a projection that swaps two column names prunes " +
      "by attribute, never by name") {
    val zpath = s"$root/zfact-swap"
    Tables.documents(spark, sfTiny).select("doc_id", "n_chars")
      .repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(zpath)
    graft.sources.ZoneMap.write(spark, zpath, Seq("doc_id", "n_chars"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "doc_id"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(zpath, "n_chars"))
    try {
      def z = spark.read.parquet(zpath)
      // a value of relation n_chars, which the renamed "doc_id" holds; a
      // read by NAME would probe relation doc_id's zones for it
      val v = z.select(max(col("n_chars"))).head().getLong(0)
      def q() = z.select(col("doc_id").as("n_chars"),
          col("n_chars").as("doc_id"))
        .where(col("doc_id") === v)
      val got = sortedRows(q())
      assert(got.nonEmpty && got === withoutRule(sortedRows(q())))
    } finally BloomJoins.unregisterZone(zpath)
  }
}
