package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ZoneMap

/** The manifest-served-aggregate rule's contract: a globally injected
  * rewriter must prove it never fires wrongly (every refusal path), that
  * firing actually SERVES from metadata (zero or boundary-only data
  * files), and that the answer is bit-identical to the plain aggregate. */
class MetaAggSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val root = s"$outRoot/test-out/meta-agg"
  private val layout = s"$root/fact"
  private val fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // range-clustered on k: 4 files with disjoint k ranges (0-24, 25-49,
  // 50-74, 75-99). n mirrors k but is NULL at multiples of 10; d is an
  // exact decimal; v is a double (min/max servable, sum refused); b is
  // the file's bucket id (k / 25) — HOMOGENEOUS per file, the grouped
  // serving shape.
  private def rows = (0 until 100).map { i =>
    (i.toLong,
      if (i % 10 == 0) None else Some(i.toLong),
      BigDecimal(i).setScale(2),
      i / 4.0,
      s"s$i",
      (i / 25).toLong,
      (i / 50).toLong)
  }

  /** Write one file per exact k-range (0-24, 25-49, 50-74, 75-99): the
    * strict-bound scenarios reason about file EDGES, so the boundaries
    * must be pinned, not sampled by a range partitioner. */
  private def writeRanged(path: String): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Seq(0, 25, 50, 75).foreach { lo =>
      rows.filter(r => r._1 >= lo && r._1 < lo + 25)
        .toDF("k", "n", "d", "v", "s", "b", "b2")
        .withColumn("d", col("d").cast("decimal(10,2)"))
        .coalesce(1).write.mode("append").parquet(path)
    }
  }

  fs.delete(new org.apache.hadoop.fs.Path(root), true)
  writeRanged(layout)
  ZoneMap.write(spark, layout, Seq("k", "n", "d", "v", "b", "b2"))
  BloomJoins.clear()
  GraftCatalog.clearCache()
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "k"))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "n"))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "d"))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "v"))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "b"))
  BloomJoins.registerZone(BloomJoins.ZoneLayout(layout, "b2"))
  MetaAgg.install(spark)

  override def afterAll(): Unit = {
    MetaAgg.uninstall(spark)
    BloomJoins.uninstall(spark)
    BloomJoins.clear()
    super.afterAll()
  }

  private def fact: DataFrame = spark.read.parquet(layout)

  /** Data files of a layout the optimized plan still reads (the
    * `_zonemap` manifest scan is excluded — reading it is the point). */
  private def dataFiles(df: DataFrame,
                        marker: String = "meta-agg/fact"): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if f.location.rootPaths.exists(p =>
                p.toString.contains(marker) &&
                  !p.toString.contains("_zonemap")) =>
            f.location.inputFiles.length.toLong
          case _ => 0L
        }
    }.sum

  private def servedBy(q: => DataFrame): (DataFrame, Long) = {
    val before = MetaAgg.served.get()
    val df = q
    df.queryExecution.optimizedPlan // force planning
    (df, MetaAgg.served.get() - before)
  }

  private def withoutRule[T](f: => T): T = {
    MetaAgg.uninstall(spark)
    try f finally MetaAgg.install(spark)
  }

  private def assertParity(q: => DataFrame): (Seq[Row], Long) = {
    val (df, fired) = servedBy(q)
    assert(fired >= 1, "expected the rule to fire\n" +
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    val exp = withoutRule {
      val e = q
      assert(dataFiles(e) === 4L, "rule must be inert while uninstalled")
      e.collect().toSeq.sortBy(_.mkString("|"))
    }
    assert(got === exp)
    (got, dataFiles(df))
  }

  test("no predicate: the dashboard profile reads ZERO data files") {
    val (rows, files) = assertParity(
      fact.agg(count(lit(1)).as("n_rows"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), sum(col("k")).as("k_sum"),
        count(col("n")).as("n_cnt"), sum(col("n")).as("n_sum"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max")))
    assert(files === 0L, "fully covered: no data file may be opened")
    val r = rows.head
    assert(r.getLong(0) === 100L)
    assert(r.getLong(1) === 0L && r.getLong(2) === 99L)
    assert(r.getLong(3) === (0 until 100).map(_.toLong).sum)
    assert(r.getLong(4) === 90L) // 10 nulls
    assert(r.getLong(5) === (0 until 100).filter(_ % 10 != 0).map(_.toLong).sum)
  }

  test("range predicate: covered files served, only boundary files scanned") {
    // k in [20, 60]: file 0 (0-24) partial, file 1 (25-49) covered,
    // file 2 (50-74) partial, file 3 excluded
    val (rows, files) = assertParity(
      fact.where(col("k") >= 20L && col("k") <= 60L)
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"),
          min(col("k")).as("mn"), max(col("k")).as("mx")))
    assert(files === 2L, s"expected the two boundary files, read $files")
    val r = rows.head
    assert(r.getLong(0) === 41L)
    assert(r.getLong(1) === (20 to 60).map(_.toLong).sum)
    assert(r.getLong(2) === 20L && r.getLong(3) === 60L)
  }

  test("strict bounds respect coverage: file edges are not over-covered") {
    // k > 24 && k < 75: file 1 and 2 covered, files 0 and 3 EXCLUDED by
    // the strict candidate test (0-24 has max 24, not > 24)
    val (rows, files) = assertParity(
      fact.where(col("k") > 24L && col("k") < 75L)
        .agg(count(lit(1)).as("c"), min(col("k")).as("mn"),
          max(col("k")).as("mx")))
    assert(files === 0L,
      s"strict bounds land exactly on file edges: all-covered, read $files")
    assert(rows.head.getLong(0) === 50L)
    assert(rows.head.getLong(1) === 25L && rows.head.getLong(2) === 74L)
  }

  test("IN-list predicates: single-valued files on a listed value are " +
      "covered; a zone spanning two listed values scans (values between " +
      "may hide)") {
    // b is file-homogeneous (0,1,2,3): IN (0, 2) covers files 0 and 2
    // fully, excludes the rest — zero data files
    val (rows, files) = assertParity(
      fact.where(col("b").isin(0L, 2L))
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk")))
    assert(files === 0L, s"homogeneous IN-covered files must serve, read $files")
    assert(rows.head.getLong(0) === 50L)
    assert(rows.head.getLong(1) ===
      ((0 until 25) ++ (50 until 75)).map(_.toLong).sum)
    // k spans 25 values per file: IN (5, 30) finds files 0 and 1 as
    // candidates, but NEITHER is covered (their zones span the listed
    // values, unlisted values sit between) — both scan, answers exact
    val (rows2, files2) = assertParity(
      fact.where(col("k").isin(5L, 30L)).agg(count(lit(1)).as("c")))
    assert(files2 === 2L, s"spanning zones must scan, read $files2")
    assert(rows2.head.getLong(0) === 2L)
  }

  test("a predicate on the NULL-bearing column is never certified covered") {
    // every file holds a NULL n (multiples of 10), so NO file is covered
    // for a predicate on n — everything routes to the partial scan
    val (rows, files) = assertParity(
      fact.where(col("n") >= 0L)
        .agg(count(lit(1)).as("c"), count(col("n")).as("cn")))
    assert(files === 4L, "nulls in the predicate column forbid coverage")
    assert(rows.head.getLong(0) === 90L && rows.head.getLong(1) === 90L)
  }

  test("decimal SUM serves exactly, cast back to the original sum type") {
    val (rows, files) = assertParity(
      fact.where(col("k") >= 25L && col("k") <= 74L)
        .agg(sum(col("d")).as("sd"), min(col("d")).as("mnd"),
          max(col("d")).as("mxd")))
    assert(files === 0L)
    val r = rows.head
    assert(r.getDecimal(0).compareTo(
      BigDecimal((25 to 74).sum).bigDecimal) === 0)
    assert(r.getDecimal(1).compareTo(BigDecimal(25).bigDecimal) === 0)
    assert(r.getDecimal(2).compareTo(BigDecimal(74).bigDecimal) === 0)
  }

  test("double SUM refuses (order-dependent); min/max on double serve") {
    val (_, firedSum) = servedBy(fact.agg(sum(col("v")).as("sv")))
    assert(firedSum === 0L, "double sum must not be served from sums")
    val (df, firedMm) = servedBy(
      fact.agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
    assert(firedMm === 1L)
    val r = df.collect().head
    assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 99 / 4.0)
  }

  test("empty match: count 0, min/max/sum NULL — exactly the plain answer") {
    val (rows, files) = assertParity(
      fact.where(col("k") > 1000L)
        .agg(count(lit(1)).as("c"), min(col("k")).as("mn"),
          sum(col("k")).as("sk")))
    assert(files === 0L)
    val r = rows.head
    assert(r.getLong(0) === 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("spark.sql spelling with aliases and BETWEEN fires through renames") {
    fact.createOrReplaceTempView("ma_fact")
    def q = spark.sql(
      """SELECT count(*) AS c, sum(k) AS sk, max(k) AS mx
        |FROM ma_fact WHERE k BETWEEN 30 AND 40""".stripMargin)
    val (df, fired) = servedBy(q)
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    // [30,40] sits INSIDE file 1's zone [25,49]: the file is candidate
    // but not covered - exactly one boundary file scans
    assert(dataFiles(df) === 1L)
    val exp = withoutRule(q.collect().toSeq)
    assert(df.collect().toSeq === exp)
  }

  test("projection renames between aggregate and scan resolve to the layout") {
    val (rows, files) = assertParity(
      fact.select(col("k").as("key2"), col("n").as("n2"))
        .where(col("key2") <= 49L)
        .agg(count(lit(1)).as("c"), sum(col("key2")).as("sk"),
          count(col("n2")).as("cn")))
    assert(files === 0L)
    val r = rows.head
    assert(r.getLong(0) === 50L)
    assert(r.getLong(1) === (0 until 50).map(_.toLong).sum)
    assert(r.getLong(2) === 45L)
  }

  test("refusals: non-zone GROUP BY, AVG, non-zone conjunct, expression arg") {
    def refuses(q: => DataFrame): Unit = {
      val (_, fired) = servedBy(q)
      assert(fired === 0L)
    }
    refuses(fact.groupBy(col("s")).agg(count(lit(1)).as("c")))
    refuses(fact.agg(avg(col("k")).as("a")))
    refuses(fact.where(col("s") === "s3").agg(count(lit(1)).as("c")))
    refuses(fact.agg(sum(col("k") + 1L).as("c")))
    // and refusal leaves answers exact (plain plan)
    val got = fact.where(col("s") === "s3").agg(count(lit(1))).collect()
    assert(got.head.getLong(0) === 1L)
  }

  test("appended files the manifest has not seen yet scan raw — never missed") {
    val extra = s"$root/appended"
    writeRanged(extra)
    ZoneMap.write(spark, extra, Seq("k"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(extra, "k"))
    // append rows OUTSIDE the old range, without updating the manifest
    Seq((200L, Some(200L), BigDecimal(200).setScale(2), 1.0, "x", 8L, 4L))
      .toDF("k", "n", "d", "v", "s", "b", "b2")
      .write.mode("append").parquet(extra)
    val (df, fired) = servedBy(
      spark.read.parquet(extra).agg(count(lit(1)).as("c"),
        max(col("k")).as("mx"), sum(col("k")).as("sk")))
    assert(fired === 1L)
    val r = df.collect().head
    assert(r.getLong(0) === 101L)
    assert(r.getLong(1) === 200L)
    assert(r.getLong(2) === (0 until 100).map(_.toLong).sum + 200L)
    // after ZoneMap.update the appended file is indexed: zero data files
    ZoneMap.update(spark, extra, Seq("k"))
    val (df2, fired2) = servedBy(
      spark.read.parquet(extra).agg(count(lit(1)).as("c")))
    assert(fired2 === 1L && dataFiles(df2) === 0L)
    assert(df2.collect().head.getLong(0) === 101L)
  }

  test("an out-of-process append + manifest update between plannings " +
      "cannot double-count (pinned snapshot)") {
    val raced = s"$root/raced"
    writeRanged(raced)
    ZoneMap.write(spark, raced, Seq("k"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(raced, "k"))
    // 1. plan once — every probe (snapshot, file list, schema) now cached
    //    under the current in-process manifest version
    val (warm, fired0) = servedBy(
      spark.read.parquet(raced).agg(count(lit(1)).as("c"),
        sum(col("k")).as("sk")))
    assert(fired0 === 1L && warm.collect().head.getLong(0) === 100L)
    // 2. ANOTHER PROCESS appends a file and runs ZoneMap.update: the
    //    on-disk manifest gains the new file's row, but this process's
    //    version counter never moves (simulated by rewinding it after a
    //    local update) — the cached probes stay pinned to the OLD snapshot
    val verBefore =
      graft.sources.Manifests.manifestVersion(raced, "_zonemap")
    Seq((300L, Some(300L), BigDecimal(300).setScale(2), 1.0, "x", 12L, 6L))
      .toDF("k", "n", "d", "v", "s", "b", "b2")
      .write.mode("append").parquet(raced)
    ZoneMap.update(spark, raced, Seq("k"))
    graft.sources.Manifests.setManifestVersion(raced, "_zonemap", verBefore)
    // 3. replan: the appended file is UNKNOWN to the pinned snapshot, so
    //    it scans raw — and its fresh manifest row must be invisible to
    //    the manifest leg. Without the pin the row passes the fresh
    //    manifest read too and the file is counted twice.
    val (df, fired) = servedBy(
      spark.read.parquet(raced).agg(count(lit(1)).as("c"),
        sum(col("k")).as("sk")))
    assert(fired === 1L)
    val r = df.collect().head
    assert(r.getLong(0) === 101L,
      "appended file must be counted exactly once across the two legs")
    assert(r.getLong(1) === (0 until 100).map(_.toLong).sum + 300L)
  }

  test("a stale manifest (files vanished) refuses — fresh data answers plainly") {
    val stale = s"$root/stale"
    writeRanged(stale)
    ZoneMap.write(spark, stale, Seq("k"), updateCatalog = false)
    // delete the k=[0,24] data file OUT FROM UNDER the manifest
    val doomed = spark.read.parquet(s"$stale/_zonemap")
      .filter(col("k_min") === 0L).select("file")
      .collect().head.getString(0)
    fs.delete(new org.apache.hadoop.fs.Path(doomed), false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(stale, "k"))
    val (df, fired) = servedBy(
      spark.read.parquet(stale).agg(count(lit(1)).as("c")))
    assert(fired === 0L, "manifest rows for vanished files must refuse")
    assert(df.collect().head.getLong(0) === 75L)
  }

  test("plan-time probes are cached: replanning the same query probes zero") {
    val q1 = fact.where(col("k") >= 20L && col("k") <= 60L)
      .agg(count(lit(1)).as("c"))
    q1.queryExecution.optimizedPlan
    val before = BloomJoins.probeRuns.get()
    val q2 = fact.where(col("k") >= 20L && col("k") <= 60L)
      .agg(count(lit(1)).as("c"))
    q2.queryExecution.optimizedPlan
    assert(BloomJoins.probeRuns.get() === before,
      "identical re-plan must be served from the probe cache")
    assert(q2.collect().head.getLong(0) === 41L)
  }

  test("discovery: a fresh session state serves purely through the catalog") {
    // ZoneMap.write self-described the layout; drop every in-memory trace
    BloomJoins.clear()
    GraftCatalog.clearCache()
    val (df, fired) = servedBy(
      fact.agg(count(lit(1)).as("c"), max(col("k")).as("mx")))
    assert(fired === 1L, "catalog discovery must re-arm the rule")
    val r = df.collect().head
    assert(r.getLong(0) === 100L && r.getLong(1) === 99L)
  }

  test("GROUP BY a file-homogeneous column serves with zero data files") {
    val (rows0, files) = assertParity(
      fact.groupBy(col("b")).agg(count(lit(1)).as("c"),
        sum(col("k")).as("sk"), min(col("k")).as("mn"),
        max(col("k")).as("mx"), count(col("n")).as("cn")))
    assert(files === 0L, "homogeneous groups must be served from zones")
    assert(rows0.length === 4)
    val b0 = rows0.find(_.getLong(0) === 0L).get
    assert(b0.getLong(1) === 25L)
    assert(b0.getLong(2) === (0 until 25).map(_.toLong).sum)
    assert(b0.getLong(3) === 0L && b0.getLong(4) === 24L)
    assert(b0.getLong(5) === 22L) // nulls at 0, 10, 20
  }

  test("GROUP BY with a predicate: interior groups served, boundaries scanned") {
    val (rows0, files) = assertParity(
      fact.where(col("k") >= 20L && col("k") <= 60L)
        .groupBy(col("b")).agg(count(lit(1)).as("c"),
          sum(col("k")).as("sk")))
    assert(files === 2L, s"expected the two boundary files, read $files")
    assert(rows0.length === 3)
    val b1 = rows0.find(_.getLong(0) === 1L).get
    assert(b1.getLong(1) === 25L)
    assert(b1.getLong(2) === (25 to 49).map(_.toLong).sum)
  }

  test("GROUP BY a mixed column scans everything but stays exact") {
    // n is not file-homogeneous (25 distinct values per file): every
    // candidate file routes to the partial leg, answers stay exact
    val (rows0, files) = assertParity(
      fact.groupBy(col("n")).agg(count(lit(1)).as("c")))
    assert(files === 4L)
    assert(rows0.length === 91) // 90 non-null n values + the NULL group
  }

  /** Two files, one with g = 1 and one with g all NULL, zoned on k and
    * g: (re)built by every test that reads it, so each runs on its own. */
  private def nullGroupLayout(): String = {
    val ng = s"$root/nullgroup"
    fs.delete(new org.apache.hadoop.fs.Path(ng), true)
    Seq((1L, Some(1L)), (2L, Some(1L))).toDF("k", "g")
      .coalesce(1).write.mode("append").parquet(ng)
    Seq((3L, None: Option[Long]), (4L, None: Option[Long])).toDF("k", "g")
      .coalesce(1).write.mode("append").parquet(ng)
    ZoneMap.write(spark, ng, Seq("k", "g"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(ng, "k"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(ng, "g"))
    ng
  }

  test("an all-NULL group zone serves as the SQL NULL group") {
    val ng = nullGroupLayout()
    val (df, fired) = servedBy(
      spark.read.parquet(ng).groupBy(col("g"))
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk")))
    assert(fired === 1L)
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    val exp = withoutRule(
      spark.read.parquet(ng).groupBy(col("g"))
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
        .collect().toSeq.sortBy(_.mkString("|")))
    assert(got === exp)
    assert(got.exists(r => r.isNullAt(0) && r.getLong(1) === 2L &&
      r.getLong(2) === 7L))
  }

  test("GROUP BY date_trunc (monotone, key-derived): range-homogeneous " +
      "files serve, only the week-straddling file scans") {
    val dpath = s"$root/derived"
    fs.delete(new org.apache.hadoop.fs.Path(dpath), true)
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // 2024-01-01 is a Monday. File A inside week 1, file B inside week 2,
    // file C straddles the Jan-8 boundary — its ts range crosses a week
    // edge, so f(min) != f(max) and it must scan.
    val fileA = Seq((ts(1), 10L, "web-1"), (ts(2), 20L, "web-2"),
      (ts(3), 30L, "web-3"))
    val fileB = Seq((ts(9), 40L, "app-4"), (ts(10), 50L, "app-5"))
    val fileC = Seq((ts(6), 60L, "app-6"), (ts(9), 70L, "web-7"))
    Seq(fileA, fileB, fileC).foreach(rs =>
      rs.toDF("ts", "amt", "src").coalesce(1)
        .write.mode("append").parquet(dpath))
    ZoneMap.write(spark, dpath, Seq("ts", "amt", "src"),
      updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(dpath, "ts"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(dpath, "amt"))
    BloomJoins.registerZone(BloomJoins.ZoneLayout(dpath, "src"))
    def q() = spark.read.parquet(dpath)
      .groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(count(lit(1)).as("c"), sum(col("amt")).as("sa"),
        min(col("ts")).as("first_ts"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L)
    assert(dataFiles(df, "meta-agg/derived") === 1L,
      "only the straddling file may scan\n" +
        df.queryExecution.optimizedPlan.toString)
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    val exp = withoutRule(q().collect().toSeq.sortBy(_.mkString("|")))
    assert(got === exp)
    // SELECT DISTINCT over the same derived expression rides the
    // distinct-value legs
    def qd() = spark.read.parquet(dpath)
      .select(date_trunc("week", col("ts")).as("wk")).distinct()
    val (dd, firedD) = servedBy(qd())
    assert(firedD === 1L && dataFiles(dd, "meta-agg/derived") === 1L)
    assert(dd.collect().map(_.getTimestamp(0)).sorted(
        Ordering.by((t: java.sql.Timestamp) => t.getTime)).toSeq ===
      withoutRule(qd().collect().map(_.getTimestamp(0)).sorted(
        Ordering.by((t: java.sql.Timestamp) => t.getTime)).toSeq))
  }

  test("GROUP BY a prefix substring (monotone on binary collation) " +
      "serves files homogeneous in the prefix") {
    val dpath = s"$root/derived"
    // file A is all web-*, file B all app-*: f(min)==f(max) though the
    // column itself is mixed per file; file C holds both prefixes → scans
    def q() = spark.read.parquet(dpath)
      .groupBy(substring(col("src"), 1, 3).as("p"))
      .agg(count(lit(1)).as("c"), max(col("amt")).as("mx"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L)
    assert(dataFiles(df, "meta-agg/derived") === 1L,
      "files A and B are prefix-homogeneous and must serve")
    assert(df.collect().toSeq.sortBy(_.mkString("|")) ===
      withoutRule(q().collect().toSeq.sortBy(_.mkString("|"))))
  }

  test("cast(timestamp AS long) is whitelisted monotone: composes with " +
      "date_trunc under the squeeze test") {
    val dpath = s"$root/derived"
    def q() = spark.read.parquet(dpath)
      .groupBy(date_trunc("week", col("ts")).cast("long").as("wk_s"))
      .agg(count(lit(1)).as("c"), sum(col("amt")).as("sa"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "meta-agg/derived") === 1L,
      "week-homogeneous files must serve through the cast too")
    assert(df.collect().toSeq.sortBy(_.mkString("|")) ===
      withoutRule(q().collect().toSeq.sortBy(_.mkString("|"))))
  }

  test("a PERIODIC expression (month over a multi-year file) is not " +
      "whitelisted: f(min)==f(max) alone must not serve — answers exact") {
    val tpath = s"$root/periodic"
    fs.delete(new org.apache.hadoop.fs.Path(tpath), true)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // one file spans Jan 2023 → Jan 2024: month(min)=1 == month(max)=1,
    // but a June row sits between — serving it from the manifest would
    // LOSE the June group and double the January count
    val trap = Seq((t("2023-01-15 00:00:00"), 1L),
      (t("2023-06-15 00:00:00"), 2L), (t("2024-01-10 00:00:00"), 3L))
    val clean = Seq((t("2024-03-05 00:00:00"), 4L),
      (t("2024-03-20 00:00:00"), 5L))
    Seq(trap, clean).foreach(rs => rs.toDF("ts", "amt").coalesce(1)
      .write.mode("append").parquet(tpath))
    ZoneMap.write(spark, tpath, Seq("ts"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(tpath, "ts"))
    def q() = spark.read.parquet(tpath)
      .groupBy(month(col("ts")).as("m")).agg(count(lit(1)).as("c"))
    val (df, fired) = servedBy(q())
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    val exp = withoutRule(q().collect().toSeq.sortBy(_.mkString("|")))
    assert(got === exp, "month groups must be exact")
    assert(got.map(r => (r.getInt(0), r.getLong(1))).toMap ===
      Map(1 -> 2L, 3 -> 2L, 6 -> 1L))
    if (fired > 0)
      assert(dataFiles(df, "meta-agg/periodic") >= 1L,
        "the multi-year file must scan — month is not order-preserving")
  }

  test("derived-grouping refusals: non-deterministic and multi-column " +
      "expressions leave the plan untouched") {
    val dpath = s"$root/derived"
    def refuses(q: => DataFrame): Unit = {
      val (_, fired) = servedBy(q)
      assert(fired === 0L)
    }
    refuses(spark.read.parquet(dpath)
      .groupBy((rand(7) * 2).cast("int").as("bucket"))
      .agg(count(lit(1)).as("c")))
    refuses(spark.read.parquet(dpath)
      .groupBy(concat(col("src"), col("amt").cast("string")).as("k2"))
      .agg(count(lit(1)).as("c")))
  }

  test("grouped refusals: non-zone group column, distinct+plain agg mix") {
    def refuses(q: => DataFrame): Unit = {
      val (_, fired) = servedBy(q)
      assert(fired === 0L)
    }
    refuses(fact.groupBy(col("s")).agg(count(lit(1)).as("c")))
    // a distinct count mixed with a plain aggregate plans through Expand
    // (or would need mixed legs) — must never be half-served
    refuses(fact.agg(countDistinct(col("b")).as("db"),
      count(lit(1)).as("c")))
  }

  test("SELECT DISTINCT over a homogeneous column reads zero data files") {
    val (rows0, files) = assertParity(fact.select(col("b")).distinct())
    assert(files === 0L)
    assert(rows0.map(_.getLong(0)) === Seq(0L, 1L, 2L, 3L))
  }

  test("DISTINCT with a predicate scans only the boundary files") {
    val (rows0, files) = assertParity(
      fact.where(col("k") >= 20L && col("k") <= 60L)
        .select(col("b")).distinct())
    assert(files === 2L)
    assert(rows0.map(_.getLong(0)) === Seq(0L, 1L, 2L))
  }

  test("count(DISTINCT c) serves globally and per group") {
    val (df, fired) = servedBy(fact.agg(countDistinct(col("b")).as("db")))
    assert(fired === 1L && dataFiles(df) === 0L)
    assert(df.collect().head.getLong(0) === 4L)
    // grouped: distinct fine buckets per coarse bucket — both homogeneous
    val (rows0, files) = assertParity(
      fact.groupBy(col("b2")).agg(countDistinct(col("b")).as("db")))
    assert(files === 0L)
    assert(rows0.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((0L, 2L), (1L, 2L)))
  }

  test("distinct serving over a mixed column falls back to scanning, exactly") {
    val (rows0, files) = assertParity(fact.select(col("n")).distinct())
    assert(files === 4L)
    assert(rows0.length === 91) // 90 values + the NULL row
    val (df, fired) = servedBy(fact.agg(countDistinct(col("n")).as("dn")))
    assert(fired === 1L)
    assert(df.collect().head.getLong(0) === 90L) // NULL never counted
  }

  test("dim-join serving: fact aggregates under an inner equi-join on a " +
      "key-homogeneous layout read ZERO fact files") {
    val dim = Seq((0L, "x"), (1L, "y"), (3L, "z")).toDF("bk", "tag")
    val f = fact
    def q() = f.join(dim, f("b") === dim("bk"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"),
        min(col("k")).as("mn"), max(col("n")).as("mx"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1)
    assert(dataFiles(df) === 0L,
      "every file is b-homogeneous: the join must be answered from the " +
        "manifest\n" + df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    val expRows = (0 until 100).filter(i => Set(0, 1, 3)(i / 25))
    assert(r.getLong(0) === expRows.length.toLong)
    assert(r.getLong(1) === expRows.map(_.toLong).sum)
    assert(r.getLong(2) === 0L)
    assert(r.getLong(3) === 99L)
    // parity against the un-rewritten plan
    assert(withoutRule(q().collect().head) === r)
  }

  test("dim-join serving handles MULTIPLICITY: a key matching m dim rows " +
      "counts the file m times — exactly like the real join") {
    val dim = Seq((0L, "x"), (0L, "x2"), (1L, "y")).toDF("bk", "tag")
    val f = fact
    def q() = f.join(dim, f("b") === dim("bk"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L && dataFiles(df) === 0L)
    val r = df.collect().head
    assert(r.getLong(0) === 75L) // 2×25 + 25
    assert(r.getLong(1) ===
      2L * (0 until 25).map(_.toLong).sum + (25 until 50).map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
    // fact-side WHERE composes: range conjuncts narrow the served files
    val f2 = fact
    def q2() = f2.where(col("k") >= 25L)
      .join(dim, f2("b") === dim("bk")).agg(count(lit(1)).as("c"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L)
    assert(df2.collect().head.getLong(0) === 25L)
    assert(withoutRule(q2().collect().head.getLong(0)) === 25L)
  }

  test("dim-join serving composes with GROUP BY on fact zone columns — " +
      "bare and key-derived alike") {
    val dim = Seq((0L, "x"), (1L, "y"), (3L, "z")).toDF("bk", "tag")
    // b2 (k/50) is file-homogeneous like b: grouped dim-join serves all
    // four files from the manifest
    val f = fact
    def q() = f.join(dim, f("b") === dim("bk"))
      .groupBy(col("b2"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1)
    assert(dataFiles(df) === 0L,
      "grouped dim-join over homogeneous files must be manifest-only\n" +
        df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // dim keys {0,1,3}: b2=0 gets files b=0 and b=1 (50 rows), b2=1 gets
    // only file b=3 (25 rows; b=2 has no dim match)
    assert(got === Seq(
      (0L, 50L, (0 until 50).map(_.toLong).sum),
      (1L, 25L, (75 until 100).map(_.toLong).sum)))
    assert(withoutRule(q().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)) === got)
    // a KEY-DERIVED grouping over the join rides the same legs
    val f2 = fact
    def q2() = f2.join(dim, f2("b") === dim("bk"))
      .groupBy((col("b2") * 10L).as("g"))
      .agg(count(lit(1)).as("c"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L && dataFiles(df2) === 0L)
    val got2 = df2.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(got2 === Seq((0L, 50L), (10L, 25L)))
    assert(withoutRule(q2().collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)) === got2)
    // grouping on a DIM column refuses — only fact-side groupings serve
    val f3 = fact
    val (_, fired3) = servedBy(
      f3.join(dim, f3("b") === dim("bk"))
        .groupBy(dim("tag")).agg(count(lit(1)).as("c")))
    assert(fired3 === 0L)
  }

  test("dim-join refusals: non-homogeneous key stands aside for the " +
      "pruning tier; dim-side aggregate, outer join, non-deterministic " +
      "dim all refuse") {
    val dim = Seq((10L, "x")).toDF("kk", "tag")
    def refuses(tag: String)(q: => DataFrame): Unit = {
      val before = MetaAgg.servedJoin.get()
      val (df, fired) = servedBy(q)
      assert(fired === 0L && MetaAgg.servedJoin.get() === before,
        s"[$tag] must refuse:\n" + df.queryExecution.optimizedPlan.toString +
          "\n--- without rule ---\n" +
          withoutRule(q.queryExecution.optimizedPlan.toString))
    }
    // k is NOT file-homogeneous (each file spans 25 values): zero files
    // can serve — the rule must refuse so RewriteToBloomPrunedJoin can
    // still prune this exact join shape
    val f = fact
    refuses("non-homog")(f.join(dim, f("k") === dim("kk"))
      .agg(count(lit(1)).as("c")))
    val bdim = Seq((0L, 7L)).toDF("bk", "w")
    // dim-side aggregate argument
    val f3 = fact
    refuses("dim-agg")(f3.join(bdim, f3("b") === bdim("bk"))
      .agg(sum(bdim("w")).as("sw")))
    // outer joins change the row multiset — only Inner serves
    val f4 = fact
    refuses("outer")(f4.join(bdim, f4("b") === bdim("bk"), "left")
      .agg(count(lit(1)).as("c")))
    // a non-deterministic dim would diverge between the two legs — the
    // non-determinism must be LOAD-BEARING (a filter), or the optimizer
    // rightly prunes it away before the rule ever sees it
    // the non-determinism must SURVIVE to the rule: over a one-row
    // LocalRelation the main optimizer evaluates even rand-bearing
    // projections away (leaving a genuinely deterministic dim — serving
    // is then correct); a parquet-backed dim with a non-decidable rand
    // filter cannot be folded, and the rule must refuse it
    val dimPath = s"$root/nondet-dim"
    bdim.write.mode("overwrite").parquet(dimPath)
    val f5 = fact
    val ndim = spark.read.parquet(dimPath).where(rand(3) < 0.9999)
    refuses("nondet-dim")(f5.join(ndim, f5("b") === ndim("bk"))
      .agg(count(lit(1)).as("c")))
    // and the refused shapes stay exact on the plain plan
    assert(f.join(dim, f("k") === dim("kk"))
      .agg(count(lit(1))).collect().head.getLong(0) === 1L)
  }

  test("multi-dim STAR: fact ⋈ dim1 ⋈ dim2 serves from the manifest when " +
      "files are homogeneous in every join key — multiplicities multiply") {
    // dimB keys b (k/25), dimB2 keys b2 (k/50) — every file is
    // homogeneous in BOTH, so the whole star answers from manifest rows;
    // dimB2 carries a DUPLICATE key row to prove cross-dim multiplicity
    // multiplies exactly as the nested joins do
    val dimB = Seq((0L, "x"), (1L, "y"), (3L, "z")).toDF("bk", "tag")
    val dimB2 = Seq((0L, 10L), (0L, 11L), (1L, 12L)).toDF("b2k", "w")
    val f = fact
    def q() = f.join(dimB, f("b") === dimB("bk"))
      .join(dimB2, f("b2") === dimB2("b2k"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"),
        min(col("k")).as("mn"), max(col("n")).as("mx"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1)
    assert(dataFiles(df) === 0L,
      "every file is homogeneous in b AND b2: the star must be answered " +
        "from the manifest\n" + df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    // replicate: each row i matches dimB (i/25 ∈ {0,1,3}) × dimB2
    // (i/50 = 0 → 2 rows, i/50 = 1 → 1 row)
    val exp = (0 until 100).filter(i => Set(0, 1, 3)(i / 25))
      .flatMap(i => Seq.fill(if (i / 50 == 0) 2 else 1)(i))
    assert(r.getLong(0) === exp.length.toLong)
    assert(r.getLong(1) === exp.map(_.toLong).sum)
    assert(r.getLong(2) === 0L)
    assert(withoutRule(q().collect().head) === r)
  }

  test("multi-dim STAR composes with GROUP BY on a fact zone column") {
    val dimB = Seq((0L, "x"), (2L, "y")).toDF("bk", "tag")
    val dimB2 = Seq((0L, 1L), (1L, 2L)).toDF("b2k", "w")
    val f = fact
    def q() = f.join(dimB, f("b") === dimB("bk"))
      .join(dimB2, f("b2") === dimB2("b2k"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L && dataFiles(df) === 0L,
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // b∈{0,2} from dimB; b2 always matches (one row each): b=0 (25 rows,
    // sum 0..24), b=2 (25 rows, sum 50..74)
    assert(got === Seq(
      (0L, 25L, (0 until 25).map(_.toLong).sum),
      (2L, 25L, (50 until 75).map(_.toLong).sum)))
    assert(withoutRule(q().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)) === got)
  }

  test("composite-key equi-join (fact.a = d.a AND fact.b = d.b) serves " +
      "when files are homogeneous in every key column") {
    val dim = Seq((0L, 0L, "x"), (1L, 0L, "y"), (3L, 1L, "z"),
      (3L, 0L, "never-matches")).toDF("bk", "b2k", "tag")
    val f = fact
    def q() = f.join(dim,
        f("b") === dim("bk") && f("b2") === dim("b2k"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1)
    assert(dataFiles(df) === 0L,
      "files are homogeneous in (b, b2): the composite key must serve\n" +
        df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    // (b, b2) pairs present in the data: (0,0) (1,0) (2,1) (3,1); dim
    // matches (0,0), (1,0), (3,1) — 75 rows; (3,0) matches nothing
    val exp = (0 until 100).filter(i =>
      Set((0, 0), (1, 0), (3, 1))((i / 25, i / 50)))
    assert(r.getLong(0) === exp.length.toLong)
    assert(r.getLong(1) === exp.map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
  }

  test("LEFT SEMI dim-join serving: `IN (subquery)` answers from the " +
      "manifest, multiplicity-free") {
    val dim = Seq((0L, "x"), (0L, "x2"), (3L, "z")).toDF("bk", "tag")
    val f = fact
    // DataFrame semi form: kept once per file despite the duplicate key
    def q() = f.join(dim, f("b") === dim("bk"), "left_semi")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1,
      df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df) === 0L,
      "b-homogeneous files semi-join the dim as units\n" +
        df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    assert(r.getLong(0) === 50L) // b ∈ {0, 3}: kept ONCE, not twice
    assert(r.getLong(1) ===
      ((0 until 25) ++ (75 until 100)).map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
    // the SQL spelling — the analyzer plans IN (subquery) as a semi join
    fact.createOrReplaceTempView("ma_fact_semi")
    def q2 = spark.sql(
      """SELECT count(*) AS c, max(k) AS mx FROM ma_fact_semi
        |WHERE b IN (SELECT bk FROM VALUES (0L), (3L) AS d(bk))""".stripMargin)
    val (df2, fired2) = servedBy(q2)
    assert(fired2 === 1L, df2.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df2) === 0L)
    val r2 = df2.collect().head
    assert(r2.getLong(0) === 50L && r2.getLong(1) === 99L)
    assert(withoutRule(q2.collect().head) === r2)
  }

  test("LEFT ANTI dim-join serving: NOT-EXISTS keeps unmatched files " +
      "whole; all-NULL-key files keep their rows through the raw leg") {
    val dim = Seq((0L, "x"), (3L, "z")).toDF("bk", "tag")
    val f = fact
    def q() = f.join(dim, f("b") === dim("bk"), "left_anti")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1,
      df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df) === 0L)
    val r = df.collect().head
    assert(r.getLong(0) === 50L) // b ∈ {1, 2} survive the anti join
    assert(r.getLong(1) ===
      ((25 until 50) ++ (50 until 75)).map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
    // anti semantics on NULL keys: no match means KEPT — the all-null-g
    // file must contribute its rows (via the raw leg), never be excluded
    val ng = nullGroupLayout()
    val gdim = Seq((1L, "a")).toDF("gk", "tag")
    val nf = spark.read.parquet(ng)
    def qa() = nf.join(gdim, nf("g") === gdim("gk"), "left_anti")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (dfa, fireda) = servedBy(qa())
    assert(fireda === 1L, dfa.queryExecution.optimizedPlan.toString)
    val ra = dfa.collect().head
    assert(ra.getLong(0) === 2L && ra.getLong(1) === 7L,
      s"the all-NULL-key file's rows must survive the anti join: $ra")
    assert(withoutRule(qa().collect().head) === ra)
    // null-aware NOT IN (Or(EqualTo, IsNull) condition) must refuse —
    // its null semantics are not the plain anti's
    nf.createOrReplaceTempView("ma_fact_anti")
    def qn = spark.sql(
      """SELECT count(*) AS c FROM ma_fact_anti
        |WHERE g NOT IN (SELECT gk FROM VALUES (1L) AS d(gk))""".stripMargin)
    val (dfn, firedn) = servedBy(qn)
    assert(firedn === 0L,
      "null-aware NOT IN must refuse\n" +
        dfn.queryExecution.optimizedPlan.toString)
    assert(dfn.collect().head.getLong(0) ===
      withoutRule(qn.collect().head.getLong(0)))
  }

  test("DISTINCT shapes serve under dim joins: every dim gates as a " +
      "semi (values are multiplicity-free), anti as the complement") {
    val dim = Seq((0L, "x"), (0L, "x2"), (3L, "z")).toDF("bk", "tag")
    val f = fact
    // SELECT DISTINCT under an INNER join with DUPLICATE dim keys — the
    // value set must be multiplicity-free
    def q() = f.join(dim, f("b") === dim("bk")).select(col("b2")).distinct()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && dataFiles(df) === 0L,
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
    assert(withoutRule(q().collect().map(_.getLong(0)).sorted.toSeq) ===
      Seq(0L, 1L))
    // count(DISTINCT) under a SEMI join
    val f2 = fact
    def q2() = f2.join(dim, f2("b") === dim("bk"), "left_semi")
      .agg(countDistinct(col("b")).as("db"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L && dataFiles(df2) === 0L)
    assert(df2.collect().head.getLong(0) === 2L)
    assert(withoutRule(q2().collect().head.getLong(0)) === 2L)
    // grouped count(DISTINCT) under an ANTI join
    val adim = Seq((0L, "x")).toDF("bk", "tag")
    val f3 = fact
    def q3() = f3.join(adim, f3("b") === adim("bk"), "left_anti")
      .groupBy(col("b2")).agg(countDistinct(col("b")).as("db"))
    val (df3, fired3) = servedBy(q3())
    assert(fired3 === 1L && dataFiles(df3) === 0L,
      df3.queryExecution.optimizedPlan.toString)
    val got3 = df3.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(got3 === Seq((0L, 1L), (1L, 2L))) // anti drops b=0
    assert(withoutRule(q3().collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)) === got3)
  }

  test("mixed star: an inner dim and a semi dim compose — inner " +
      "multiplies, semi gates") {
    val dimB = Seq((0L, "x"), (0L, "x2"), (1L, "y")).toDF("bk", "tag")
    val dimB2 = Seq((0L, 7L)).toDF("b2k", "w")
    val f = fact
    def q() = f.join(dimB, f("b") === dimB("bk"))
      .join(dimB2, f("b2") === dimB2("b2k"), "left_semi")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L && dataFiles(df) === 0L,
      df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    // inner dim: b=0 ×2, b=1 ×1; semi dim keeps only b2=0 (k < 50)
    assert(r.getLong(0) === 2L * 25L + 25L)
    assert(r.getLong(1) ===
      2L * (0 until 25).map(_.toLong).sum + (25 until 50).map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
  }

  test("star refusals: a second dim on a NON-homogeneous key stands the " +
      "whole star aside; a snowflake key (dim-on-dim) refuses") {
    def refuses(tag: String)(q: => DataFrame): Unit = {
      val before = MetaAgg.servedJoin.get()
      val (df, fired) = servedBy(q)
      assert(fired === 0L && MetaAgg.servedJoin.get() === before,
        s"[$tag] must refuse:\n" + df.queryExecution.optimizedPlan.toString)
    }
    val dimB = Seq((0L, "x"), (1L, "y")).toDF("bk", "tag")
    val dimK = Seq((10L, 7L)).toDF("kk", "w")
    // k is not file-homogeneous: no file is homogeneous in EVERY key, so
    // the star must stand aside for the pruning tier — not half-serve
    val f = fact
    refuses("non-homog-second-dim")(
      f.join(dimB, f("b") === dimB("bk"))
        .join(dimK, f("k") === dimK("kk"))
        .agg(count(lit(1)).as("c")))
    // snowflake: dim2 joins on DIM1's column, not the fact's — the key
    // never resolves to a fact relation column and must refuse
    val dim2 = Seq(("x", 1L), ("y", 2L)).toDF("tag2", "v2")
    val f2 = fact
    refuses("snowflake")(
      f2.join(dimB, f2("b") === dimB("bk"))
        .join(dim2, dimB("tag") === dim2("tag2"))
        .agg(count(lit(1)).as("c")))
    // and both shapes stay exact on the plain plan
    val got = f.join(dimB, f("b") === dimB("bk"))
      .join(dimK, f("k") === dimK("kk"))
      .agg(count(lit(1))).collect().head.getLong(0)
    assert(got === 1L)
  }

  test("a star past the 4-dim budget stands aside LOUDLY: the skip lands " +
      "on the meta-agg-budget refusal leg and in describe(); 4 dims serve") {
    // five homogeneous-key dims: the SHAPE is servable, only the budget
    // stops the walk — exactly the case that must not be silent (at scale
    // "the dashboard got slow because the star grew a fifth dim" has to
    // be diagnosable from the metrics, not a plan diff)
    val d1 = Seq((0L, 1L), (1L, 2L)).toDF("bk1", "w1")
    val d2 = Seq((0L, 1L), (1L, 2L)).toDF("b2k2", "w2")
    val d3 = Seq((0L, 1L), (2L, 2L)).toDF("bk3", "w3")
    val d4 = Seq((0L, 1L), (1L, 2L)).toDF("b2k4", "w4")
    val d5 = Seq((0L, 1L), (3L, 2L)).toDF("bk5", "w5")
    val f = fact
    def star(n: Int) = {
      val joins = Seq(
        (d1, f("b") === d1("bk1")), (d2, f("b2") === d2("b2k2")),
        (d3, f("b") === d3("bk3")), (d4, f("b2") === d4("b2k4")),
        (d5, f("b") === d5("bk5"))).take(n)
      joins.foldLeft(f) { case (acc, (d, c)) => acc.join(d, c) }
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    }
    // 4 dims: inside the budget — serves from the manifest
    val (df4, fired4) = servedBy(star(4))
    assert(fired4 === 1L, df4.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df4) === 0L)
    // 5 dims: the budget refuses; the answer stays exact on the raw plan
    val leg = Seq("layout" -> BloomJoins.norm(layout),
      "leg" -> "meta-agg-budget")
    val before = graft.streaming.GraftMetrics.counter(
      BloomJoins.RefusalMetric, leg: _*)
    val (df5, fired5) = servedBy(star(5))
    assert(fired5 === 0L,
      "5 dims must refuse\n" + df5.queryExecution.optimizedPlan.toString)
    assert(graft.streaming.GraftMetrics.counter(
      BloomJoins.RefusalMetric, leg: _*) > before,
      "the budget skip must increment the meta-agg-budget refusal leg")
    val r5 = df5.collect().head
    assert(withoutRule(star(5).collect().head) === r5)
    // and describe() renders the leg in refusal_detail — the operator's
    // one-stop "pruning off, WHY" view
    val d = GraftCatalog.describe(spark, layout).collect()
      .filter(_.getString(1) == "zone").head
    assert(d.getString(6).contains("meta-agg-budget="),
      s"describe() must surface the budget leg: ${d.getString(6)}")
  }

  test("HAVING composes above a served aggregate (Filter over Aggregate)") {
    fact.createOrReplaceTempView("ma_fact_h")
    def q = spark.sql(
      """SELECT b, count(*) AS c, sum(k) AS sk
        |FROM ma_fact_h GROUP BY b HAVING sum(k) > 1000""".stripMargin)
    val (df, fired) = servedBy(q)
    assert(fired === 1L,
      "the rule must fire on the Aggregate under the HAVING filter\n" +
        df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df) === 0L)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // per-bucket sums: b=0 → 300, b=1 → 925, b=2 → 1550, b=3 → 2175
    assert(got === Seq(
      (2L, 25L, (50 until 75).map(_.toLong).sum),
      (3L, 25L, (75 until 100).map(_.toLong).sum)))
    assert(withoutRule(q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)) === got)
  }

  test("MetaAgg ∘ SummaryViews: both rewrite tiers fire in ONE plan tree — " +
      "an MV-served dim under a manifest-served star, and sibling " +
      "subquery aggregates each served by their own tier") {
    // the two tiers are both plan-local rewrites in the user-provided
    // batch (RewriteToSummary ordered before RewriteToMetaAggregate);
    // this pins that they actually COMPOSE — neither stands the other
    // aside — in both nesting directions the dashboards produce
    val mvBase = s"$root/mv-base"
    val mvState = s"$root/mv-state"
    fs.delete(new org.apache.hadoop.fs.Path(mvBase), true)
    fs.delete(new org.apache.hadoop.fs.Path(mvState), true)
    Seq.tabulate(40)(i => ((i % 4).toLong, i.toLong)).toDF("g", "x")
      .write.parquet(mvBase)
    graft.streaming.IncrementalAgg.applyDelta(spark, mvState,
      spark.read.parquet(mvBase)
        .select(col("g"), col("x"), lit(1L).as("cnt")),
      keyCols = Seq("g"), sumCols = Seq("x", "cnt"), nBuckets = 4,
      batchId = 0L)
    SummaryViews.register(SummaryViews.View(
      mvBase, mvState, Seq("g"), Set("x"), Some("cnt")))
    SummaryViews.install(spark)
    def relPaths(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case hf: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => hf.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    def withoutBoth[T](f: => T): T = {
      SummaryViews.uninstall(spark)
      try withoutRule(f) finally SummaryViews.install(spark)
    }
    try {
      // shape 1 — NESTED: the star's dim is `SELECT DISTINCT g FROM
      // mvBase`, which RewriteToSummary serves from the state table;
      // RewriteToMetaAggregate then serves the fact aggregate around it.
      // The optimized plan must read manifest + state ONLY.
      val f = fact
      val dim = spark.read.parquet(mvBase).select(col("g")).distinct()
      def q1() = f.join(dim, f("b") === dim("g"))
        .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
      val beforeJ = MetaAgg.servedJoin.get()
      val (df1, fired1) = servedBy(q1())
      assert(fired1 === 1L && MetaAgg.servedJoin.get() === beforeJ + 1,
        df1.queryExecution.optimizedPlan.toString)
      val rels1 = relPaths(df1)
      assert(rels1.exists(_.contains("mv-state")),
        s"the dim must be MV-served from the state table: $rels1\n" +
          df1.queryExecution.optimizedPlan.toString)
      assert(!rels1.exists(_.contains("mv-base")),
        s"the MV base must never be read: $rels1")
      assert(dataFiles(df1) === 0L,
        "every fact file is homogeneous in b — manifest-only I/O\n" +
          df1.queryExecution.optimizedPlan.toString)
      val r1 = df1.collect().head
      assert(r1.getLong(0) === 100L && r1.getLong(1) === 4950L)
      assert(withoutBoth(q1().collect().head) === r1)
      // shape 2 — SIBLINGS: two aggregate subqueries join; the MV tier
      // serves one, the manifest tier the other, in the same plan tree
      def q2() = {
        val a = spark.read.parquet(mvBase).groupBy(col("g"))
          .agg(sum(col("x")).as("sx"))
        val b = fact.groupBy(col("b")).agg(sum(col("k")).as("sk"))
        a.join(b, a("g") === b("b")).select(col("g"), col("sx"), col("sk"))
      }
      val (df2, fired2) = servedBy(q2())
      assert(fired2 === 1L, df2.queryExecution.optimizedPlan.toString)
      val rels2 = relPaths(df2)
      assert(rels2.exists(_.contains("mv-state")) &&
        !rels2.exists(_.contains("mv-base")),
        s"the sibling MV aggregate must serve from state: $rels2")
      assert(dataFiles(df2) === 0L,
        df2.queryExecution.optimizedPlan.toString)
      val got2 = df2.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      assert(withoutBoth(q2().collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1))
        === got2)
    } finally {
      SummaryViews.uninstall(spark)
      SummaryViews.unregister(mvBase)
    }
  }

  test("GROUP BY a Hive partition column serves from the manifest even " +
      "though the zones never indexed it") {
    val hp = s"$root/hivepart"
    fs.delete(new org.apache.hadoop.fs.Path(hp), true)
    // three string partitions plus a NULL partition (the SQL NULL group —
    // Spark writes it as __HIVE_DEFAULT_PARTITION__); one file each
    val src = (0 until 90).map(i =>
      (i.toLong, if (i % 30 == 29) None else Some(s"p${i / 30}")))
    src.toDF("k", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(hp, "k"))
    def q() = spark.read.parquet(hp).groupBy(col("p"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "meta-agg/hivepart") === 0L,
      "partition-derived groups are homogeneous by construction: zero " +
        "data files\n" + df.queryExecution.optimizedPlan.toString)
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    val exp = withoutRule(q().collect().toSeq.sortBy(_.mkString("|")))
    assert(got === exp)
    assert(got.exists(r => r.isNullAt(0) && r.getLong(1) === 3L),
      "the NULL partition must come back as the SQL NULL group")
    // a KEY-DERIVED grouping over the partition column rides the same path
    def q2() = spark.read.parquet(hp)
      .groupBy(substring(col("p"), 1, 1).as("pp"))
      .agg(count(lit(1)).as("c"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L && dataFiles(df2, "meta-agg/hivepart") === 0L)
    assert(df2.collect().toSeq.sortBy(_.mkString("|")) ===
      withoutRule(q2().collect().toSeq.sortBy(_.mkString("|"))))
    // and a zone-range predicate composes: boundary files scan, interior
    // partition groups keep serving
    def q3() = spark.read.parquet(hp).where(col("k") >= 30L)
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val (df3, fired3) = servedBy(q3())
    assert(fired3 === 1L)
    assert(df3.collect().toSeq.sortBy(_.mkString("|")) ===
      withoutRule(q3().collect().toSeq.sortBy(_.mkString("|"))))
  }

  test("WHERE on a Hive partition column serves: matching partitions " +
      "covered, non-matching excluded, zero data files") {
    val hp = s"$root/hivepart" // the layout built by the previous test
    def q() = spark.read.parquet(hp)
      .where(col("p") === "p1")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "meta-agg/hivepart") === 0L,
      "an equality on the partition column is covered per file\n" +
        df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    assert(r.getLong(0) === withoutRule(q().collect().head.getLong(0)))
    // p1 holds i in [30, 60) minus the i%30==29 null rows (i=59)
    assert(r.getLong(0) === 29L)
    // IN-list on the partition column: single-valued files on a listed
    // value are covered — still zero data files
    def q2() = spark.read.parquet(hp)
      .where(col("p").isin("p0", "p2"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L && dataFiles(df2, "meta-agg/hivepart") === 0L)
    assert(df2.collect().toSeq.sortBy(_.mkString("|")) ===
      withoutRule(q2().collect().toSeq.sortBy(_.mkString("|"))))
    // the NULL partition fails every comparison (range predicates are
    // null-rejecting): excluded from both legs, answers exact
    def q3() = spark.read.parquet(hp)
      .where(col("p") >= "p0").agg(count(lit(1)).as("c"))
    val (df3, fired3) = servedBy(q3())
    assert(fired3 === 1L && dataFiles(df3, "meta-agg/hivepart") === 0L)
    assert(df3.collect().head.getLong(0) === 87L) // 90 minus 3 null-p rows
  }

  test("dim-join serving on a Hive PARTITION key: partition files join " +
      "the dim as units — the tenant-dim shape on a partitioned lake") {
    val hp = s"$root/hivepart" // the layout built two tests up
    val dim = Seq(("p0", 1L), ("p2", 2L), ("p2", 3L)).toDF("pk", "w")
    val f = spark.read.parquet(hp)
    def q() = f.join(dim, f("p") === dim("pk"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val before = MetaAgg.servedJoin.get()
    val (df, fired) = servedBy(q())
    assert(fired === 1L && MetaAgg.servedJoin.get() === before + 1,
      df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "meta-agg/hivepart") === 0L,
      "every partition file is key-homogeneous by construction; the " +
        "NULL partition joins nothing\n" +
        df.queryExecution.optimizedPlan.toString)
    val r = df.collect().head
    // p0 = k 0..28 (29 rows, k=29 is the null partition), matched once;
    // p2 = k 60..88, matched TWICE (duplicate dim key)
    assert(r.getLong(0) === 29L + 2L * 29L)
    assert(r.getLong(1) ===
      (0 to 28).map(_.toLong).sum + 2L * (60 to 88).map(_.toLong).sum)
    assert(withoutRule(q().collect().head) === r)
    // GROUP BY the partition column composes under the join
    val f2 = spark.read.parquet(hp)
    def q2() = f2.join(dim, f2("p") === dim("pk"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L && dataFiles(df2, "meta-agg/hivepart") === 0L)
    val got2 = df2.collect().map(r2 => (r2.getString(0), r2.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(got2 === Seq(("p0", 29L), ("p2", 58L)))
    assert(withoutRule(q2().collect().map(r2 =>
      (r2.getString(0), r2.getLong(1))).toSeq.sortBy(_._1)) === got2)
  }

  test("a percent-escaped partition value routes its file to the raw " +
      "leg — never a silently mis-decoded group") {
    val hp = s"$root/hp-esc"
    fs.delete(new org.apache.hadoop.fs.Path(hp), true)
    // 'a:b' escapes to a%3Ab on disk — decoding it here would risk a
    // wrong group value, so that file must scan raw instead
    Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain"), (4L, "plain"))
      .toDF("k", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(hp, "k"))
    def q() = spark.read.parquet(hp).groupBy(col("p"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "meta-agg/hp-esc") === 1L,
      "exactly the escaped file may scan\n" +
        df.queryExecution.optimizedPlan.toString)
    val got = df.collect().toSeq.sortBy(_.mkString("|"))
    assert(got === withoutRule(q().collect().toSeq.sortBy(_.mkString("|"))))
    assert(got.exists(r => r.getString(0) == "a:b" && r.getLong(1) === 2L),
      s"the escaped group must decode through Spark's own parser: $got")
    // under a PREDICATE on the partition column, the escaped file's
    // bounds are unknown — it must stay a CANDIDATE (scan raw, Spark's
    // parser decides), never be excluded: rows would silently vanish
    def q2() = spark.read.parquet(hp).where(col("p") === "a:b")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L, df2.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df2, "meta-agg/hp-esc") === 1L,
      "the escaped file scans; the plain file is excluded")
    val r2 = df2.collect().head
    assert(r2.getLong(0) === 2L && r2.getLong(1) === 3L,
      s"escaped-partition rows must survive the predicate: $r2")
    assert(withoutRule(q2().collect().head) === r2)
  }

  test("a layout root containing a URI-encodable character (space) still " +
      "derives shard keys: partition groups serve, zero data files") {
    // input_file_name() URI-encodes ('/tmp/a b' → 'file:/tmp/a%20b') while
    // the root marker is the DECODED path — before the encoded-marker fix
    // the shard key derived from a garbage offset and GROUP BY the
    // partition column silently served every file into the NULL group
    val hp = s"$root/hp space/lake"
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/hp space"), true)
    Seq((1L, "p0"), (2L, "p0"), (3L, "p1"), (4L, "p1"), (5L, "p1"))
      .toDF("k", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false)
    // the shard keys themselves must be the partition dirs, not offsets
    // into an encoded string the decoded marker missed
    val shards = spark.read.parquet(s"$hp/_zonemap")
      .select("part_dir").distinct().collect().map(_.getString(0)).toSet
    assert(shards === Set("p=p0", "p=p1"),
      s"encoded-root shard keys must still be the partition dirs: $shards")
    BloomJoins.registerZone(BloomJoins.ZoneLayout(hp, "k"))
    def q() = spark.read.parquet(hp).groupBy(col("p"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "hp space/lake") === 0L,
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq.sortBy(_._1)
    assert(got === Seq(("p0", 2L, 3L), ("p1", 3L, 12L)))
    assert(withoutRule(q().collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq.sortBy(_._1)) === got)
  }

  test("a manifest whose part_dir lacks the key= segment routes to the " +
      "raw-scan leg — never the silent NULL group, never dropped rows") {
    // the defense-in-depth behind the encoded-marker fix: if shard keys
    // ever DO derive wrong (an exotic filesystem's encoding the marker
    // logic mishandles), the partition extraction comes back empty — and
    // empty must mean "bounds unknown, scan raw", not "the NULL group"
    val hp = s"$root/hp-broken"
    fs.delete(new org.apache.hadoop.fs.Path(hp), true)
    Seq((1L, "p0"), (2L, "p0"), (3L, "p1"), (4L, "p1"))
      .toDF("k", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false)
    // damage the manifest: shard keys lose their `p=` segment (what a
    // mis-located marker produced before the fix)
    val m = spark.read.parquet(s"$hp/_zonemap")
      .withColumn("part_dir", concat(lit("x"), col("part_dir")))
    val staging = s"$root/hp-broken-manifest"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    m.write.partitionBy("part_dir").parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hp/_zonemap"), true)
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$hp/_zonemap"))
    graft.sources.Manifests.bumpManifestVersion(hp, "_zonemap")
    BloomJoins.registerZone(BloomJoins.ZoneLayout(hp, "k"))
    // GROUP BY the partition column: every file's group value is
    // unknowable from the damaged manifest — all must scan raw, exact
    def q() = spark.read.parquet(hp).groupBy(col("p"))
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df, fired) = servedBy(q())
    assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
    assert(dataFiles(df, "hp-broken") === 2L,
      "unknown group values must scan raw\n" +
        df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq.sortBy(_._1)
    assert(got === Seq(("p0", 2L, 3L), ("p1", 2L, 7L)),
      s"groups must come from Spark's own parser, never a NULL lump: $got")
    // under a PREDICATE on the partition column the files' bounds are
    // unknown: they must stay CANDIDATES (scan raw), not be excluded
    def q2() = spark.read.parquet(hp).where(col("p") === "p1")
      .agg(count(lit(1)).as("c"), sum(col("k")).as("sk"))
    val (df2, fired2) = servedBy(q2())
    assert(fired2 === 1L, df2.queryExecution.optimizedPlan.toString)
    val r2 = df2.collect().head
    assert(r2.getLong(0) === 2L && r2.getLong(1) === 7L,
      s"rows must not silently vanish under the predicate: $r2")
    assert(withoutRule(q2().collect().head) === r2)
  }

  test("a mixed-schema manifest refuses SUM serving; min/max/count still serve") {
    val mixed = s"$root/mixedsum"
    writeRanged(mixed)
    ZoneMap.write(spark, mixed, Seq("k"), updateCatalog = false)
    // simulate a pre-upgrade row: null out one file's k_sum although the
    // file has non-null k values — a served sum would silently drop it
    val m = spark.read.parquet(s"$mixed/_zonemap")
    val damaged = m.withColumn("k_sum",
      when(col("k_min") === 0L, lit(null).cast("long"))
        .otherwise(col("k_sum")))
    val staging = s"$root/mixedsum-manifest"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    damaged.write.parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(s"$mixed/_zonemap"), true)
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$mixed/_zonemap"))
    graft.sources.Manifests.bumpManifestVersion(mixed, "_zonemap")
    BloomJoins.registerZone(BloomJoins.ZoneLayout(mixed, "k"))
    val (dfSum, firedSum) = servedBy(
      spark.read.parquet(mixed).agg(sum(col("k")).as("sk")))
    assert(firedSum === 0L, "a missing per-file sum must refuse serving")
    assert(dfSum.collect().head.getLong(0) ===
      (0 until 100).map(_.toLong).sum)
    val (dfMm, firedMm) = servedBy(
      spark.read.parquet(mixed).agg(min(col("k")).as("mn"),
        count(lit(1)).as("c")))
    assert(firedMm === 1L)
    val r = dfMm.collect().head
    assert(r.getLong(0) === 0L && r.getLong(1) === 100L)
  }

  test("ZoneMap.update rebuilds a pre-upgrade manifest instead of mixing schemas") {
    val up = s"$root/upgrade"
    writeRanged(up)
    ZoneMap.write(spark, up, Seq("k"), updateCatalog = false)
    // simulate a manifest from before the `_sum` columns existed
    val m = spark.read.parquet(s"$up/_zonemap").drop("k_sum")
    val staging = s"$root/upgrade-manifest"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    m.write.parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(s"$up/_zonemap"), true)
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$up/_zonemap"))
    // append a file AND delete one (the reap path that would throw on a
    // schema-mismatched union)
    Seq((200L, Some(200L), BigDecimal(200).setScale(2), 1.0, "x", 8L, 4L))
      .toDF("k", "n", "d", "v", "s", "b", "b2")
      .write.mode("append").parquet(up)
    val delta = ZoneMap.update(spark, up, Seq("k"))
    assert(delta.added === 5L && delta.reaped === 0L,
      s"schema drift must trigger a full rebuild, got $delta")
    val rebuilt = spark.read.parquet(s"$up/_zonemap")
    assert(rebuilt.columns.contains("k_sum"))
    assert(rebuilt.count() === 5L)
    // and the rebuilt manifest serves sums again
    BloomJoins.registerZone(BloomJoins.ZoneLayout(up, "k"))
    val (df, fired) = servedBy(
      spark.read.parquet(up).agg(sum(col("k")).as("sk")))
    assert(fired === 1L && dataFiles(df) === 0L)
    assert(df.collect().head.getLong(0) ===
      (0 until 100).map(_.toLong).sum + 200L)
  }

  test("a LEGACY-built manifest refuses integral SUM serving to an ANSI " +
      "query; a rebuild under ANSI re-enables it") {
    val modes = s"$root/modes"
    writeRanged(modes)
    // build the manifest under LEGACY mode — per-file integral sums may
    // have wrapped silently (not here, but the rule cannot know that)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try ZoneMap.write(spark, modes, Seq("k"), updateCatalog = false)
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
    BloomJoins.registerZone(BloomJoins.ZoneLayout(modes, "k"))
    // ANSI query: sum(k) must REFUSE (full scan, exact); count/min/max
    // have no overflow semantics and keep serving
    val (dfSum, firedSum) = servedBy(
      spark.read.parquet(modes).agg(sum(col("k")).as("sk")))
    assert(firedSum === 0L,
      "ANSI integral sum over a LEGACY-built manifest must refuse")
    assert(dfSum.collect().head.getLong(0) === (0 until 100).map(_.toLong).sum)
    val (dfMx, firedMx) = servedBy(
      spark.read.parquet(modes).agg(count(lit(1)).as("c"),
        max(col("k")).as("mx")))
    assert(firedMx === 1L && dataFiles(dfMx) === 0L,
      "aggregates without overflow semantics keep serving")
    // a LEGACY query composes over the LEGACY build — wraps are modular
    // either way
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val (dfLeg, firedLeg) = servedBy(
        spark.read.parquet(modes).agg(sum(col("k")).as("sk")))
      assert(firedLeg === 1L && dataFiles(dfLeg) === 0L)
      assert(dfLeg.collect().head.getLong(0) ===
        (0 until 100).map(_.toLong).sum)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // rebuild under ANSI: every row now certifies no per-file wrap — the
    // ANSI sum serves again
    ZoneMap.write(spark, modes, Seq("k"), updateCatalog = false)
    val (dfSum2, firedSum2) = servedBy(
      spark.read.parquet(modes).agg(sum(col("k")).as("sk")))
    assert(firedSum2 === 1L && dataFiles(dfSum2) === 0L)
    assert(dfSum2.collect().head.getLong(0) ===
      (0 until 100).map(_.toLong).sum)
  }

  test("try_sum refuses: TRY overflow semantics cannot be composed") {
    val (_, fired) = servedBy(
      fact.select(expr("try_sum(k)").as("ts")))
    assert(fired === 0L)
  }

  test("install order: the summary rewrite stays ahead of meta-agg, both ways") {
    val before = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Seq.empty
      MetaAgg.install(spark)
      SummaryViews.install(spark)
      val a = spark.experimental.extraOptimizations.map(_.getClass.getSimpleName)
      assert(a.indexOf("RewriteToSummary") <
        a.indexOf("RewriteToMetaAggregate"), a.mkString(","))
      spark.experimental.extraOptimizations = Seq.empty
      SummaryViews.install(spark)
      MetaAgg.install(spark)
      val b = spark.experimental.extraOptimizations.map(_.getClass.getSimpleName)
      assert(b.indexOf("RewriteToSummary") <
        b.indexOf("RewriteToMetaAggregate"), b.mkString(","))
    } finally {
      spark.experimental.extraOptimizations = before
      SummaryViews.uninstall(spark)
    }
  }

  test("the rule fires in a session built with spark.sql.extensions " +
    "(the spark-submit path, no install())") {
    val orig = spark
    org.apache.spark.sql.GraftBridge.setContextConf(orig.sparkContext,
      "spark.sql.extensions", "graft.GraftExtensions")
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s2 ne orig)
      // fresh-session registries: serving must arrive purely through the
      // injected rule + catalog discovery
      BloomJoins.clear()
      GraftCatalog.clearCache()
      val before = MetaAgg.served.get()
      val q = s2.read.parquet(layout)
        .agg(count(lit(1)).as("c"), max(col("k")).as("mx"))
      q.queryExecution.optimizedPlan
      assert(MetaAgg.served.get() > before,
        "the extensions-injected rule must serve with zero install() calls")
      val r = q.collect().head
      assert(r.getLong(0) === 100L && r.getLong(1) === 99L)
    } finally {
      org.apache.spark.sql.GraftBridge.removeContextConf(orig.sparkContext,
        "spark.sql.extensions")
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
    }
  }

  test("composes with the scan-pruning rule: aggregate wins the fixed point") {
    BloomJoins.install(spark) // both rules live, MetaAgg installed first
    try {
      val (df, fired) = servedBy(
        fact.where(col("k") >= 20L && col("k") <= 60L)
          .agg(count(lit(1)).as("c")))
      assert(fired === 1L,
        "the aggregate must be manifest-served, not merely scan-pruned")
      assert(df.collect().head.getLong(0) === 41L)
    } finally BloomJoins.uninstall(spark)
  }

  test("a filter above a projection that swaps two column names prunes " +
      "by attribute, never by name") {
    // renamed k is "n" and renamed n is "k": the filter pins relation k
    // to 30 (one row, n NULL there); read by NAME it would pin relation
    // n to 30 and find no row
    def q() = fact.select(col("k").as("n"), col("n").as("k"))
      .where(col("n") === 30L)
      .agg(count(lit(1)).as("c"), count(col("k")).as("ck"),
        max(col("n")).as("mx"))
    val (df, _) = servedBy(q())
    val got = df.collect().toSeq
    assert(got === withoutRule(q().collect().toSeq))
    assert(got === Seq(Row(1L, 0L, 30L)))
  }

  test("range bounds with the literal on the LEFT keep their strictness") {
    // 30 < k <= 74: file [25,49] is a boundary, [50,74] is covered
    val (rows, files) = assertParity(
      fact.where(lit(30L) < col("k") && lit(74L) >= col("k"))
        .agg(count(lit(1)).as("c"), min(col("k")).as("mn"),
          max(col("k")).as("mx")))
    assert(files === 1L)
    assert(rows === Seq(Row(44L, 31L, 74L)))
  }

  test("a served GROUP BY on a Hive partition column runs as compiled " +
      "code, with no fallback to the interpreted path") {
    val hp = s"$root/hivepart-codegen"
    fs.delete(new org.apache.hadoop.fs.Path(hp), true)
    (0 until 90).map(i =>
        (i.toLong, if (i % 30 == 29) None else Some(s"p${i / 30}")))
      .toDF("k", "p").repartition(1)
      .write.partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false)
    BloomJoins.registerZone(BloomJoins.ZoneLayout(hp, "k"))
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false") // a compile error fails the query
    try {
      def f = spark.read.parquet(hp)
      // a bare partition key, a key derived from it, and either one under
      // a zone-range predicate (boundary files scan raw)
      Seq[() => DataFrame](
        () => f.groupBy(col("p"))
          .agg(count(lit(1)).as("c"), sum(col("k")).as("sk")),
        () => f.groupBy(substring(col("p"), 1, 1).as("pp"))
          .agg(count(lit(1)).as("c")),
        () => f.where(col("k") >= 30L).groupBy(col("p"))
          .agg(count(lit(1)).as("c")),
        () => f.where(col("k") >= 30L)
          .groupBy(substring(col("p"), 1, 1).as("pp"))
          .agg(count(lit(1)).as("c"))
      ).foreach { q =>
        val (df, fired) = servedBy(q())
        assert(fired === 1L, df.queryExecution.optimizedPlan.toString)
        assert(df.collect().toSeq.sortBy(_.mkString("|")) ===
          withoutRule(q().collect().toSeq.sortBy(_.mkString("|"))))
      }
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      BloomJoins.unregisterZone(hp)
    }
  }
}
