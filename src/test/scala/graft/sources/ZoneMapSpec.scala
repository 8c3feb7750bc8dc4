package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val p = s"$outRoot/test-out/zonemap/$tag"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private lazy val events = Tables.events(spark, sfTiny)

  test("clustered layout: narrow band prunes files; answer equals full scan") {
    val path = fresh("clustered")
    events.repartitionByRange(8, col("value"))
      .write.mode("overwrite").parquet(path)
    ZoneMap.write(spark, path, Seq("value", "user_id"))
    val total = spark.read.parquet(s"$path/_zonemap").count()
    assert(total === 8)
    val cand = ZoneMap.candidateFiles(spark, path, "value", 100.0, 200.0)
    assert(cand.nonEmpty && cand.size < total,
      s"range-clustered layout must prune: ${cand.size} of $total")
    val got = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = events
      .filter(col("value") >= 100.0 && col("value") <= 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want, "file skipping changed the answer")
    assert(want.nonEmpty)
  }

  test("metaProfile answers count/min/max/nulls with ZERO data files — even after they're gone") {
    val path = fresh("metaonly")
    events.repartition(4).write.mode("overwrite").parquet(path)
    ZoneMap.write(spark, path, Seq("value", "user_id"))
    val want = events.agg(
      count(lit(1)), min(col("value")), max(col("value")),
      count(lit(1)) - count(col("value")),
      min(col("user_id")), max(col("user_id")),
      count(lit(1)) - count(col("user_id"))).head()

    def check(): Unit = {
      val got = ZoneMap.metaProfile(spark, path, Seq("value", "user_id"))
        .head()
      assert(got.getLong(0) === want.getLong(0))
      assert(got.getDouble(1) === want.getDouble(1))
      assert(got.getDouble(2) === want.getDouble(2))
      assert(got.getLong(3) === want.getLong(3))
      assert(got.getLong(4) === want.getLong(4))
      assert(got.getLong(5) === want.getLong(5))
      assert(got.getLong(6) === want.getLong(6))
    }
    check()
    // the proof it never touches data: delete every data file, keep only
    // the manifest — the answer must still compute, unchanged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_zonemap") && !n.startsWith("_") && !n.startsWith("."))
        fs.delete(st.getPath, false)
    }
    check()
  }

  test("sketch tier: metaApproxProfile answers quantiles + distincts from " +
      "the manifest alone — exact in the small regime, data files gone") {
    import spark.implicits._
    val path = fresh("sketch")
    // 4 files × 25 rows: per-file n=25 ≤ k=200 and merged n=100 ≤ k, so
    // KLL retains every item and quantiles are TRUE order statistics
    // (inclusive rank: the ceil(q·n)-th item); 100 distincts sit far
    // below HLL sparse capacity, so the estimate is the exact count
    Seq(0, 25, 50, 75).foreach(lo =>
      (lo until lo + 25).map(i => (i.toLong, i / 2.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(path))
    ZoneMap.write(spark, path, Seq("k", "v"), updateCatalog = false,
      sketchCols = Seq("k", "v"))
    def check(): Unit = {
      val p = ZoneMap.metaApproxProfile(spark, path, Seq("k", "v"),
        Seq(0.5, 0.9)).head()
      val byName = p.schema.fieldNames.zipWithIndex.toMap
      assert(p.getLong(byName("n_rows")) === 100L)
      assert(p.getDouble(byName("k_p50")) === 49.0) // ceil(.5·100) = 50th
      assert(p.getDouble(byName("k_p90")) === 89.0)
      assert(p.getLong(byName("k_approx_distinct")) === 100L)
      assert(p.getDouble(byName("v_p50")) === 24.5)
      assert(!byName.contains("v_approx_distinct"),
        "doubles carry no HLL blob — the column must be absent, not wrong")
    }
    check()
    // the proof it never touches data: drop every data file, manifest only
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("sketch tier survives maintenance: update() without sketchCols " +
      "preserves it; a drift rebuild keeps it; compaction refreshes it") {
    import spark.implicits._
    val path = fresh("sketch-maint")
    Seq(0, 25, 50, 75).foreach(lo =>
      (lo until lo + 25).map(i => (i.toLong, i / 2.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(path))
    ZoneMap.write(spark, path, Seq("k"), updateCatalog = false,
      sketchCols = Seq("k"))
    // 1. a maintenance tick that never heard of the sketch tier (the
    //    streaming-sink call shape): appended file must be sketched too
    (100 until 125).map(i => (i.toLong, i / 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(path)
    val d = ZoneMap.update(spark, path, Seq("k"))
    assert(d.added === 1L)
    val p1 = ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5)).head()
    assert(p1.getLong(0) === 125L)
    assert(p1.getDouble(1) === 62.0) // ceil(.5·125) = 63rd of 0..124
    assert(p1.getLong(2) === 125L)
    // 2. schema drift (a NEW zone column) rebuilds — the sketch tier must
    //    ride the rebuild, not vanish
    ZoneMap.update(spark, path, Seq("k", "v"))
    val fields = spark.read.parquet(s"$path/_zonemap").schema.fieldNames.toSet
    assert(fields.contains("v_min") && fields.contains("k_kll") &&
      fields.contains("k_hll"),
      s"drift rebuild must keep the sketch tier: $fields")
    assert(ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5))
      .head().getDouble(1) === 62.0)
    // 3. compaction rewrites files and refreshes shards — sketches follow
    Compaction.compact(spark, path, OutFormat.Parquet,
      targetFileBytes = 512L << 20)
    val p3 = ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5)).head()
    assert(p3.getLong(0) === 125L && p3.getDouble(1) === 62.0 &&
      p3.getLong(2) === 125L,
      "compacted layout must re-sketch exactly (same value set)")
  }

  test("metaApproxProfileSemiJoin: served files answer from blobs, mixed " +
      "files re-sketch their matching rows, all-null-key files drop — " +
      "exact in the small regime") {
    import spark.implicits._
    val path = fresh("sketch-semijoin")
    // g is the join key: files A/B/C homogeneous (g = 0/1/2), file D MIXED
    // (g = 2 below k=88, else 3), file E all-NULL in g (matches nothing)
    def write(rows: Seq[(Long, Option[Long])]): Unit =
      rows.toDF("k", "g").coalesce(1).write.mode("append").parquet(path)
    write((0 until 25).map(i => (i.toLong, Some(0L))))
    write((25 until 50).map(i => (i.toLong, Some(1L))))
    write((50 until 75).map(i => (i.toLong, Some(2L))))
    write((75 until 100).map(i => (i.toLong, Some(if (i < 88) 2L else 3L))))
    write((100 until 125).map(i => (i.toLong, None: Option[Long])))
    ZoneMap.write(spark, path, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("k"))
    val dim = Seq((0L, "a"), (2L, "b"), (2L, "b2")).toDF("gk", "tag")
    def check(): Unit = {
      val p = ZoneMap.metaApproxProfileSemiJoin(spark, path, "g",
        dim, "gk", Seq("k"), Seq(0.5)).head()
      val byName = p.schema.fieldNames.zipWithIndex.toMap
      // matching rows: file A (k 0..24), file C (k 50..74), file D's g=2
      // rows (k 75..87) — 63 rows, counted ONCE despite the duplicate
      // dim key (semi semantics)
      assert(p.getLong(byName("n_rows")) === 63L)
      // 63 items ≤ k=200: true order statistic — ceil(.5·63) = 32nd of
      // the sorted matches (0..24, 50..74, 75..87) = 56
      assert(p.getDouble(byName("k_p50")) === 56.0)
      assert(p.getLong(byName("k_approx_distinct")) === 63L)
    }
    check()
    // only the MIXED file may be read: delete every other data file (the
    // served files answer from their blobs, the non-matching and
    // all-null-key files are never touched) — same answer
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mixedNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("g_min") =!= col("g_max")).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(mixedNames.size === 1)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => mixedNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("metaApproxProfileBy: per-group profiles from blobs for " +
      "homogeneous files, re-sketched matching rows for mixed files, " +
      "the SQL NULL group — exact in the small regime") {
    import spark.implicits._
    val path = fresh("sketch-by")
    def write(rows: Seq[(Long, Option[Long])]): Unit =
      rows.toDF("k", "g").coalesce(1).write.mode("append").parquet(path)
    write((0 until 25).map(i => (i.toLong, Some(0L))))   // A: g=0
    write((25 until 50).map(i => (i.toLong, Some(1L))))  // B: g=1
    write((50 until 75).map(i =>                          // C: MIXED g∈{1,2}
      (i.toLong, Some(if (i < 60) 1L else 2L))))
    write((75 until 100).map(i => (i.toLong, None: Option[Long]))) // D: null
    ZoneMap.write(spark, path, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("k"))
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileBy(spark, path, Seq("g"),
        Seq("k"), Seq(0.5)).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
        .sortBy(_._1.getOrElse(Long.MaxValue))
      // per group: (n exact, p50 = true order statistic at n ≤ k,
      // distinct exact below sparse capacity)
      assert(rows === Seq(
        (Some(0L), 25L, 12.0, 25L),   // ceil(.5·25) = 13th of 0..24
        (Some(1L), 35L, 42.0, 35L),   // 25..59: 18th = 42
        (Some(2L), 15L, 67.0, 15L),   // 60..74: 8th = 67
        (None, 25L, 87.0, 25L)),      // the SQL NULL group: 75..99
        s"got $rows")
    }
    check()
    // only the MIXED file may be read: delete every homogeneous file —
    // their groups answer from blobs alone
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mixedNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("g_min") =!= col("g_max")).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(mixedNames.size === 1)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => mixedNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
    // the HIVE PARTITION form: groupCol parses from part_dir, every
    // partition file is homogeneous by construction — answers survive
    // the loss of ALL data files
    val hp = fresh("sketch-by-part")
    (0 until 60).map(i => (i.toLong, i * 2.0, s"t${i / 20}"))
      .toDF("k", "w", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false,
      sketchCols = Seq("k"))
    def checkPart(): Unit = {
      val rows = ZoneMap.metaApproxProfileBy(spark, hp, Seq("p"),
        Seq("k"), Seq(0.5)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(_._1)
      assert(rows === Seq(("t0", 20L, 9.0), ("t1", 20L, 29.0),
        ("t2", 20L, 49.0)), s"got $rows")
    }
    checkPart()
    // a DATA column that was never zone-indexed must refuse loudly —
    // silently lumping the layout into one NULL group would be wrong
    val boom = intercept[IllegalArgumentException](
      ZoneMap.metaApproxProfileBy(spark, hp, Seq("w"), Seq("k")))
    assert(boom.getMessage.contains("neither zone-indexed nor a partition"))
    val hfs = new org.apache.hadoop.fs.Path(hp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Manifests.listDataFiles(hfs, new org.apache.hadoop.fs.Path(hp))
      .foreach(f => hfs.delete(f, false))
    checkPart()
  }

  test("metaApproxProfileBy with MULTIPLE group columns: per-(p, g) " +
      "tuples mixing a partition level and a zone column; a file mixed " +
      "in ONE column routes to the scan leg") {
    import spark.implicits._
    val hp = fresh("sketch-by-multi")
    // p is a Hive partition level (homogeneous per file by construction);
    // g is a zone-indexed data column. Three files: two homogeneous in
    // BOTH, one homogeneous in p but MIXED in g — the tuple is unknowable
    // from its manifest row, so it must scan raw (grouped), never lump
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("k", "g", "p").coalesce(1)
        .write.mode("append").partitionBy("p").parquet(hp)
    write((0 until 20).map(i => (i.toLong, 0L, "a")))
    write((20 until 40).map(i =>
      (i.toLong, if (i < 30) 1L else 2L, "a")))   // MIXED in g
    write((40 until 60).map(i => (i.toLong, 0L, "b")))
    ZoneMap.write(spark, hp, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("k"))
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileBy(spark, hp, Seq("p", "g"),
        Seq("k"), Seq(0.5)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq.sortBy(t => (t._1, t._2))
      // exact in the small regime: n ≤ k keeps every item, p50 = the
      // ceil(.5·n)-th order statistic
      assert(rows === Seq(
        ("a", 0L, 20L, 9.0),    // k 0..19: 10th = 9
        ("a", 1L, 10L, 24.0),   // k 20..29: 5th = 24
        ("a", 2L, 10L, 34.0),   // k 30..39: 5th = 34
        ("b", 0L, 20L, 49.0)),  // k 40..59: 10th = 49
        s"got $rows")
    }
    check()
    // only the g-mixed file may be read: delete both tuple-homogeneous
    // files — their groups must answer from blobs alone
    val fs = new org.apache.hadoop.fs.Path(hp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mixedNames = spark.read.parquet(s"$hp/_zonemap")
      .filter(col("g_min") =!= col("g_max")).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(mixedNames.size === 1)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(hp))
      .filterNot(f => mixedNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("metaApproxProfileSemiJoinBy: grouped AND gated in one call — " +
      "served blobs land in their group iff the file's key matches, " +
      "boundary files re-sketch MATCHING rows grouped, all-null-key " +
      "files are never touched") {
    import spark.implicits._
    val path = fresh("sketch-semijoin-by")
    def write(rows: Seq[(Long, Option[Long], Long)]): Unit =
      rows.toDF("k", "g", "t").coalesce(1).write.mode("append").parquet(path)
    // g is the gate key, t the group column:
    //   A: g=0, t=0 — homogeneous in both, key matches
    //   B: g=1, t=0 — homogeneous, key matches NOTHING (dropped whole)
    //   C: g MIXED {1,2}, t=1 — boundary via the KEY; only g=2 rows match
    //   D: g=2 (matches), t MIXED {1,2} — boundary via the GROUP column
    //   E: g all-NULL — matches nothing, excluded from BOTH legs
    write((0 until 25).map(i => (i.toLong, Some(0L), 0L)))
    write((25 until 50).map(i => (i.toLong, Some(1L), 0L)))
    write((50 until 75).map(i =>
      (i.toLong, Some(if (i < 60) 1L else 2L), 1L)))
    write((75 until 100).map(i =>
      (i.toLong, Some(2L), if (i < 90) 1L else 2L)))
    write((100 until 125).map(i => (i.toLong, None: Option[Long], 3L)))
    ZoneMap.write(spark, path, Seq("k", "g", "t"), updateCatalog = false,
      sketchCols = Seq("k"))
    // a DUPLICATE dim key proves semi semantics (rows counted once)
    val dim = Seq((0L, "x"), (2L, "y"), (2L, "y2")).toDF("gk", "tag")
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileSemiJoinBy(spark, path, "g",
        dim, "gk", Seq("t"), Seq("k"), Seq(0.5)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq.sortBy(_._1)
      // t=0: file A only (B never matches) → k 0..24, 13th = 12
      // t=1: C's g=2 rows (k 60..74) ∪ D's t=1 rows (k 75..89) → 30
      //      rows, 15th of the sorted matches = 74
      // t=2: D's t=2 rows (k 90..99) → 10 rows, 5th = 94
      // t=3 (file E) must NOT appear — null keys match nothing
      assert(rows === Seq(
        (0L, 25L, 12.0, 25L),
        (1L, 30L, 74.0, 30L),
        (2L, 10L, 94.0, 10L)), s"got $rows")
    }
    check()
    // only the two BOUNDARY files may be read: delete A, B and E — the
    // served group answers from its blob, the dropped files are never
    // opened
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val boundaryNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("g_min") =!= col("g_max") ||
        col("t_min") =!= col("t_max")).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(boundaryNames.size === 2)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => boundaryNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("profile BANDS: fully-covered files serve whole blobs, partial " +
      "files re-sketch only passing rows, disjoint files are never " +
      "touched — grouped and global fronts alike") {
    import spark.implicits._
    val path = fresh("sketch-band")
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("k", "g").coalesce(1).write.mode("append").parquet(path)
    // k range-clustered per file; band [20, 79] splits them:
    //   A: k 0..24,    g=0 — PARTIAL (20..24 pass)
    //   B: k 25..49,   g=1 — COVERED
    //   C: k 50..74,   g=1 — COVERED (merges with B in the same group)
    //   D: k 75..99,   g=2 — PARTIAL (75..79 pass)
    //   E: k 100..124, g=3 — DISJOINT (its group must not appear)
    write((0 until 25).map(i => (i.toLong, 0L)))
    write((25 until 50).map(i => (i.toLong, 1L)))
    write((50 until 75).map(i => (i.toLong, 1L)))
    write((75 until 100).map(i => (i.toLong, 2L)))
    write((100 until 125).map(i => (i.toLong, 3L)))
    ZoneMap.write(spark, path, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("k"))
    val band = Seq(("k", 20L: Any, 79L: Any))
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileBy(spark, path, Seq("g"),
        Seq("k"), Seq(0.5), bands = band).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq.sortBy(_._1)
      // exact in the small regime (n ≤ k): p50 = ceil(.5·n)-th item
      assert(rows === Seq(
        (0L, 5L, 22.0, 5L),     // A's passing rows 20..24: 3rd = 22
        (1L, 50L, 49.0, 50L),   // B ∪ C blobs whole: 25..74, 25th = 49
        (2L, 5L, 77.0, 5L)),    // D's passing rows 75..79: 3rd = 77
        s"got $rows")
      // the GLOBAL front takes the same bands
      val p = ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5),
        bands = band).head()
      assert(p.getLong(0) === 60L && p.getDouble(1) === 49.0 &&
        p.getLong(2) === 60L, s"got $p")
    }
    check()
    // only the two PARTIAL files may be read: delete B, C and E — the
    // covered group answers from blobs, the disjoint file is never opened
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partialNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("k_min") < 20L && col("k_max") >= 20L ||
        col("k_min") <= 79L && col("k_max") > 79L).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(partialNames.size === 2)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => partialNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("profile topK: per-group heavy hitters from the manifest's " +
      "frequent-items blobs — string AND long columns, boundary files " +
      "re-sketched, exact regime") {
    import spark.implicits._
    val path = fresh("sketch-topk")
    def write(rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("k", "g", "src", "uid").coalesce(1)
        .write.mode("append").parquet(path)
    // A: g=0 homogeneous — src a×15 b×7 c×3, uid 1×20 2×5
    write((0 until 25).map(i => (i.toLong, 0L,
      if (i < 15) "a" else if (i < 22) "b" else "c",
      if (i < 20) 1L else 2L)))
    // B: g=1 homogeneous — src b×20 d×5, uid 3×25
    write((25 until 50).map(i => (i.toLong, 1L,
      if (i < 45) "b" else "d", 3L)))
    // C: g MIXED {1,2} — its rows re-sketch grouped from raw:
    //   g=1 rows: src e×10, uid 4×10; g=2 rows: src a×15, uid 5×15
    write((50 until 75).map(i =>
      (i.toLong, if (i < 60) 1L else 2L,
        if (i < 60) "e" else "a", if (i < 60) 4L else 5L)))
    ZoneMap.write(spark, path, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("src", "uid"))
    // string col → _frqs blob, long col → _frq blob, both alongside hll
    val mf = spark.read.parquet(s"$path/_zonemap").schema.fieldNames.toSet
    assert(mf.contains("src_frqs") && mf.contains("uid_frq"),
      s"expected both frequent-items families in the manifest: $mf")
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileBy(spark, path, Seq("g"),
        Seq("src", "uid"), Seq(0.5), topK = 2).collect()
        .map(r => (r.getAs[Long]("g"),
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("src_topk")
            .map(h => (h.getString(0), h.getLong(1))),
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("uid_topk")
            .map(h => (h.getLong(0), h.getLong(1)))))
        .toSeq.sortBy(_._1)
      // far below saturation: estimates are EXACT and the (est desc,
      // item asc) order is the true top-k
      assert(rows === Seq(
        (0L, Seq(("a", 15L), ("b", 7L)), Seq((1L, 20L), (2L, 5L))),
        (1L, Seq(("b", 20L), ("e", 10L)), Seq((3L, 25L), (4L, 10L))),
        (2L, Seq(("a", 15L)), Seq((5L, 15L)))), s"got $rows")
    }
    check()
    // only the g-mixed file may be read — served groups answer from blobs
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mixedNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("g_min") =!= col("g_max")).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(mixedNames.size === 1)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => mixedNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("profile BANDS on a partition column with an ESCAPED value: the " +
      "unknown-bounds file lands on the BOUNDARY leg — never silently " +
      "dropped from both legs") {
    import spark.implicits._
    val hp = fresh("sketch-band-esc")
    // 'a:b' escapes to a%3Ab on disk → synthesized stats are NULL with
    // nulls = -1; a band comparison over NULL bounds is SQL NULL, and
    // before the three-valued-logic fix the file failed BOTH legs'
    // filters and its rows vanished from the profile
    Seq((1L, "a:b"), (2L, "a:b"), (3L, "aa"), (4L, "zz"))
      .toDF("k", "p").repartition(1)
      .write.mode("overwrite").partitionBy("p").parquet(hp)
    ZoneMap.write(spark, hp, Seq("k"), updateCatalog = false,
      sketchCols = Seq("k"))
    // band [a, b]: the 'aa' file is covered, 'zz' disjoint, and the
    // escaped file has UNKNOWN bounds — it must scan raw, where Spark's
    // own partition parsing decodes 'a:b' (inside the band: rows kept)
    val p = ZoneMap.metaApproxProfile(spark, hp, Seq("k"), Seq(0.5),
      bands = Seq(("p", "a", "b"))).head()
    assert(p.getLong(0) === 3L,
      s"the escaped file's rows must not vanish: $p")
    assert(p.getLong(2) === 3L, s"distinct k of the kept rows: $p")
  }

  test("profile cdfAt: inverse quantiles per group — exact inclusive " +
      "fractions in the small regime; probes without a KLL blob refuse") {
    import spark.implicits._
    val path = fresh("sketch-cdf")
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("k", "g", "s").coalesce(1).write.mode("append").parquet(path)
    write((0 until 25).map(i => (i.toLong, 0L, "x")))    // g=0: k 0..24
    write((25 until 50).map(i => (i.toLong, 1L, "x")))   // g=1: k 25..49
    ZoneMap.write(spark, path, Seq("k", "g"), updateCatalog = false,
      sketchCols = Seq("k", "s"))
    val rows = ZoneMap.metaApproxProfileBy(spark, path, Seq("g"), Seq("k"),
        Seq(0.5), cdfAt = Seq(("k", 9.0), ("k", 40.0))).collect()
      .map(r => (r.getAs[Long]("g"), r.getAs[Double]("k_cdf_9"),
        r.getAs[Double]("k_cdf_40"))).toSeq.sortBy(_._1)
    // inclusive rank, exact at n ≤ 200: share of rows with k <= v
    assert(rows === Seq(
      (0L, 10.0 / 25, 1.0),       // g=0: 10 of 25 at or below 9; all ≤ 40
      (1L, 0.0, 16.0 / 25)),      // g=1: none ≤ 9; 25..40 = 16 of 25
      s"got $rows")
    // the global front too, with a negative/fractional probe name-mangled
    val p = ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5),
      cdfAt = Seq(("k", 24.5))).head()
    assert(p.getAs[Double]("k_cdf_24_5") === 25.0 / 50)
    // a probe against a column with no KLL blob must refuse loudly —
    // silently dropping the output column would be a wrong answer by
    // omission
    val boom = intercept[IllegalArgumentException](
      ZoneMap.metaApproxProfile(spark, path, Seq("s"), Seq(0.5),
        cdfAt = Seq(("s", 1.0))))
    assert(boom.getMessage.contains("KLL blob"))
  }

  test("the FULL profile algebra composes in one call: dim gate × " +
      "grouping × band × topK × cdfAt, every leg routed, exact regime") {
    import spark.implicits._
    val path = fresh("sketch-algebra")
    def write(rows: Seq[(Long, Option[Long], Long, String)]): Unit =
      rows.toDF("k", "g", "t", "src").coalesce(1)
        .write.mode("append").parquet(path)
    // g gates (dim keys {0, 2}), t groups, band on k = [10, 89]:
    //   A: g=0 t=0, k 0..24,   src a — matches, PARTIAL band → boundary
    //   B: g=0 t=0, k 30..49,  src b — matches, covered → served whole
    //   C: g=1 t=1, k 50..69,  src d — key never matches → dropped
    //   D: g=2 t=1, k 70..89,  src a/c — matches, covered → served
    //   E: g=2 t=2, k 90..109, src e — DISJOINT from the band → excluded
    //   F: g null,  k 110..119 — all-null key → excluded
    write((0 until 25).map(i => (i.toLong, Some(0L), 0L, "a")))
    write((30 until 50).map(i => (i.toLong, Some(0L), 0L, "b")))
    write((50 until 70).map(i => (i.toLong, Some(1L), 1L, "d")))
    write((70 until 90).map(i =>
      (i.toLong, Some(2L), 1L, if (i < 80) "a" else "c")))
    write((90 until 110).map(i => (i.toLong, Some(2L), 2L, "e")))
    write((110 until 120).map(i => (i.toLong, None: Option[Long], 3L, "f")))
    ZoneMap.write(spark, path, Seq("k", "g", "t"), updateCatalog = false,
      sketchCols = Seq("k", "src"))
    val dim = Seq((0L, "x"), (2L, "y"), (2L, "y2")).toDF("gk", "tag")
    def check(): Unit = {
      val rows = ZoneMap.metaApproxProfileSemiJoinBy(spark, path, "g",
        dim, "gk", Seq("t"), Seq("k", "src"), Seq(0.5),
        bands = Seq(("k", 10L, 89L)), topK = 2,
        cdfAt = Seq(("k", 40.0))).collect()
        .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_rows"),
          r.getAs[Double]("k_p50"),
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("src_topk")
            .map(h => (h.getString(0), h.getLong(1))).toSeq,
          r.getAs[Double]("k_cdf_40"))).toSeq.sortBy(_._1)
      // t=0: A's band rows (k 10..24) ∪ B whole (k 30..49) → 35 rows,
      //      18th of the sorted matches = 32; src b×20 beats a×15;
      //      cdf(40) = (15 + 11)/35
      // t=1: D only (C's key matches nothing) → k 70..89, 10th = 79;
      //      a×10 and c×10 tie — (est desc, item asc) orders a first;
      //      cdf(40) = 0
      // t=2 and the null-key file must be ABSENT (disjoint / no match)
      assert(rows === Seq(
        (0L, 35L, 32.0, Seq(("b", 20L), ("a", 15L)), 26.0 / 35),
        (1L, 20L, 79.0, Seq(("a", 10L), ("c", 10L)), 0.0)), s"got $rows")
    }
    check()
    // only the PARTIAL file may ever be read: delete everything but A —
    // served files answer from blobs, dropped/excluded files are never
    // opened
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partialNames = spark.read.parquet(s"$path/_zonemap")
      .filter(col("k_min") < 10L && col("k_max") >= 10L).select("file")
      .collect().map(r => Manifests.baseName(r.getString(0))).toSet
    assert(partialNames.size === 1)
    Manifests.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
      .filterNot(f => partialNames.contains(f.getName))
      .foreach(f => fs.delete(f, false))
    check()
  }

  test("a pre-heavy-hitters manifest (KLL/HLL only) drift-rebuilds once " +
      "on the next update and gains the frequent-items tier") {
    import spark.implicits._
    val path = fresh("sketch-frq-upgrade")
    (0 until 50).map(i => (i.toLong, s"s${i % 3}"))
      .toDF("k", "src").repartition(2)
      .write.mode("overwrite").parquet(path)
    ZoneMap.write(spark, path, Seq("k"), updateCatalog = false,
      sketchCols = Seq("src"))
    // simulate a manifest built BEFORE the heavy-hitters family: drop
    // the _frqs column and bump the version (what an old build left)
    val legacy = spark.read.parquet(s"$path/_zonemap").drop("src_frqs")
    val staging = s"$path-legacy"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    legacy.write.partitionBy("part_dir").parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_zonemap"), true)
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$path/_zonemap"))
    Manifests.bumpManifestVersion(path, "_zonemap")
    // topK against the legacy manifest refuses loudly (no silent absence)
    val boom = intercept[IllegalArgumentException](
      ZoneMap.metaApproxProfile(spark, path, Seq("src"), Seq(0.5),
        topK = 2))
    assert(boom.getMessage.contains("frequent-items"))
    // the next maintenance tick detects the schema drift and rebuilds —
    // the upgrade path for manifests that predate the family
    ZoneMap.update(spark, path, Seq("k"))
    val top = ZoneMap.metaApproxProfile(spark, path, Seq("src"), Seq(0.5),
        topK = 2).head()
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("src_topk")
      .map(h => (h.getString(0), h.getLong(1))).toSeq
    assert(top === Seq(("s0", 17L), ("s1", 17L)),
      s"rebuilt manifest must answer heavy hitters: $top")
  }

  test("metaApproxOverlap: distinct overlap between two band scopes from " +
      "theta blobs — exact below 2^12, boundary files re-sketch passing " +
      "rows, maintenance preserves the family") {
    import spark.implicits._
    val path = fresh("sketch-overlap")
    def write(day: String, us: Seq[Long]): Unit =
      us.map(u => (u, day)).toDF("u", "p").coalesce(1)
        .write.mode("append").partitionBy("p").parquet(path)
    write("d1", 0L until 50L)     // users 0..49
    write("d2", 30L until 80L)    // users 30..79
    write("d3", 100L until 120L)  // users 100..119
    ZoneMap.write(spark, path, Seq("u"), updateCatalog = false,
      sketchCols = Seq(ZoneMap.ThetaTag + "u"))
    // partition-band scopes: every file covered or excluded, zero reads
    val r = ZoneMap.metaApproxOverlap(spark, path, "u",
      Seq(("p", "d1", "d1")), Seq(("p", "d2", "d2"))).head()
    assert((r.getAs[Long]("n_rows_a"), r.getAs[Long]("n_rows_b"),
      r.getAs[Long]("u_distinct_a"), r.getAs[Long]("u_distinct_b"),
      r.getAs[Long]("u_overlap"), r.getAs[Long]("u_only_a"),
      r.getAs[Long]("u_only_b")) === ((50L, 50L, 50L, 50L, 20L, 30L, 30L)),
      s"got $r")
    // a ZONE-column scope that half-covers two files: their passing rows
    // re-sketch and UNION (the shared users dedup across files), while
    // the disjoint day never participates
    val r2 = ZoneMap.metaApproxOverlap(spark, path, "u",
      Seq(("u", 0L, 39L)), Seq(("p", "d2", "d2"))).head()
    // scope A = u ∈ [0, 39]: d1's rows 0..39 ∪ d2's rows 30..39 →
    // 50 rows, 40 distinct; overlap with d2 (30..79) = 30..39
    assert((r2.getAs[Long]("n_rows_a"), r2.getAs[Long]("u_distinct_a"),
      r2.getAs[Long]("u_overlap"), r2.getAs[Long]("u_only_a"),
      r2.getAs[Long]("u_only_b")) === ((50L, 40L, 10L, 30L, 40L)),
      s"got $r2")
    // maintenance preserves the family with zero re-configuration: a new
    // day appends, update() learns it from the manifest schema alone
    write("d4", 40L until 60L)
    val d = ZoneMap.update(spark, path, Seq("u"))
    assert(d.added === 1L)
    val r3 = ZoneMap.metaApproxOverlap(spark, path, "u",
      Seq(("p", "d1", "d1")), Seq(("p", "d4", "d4"))).head()
    assert((r3.getAs[Long]("u_distinct_b"), r3.getAs[Long]("u_overlap"))
      === ((20L, 10L)), s"got $r3")   // d4 = 40..59; ∩ d1 = 40..49
  }

  test("update(sketchCols=…) builds the sketch tier: fresh layouts get it " +
      "incrementally, pre-sketch manifests rebuild once then tick") {
    import spark.implicits._
    val path = fresh("sketch-update")
    (0 until 50).map(i => (i.toLong, i / 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(path)
    // 1. fresh layout, no manifest yet: update() with sketchCols builds
    //    blobs from the first tick (the streaming-sink first batch)
    val d0 = ZoneMap.update(spark, path, Seq("k"), sketchCols = Seq("k"))
    assert(d0.added === 1L)
    assert(ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5))
      .head().getLong(0) === 50L)
    // 2. later ticks keep the tier without re-passing sketchCols (the
    //    manifest schema is the source of truth)
    (50 until 75).map(i => (i.toLong, i / 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("k")).added === 1L)
    assert(ZoneMap.metaApproxProfile(spark, path, Seq("k"), Seq(0.5))
      .head().getLong(0) === 75L)
    // 3. ADDING a sketch column to a pre-sketch manifest rebuilds once
    //    (schema drift), after which the new tier answers too
    val d2 = ZoneMap.update(spark, path, Seq("k"), sketchCols = Seq("k", "v"))
    assert(d2.added === 2L && d2.reaped === 0L,
      s"new sketch column must trigger the drift rebuild, got $d2")
    val p = ZoneMap.metaApproxProfile(spark, path, Seq("v"), Seq(0.5)).head()
    assert(p.getLong(0) === 75L)
  }

  test("width_share separates clustered from random layouts") {
    val cPath = fresh("diag-clustered")
    val rPath = fresh("diag-random")
    events.repartitionByRange(8, col("value"))
      .write.mode("overwrite").parquet(cPath)
    // random: hash-spread on an unrelated key → every file spans ~all values
    events.repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(rPath)
    ZoneMap.write(spark, cPath, Seq("value"))
    ZoneMap.write(spark, rPath, Seq("value"))
    def share(p: String) = ZoneMap.diagnose(spark, p, Seq("value"))
      .select("width_share").head().getDouble(0)
    val (sc, sr) = (share(cPath), share(rPath))
    assert(sc < 0.3, s"clustered width_share should be small, got $sc")
    assert(sr > 0.7, s"random width_share should be near 1, got $sr")
    // and the random layout prunes (almost) nothing for the same band
    val candR = ZoneMap.candidateFiles(spark, rPath, "value", 100.0, 200.0)
    assert(candR.size === 8, "random layout cannot skip files")
  }

  test("sorted compaction preserves clustering; hash compaction destroys it") {
    def fragmentedClustered(tag: String): String = {
      val p = fresh(tag)
      events.repartitionByRange(16, col("value"))
        .write.mode("overwrite").parquet(p)
      p
    }
    // target ~4 output files from MEASURED bytes (a fixed byte target
    // would collapse the tiny fixture to one file, whose single zone
    // trivially spans the full range)
    def quarterTarget(p: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      math.max(1L,
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength / 4)
    }
    // sortCols: packed files stay range-clustered → zones stay tight
    val sorted = fragmentedClustered("compact-sorted")
    Compaction.compact(spark, sorted, OutFormat.Parquet,
      OutCompression.Snappy, targetFileBytes = quarterTarget(sorted),
      sortCols = Seq("value"))
    ZoneMap.write(spark, sorted, Seq("value"))
    val sortedShare = ZoneMap.diagnose(spark, sorted, Seq("value"))
      .select("width_share").head().getDouble(0)
    // plain hash packing on the same input scrambles the ranges
    val hashed = fragmentedClustered("compact-hashed")
    Compaction.compact(spark, hashed, OutFormat.Parquet,
      OutCompression.Snappy, targetFileBytes = quarterTarget(hashed))
    ZoneMap.write(spark, hashed, Seq("value"))
    val hashedShare = ZoneMap.diagnose(spark, hashed, Seq("value"))
      .select("width_share").head().getDouble(0)
    assert(sortedShare < 0.5 && hashedShare > 0.7,
      s"sorted $sortedShare should stay clustered; hashed $hashedShare should not")
    assert(sortedShare < hashedShare / 2,
      "sorted packing must be categorically tighter than hash packing")
    // both compactions are lossless
    Seq(sorted, hashed).foreach { p =>
      assert(spark.read.parquet(p).count() === events.count())
    }
  }

  test("incremental update indexes only new files; manifest == full rebuild") {
    val path = fresh("incremental")
    events.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("value"))
      .write.mode("overwrite").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("value")) === ZoneMap.UpdateDelta(4, 0))
    // the next micro-batch appends more files
    events.filter(col("event_id") % 2 === 1)
      .repartitionByRange(3, col("value"))
      .write.mode("append").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("value")) === ZoneMap.UpdateDelta(3, 0),
      "only the 3 appended files should be indexed")
    // an up-to-date manifest is a no-op
    assert(ZoneMap.update(spark, path, Seq("value")) === ZoneMap.UpdateDelta(0, 0))
    // incremental manifest rows == one-shot rebuild (keyed by basename)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val f = r.getString(0)
        f.substring(f.lastIndexOf('/') + 1) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))
      }.toMap
    val inc = rows(spark.read.parquet(s"$path/_zonemap")
      .select("file", "n_rows", "value_min", "value_max"))
    val full = rows(ZoneMap.build(spark, path, Seq("value"))
      .select("file", "n_rows", "value_min", "value_max"))
    assert(inc === full)
    // and the pruned read still answers exactly through the merged manifest
    val got = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0).count()
    val want = events.filter(col("value") >= 100.0 && col("value") <= 200.0)
      .count()
    assert(got === want)
  }

  test("update reaps rows for vanished files: batch-dir replay leaves no ghosts") {
    val path = fresh("replay")
    val batch = events.filter(col("event_id") % 2 === 0)
    def writeBatch(): Unit = batch.repartitionByRange(3, col("value"))
      .write.mode("overwrite").parquet(s"$path/batch_id=000000")
    writeBatch()
    assert(ZoneMap.update(spark, path, Seq("value")) === ZoneMap.UpdateDelta(3, 0))
    // the replay: same batch dir overwritten — old UUID basenames vanish
    writeBatch()
    val d = ZoneMap.update(spark, path, Seq("value"))
    assert(d.added === 3 && d.reaped === 3,
      s"replay must re-index the rewritten dir and reap the ghosts, got $d")
    // no ghost rows: manifest == on-disk files, totals exact
    val manifest = spark.read.parquet(s"$path/_zonemap")
    assert(manifest.count() === 3)
    assert(manifest.select(sum(col("n_rows"))).head().getLong(0) === batch.count())
    val got = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = batch.filter(col("value").between(100.0, 200.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want && want.nonEmpty)
  }

  test("compaction maintains the manifest: pruned reads stay exact, no update needed") {
    val path = fresh("compact-compose")
    // a fragmented clustered layout with a live zone map
    events.repartitionByRange(16, col("value"))
      .write.mode("overwrite").parquet(path)
    ZoneMap.write(spark, path, Seq("value"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = math.max(1L,
      fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength / 4)
    val report = Compaction.compact(spark, path, OutFormat.Parquet,
      OutCompression.Snappy, targetFileBytes = target,
      sortCols = Seq("value"))
    assert(report.filter(col("compacted")).count() > 0, "fixture must compact")
    // compact refreshed the rewritten shards itself: manifest rows point
    // only at live files, update is a no-op, and the pruned read answers
    // exactly (it would THROW on a stale manifest — dead scan paths)
    val manifest = spark.read.parquet(s"$path/_zonemap")
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val indexed = manifest.select("file").collect()
      .map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) })
      .toSet
    assert(indexed === onDisk, "manifest must track exactly the live files")
    assert(ZoneMap.update(spark, path, Seq("value")) === ZoneMap.UpdateDelta(0, 0))
    val got = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = events.filter(col("value").between(100.0, 200.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want && want.nonEmpty)
    // diagnose sees no ghosts: per-file rows sum to the table's rows
    assert(manifest.select(sum(col("n_rows"))).head().getLong(0) ===
      events.count())
  }

  test("manifest is sharded by partition dir; parts hint prunes manifest shards") {
    val path = fresh("sharded")
    // a Hive-partitioned layout: shard key = the leaf dir, zones on a
    // DATA column the partitioning doesn't cover
    events.withColumn("bucket", (col("event_id") % 3).cast("int"))
      .repartitionByRange(4, col("value"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("value")).added > 0)
    val manifest = spark.read.parquet(s"$path/_zonemap")
    val shards = manifest.select("part_dir").distinct()
      .collect().map(_.getString(0)).toSet
    assert(shards === Set("bucket=0", "bucket=1", "bucket=2"),
      s"manifest must shard by partition dir, got $shards")
    // full intersect == union of per-shard intersects
    val all = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = events.filter(col("value").between(100.0, 200.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(all === want && want.nonEmpty)
    // the parts hint restricts both the manifest scan and the answer
    val one = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0,
        parts = Seq("bucket=1"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val wantOne = events.filter(col("value").between(100.0, 200.0) &&
        col("event_id") % 3 === 1)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(one === wantOne && wantOne.nonEmpty)
    assert(ZoneMap.candidateFiles(spark, path, "value", 100.0, 200.0,
      parts = Seq("bucket=1")).forall(_.contains("bucket=1")))
  }

  test("many-shard pruned read plans batched union arms, not one per shard") {
    val path = fresh("many-shards")
    events.withColumn("bucket", (col("event_id") % 24).cast("int"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("value")).added === 24)
    val (lo, hi) = (Double.MinValue, Double.MaxValue) // every shard matches
    val pruned = ZoneMap.prunedRead(spark, path, "value", lo, hi)
    // 24 candidate files fit one batched arm: exactly ONE parquet relation
    // in the plan (the per-shard form planned 24 union arms here)
    val rels = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length
    assert(rels === 1, s"expected one batched scan arm, got $rels")
    assert(pruned.select("event_id").collect().map(_.getLong(0)).toSet ===
      events.select("event_id").collect().map(_.getLong(0)).toSet)
    // arm math under a tiny width: ceil(24/5) = 5 arms, same rows
    val files = ZoneMap.candidateFiles(spark, path, "value", lo, hi)
    assert(files.length === 24)
    val armed = Manifests.batchedRead(spark, files.iterator,
      maxFilesPerArm = 5).get
    val arms = armed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length
    assert(arms === 5, s"expected ceil(24/5)=5 arms, got $arms")
    assert(armed.count() === events.count())
  }

  test("a retention-deleted partition dir is fully reaped — emptied shard dir included") {
    val path = fresh("retention")
    events.withColumn("bucket", (col("event_id") % 3).cast("int"))
      .repartitionByRange(2, col("value"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    assert(ZoneMap.update(spark, path, Seq("value")).added > 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // retention: the whole bucket=2 partition ages out
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/bucket=2"), true)
    val d = ZoneMap.update(spark, path, Seq("value"))
    assert(d.added === 0 && d.reaped > 0, s"got $d")
    val manifest = spark.read.parquet(s"$path/_zonemap")
    val shards = manifest.select("part_dir").distinct()
      .collect().map(_.getString(0)).toSet
    assert(shards === Set("bucket=0", "bucket=1"))
    // the emptied shard DIR is gone too: dynamic overwrite writes nothing
    // for it, so without an explicit reap the stale dir would keep
    // serving ghost rows forever
    val shardDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_zonemap")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("part_dir="))
    val decoded = shardDirs.map(n => org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName(n.stripPrefix("part_dir=")))
    assert(decoded.toSet === Set("bucket=0", "bucket=1"),
      s"emptied shard dir must be deleted, found $decoded")
    // survivors still answer exactly
    val got = ZoneMap.prunedRead(spark, path, "value", 100.0, 200.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = events.filter(col("value").between(100.0, 200.0) &&
        col("event_id") % 3 =!= 2)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want && want.nonEmpty)
    // full wipe: every partition ages out → the manifest dir itself goes
    // (a shard-less parquet dir cannot even answer a schema read)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/bucket=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/bucket=1"), true)
    assert(ZoneMap.update(spark, path, Seq("value")).reaped > 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_zonemap")),
      "a fully-reaped manifest must be dropped, not left unreadable")
  }

  test("a band outside every zone reads zero files and returns empty, typed") {
    val path = fresh("empty")
    events.repartitionByRange(4, col("value"))
      .write.mode("overwrite").parquet(path)
    ZoneMap.write(spark, path, Seq("value"))
    val maxV = events.agg(max("value")).head().getDouble(0)
    assert(ZoneMap.candidateFiles(spark, path, "value",
      maxV + 1, maxV + 100).isEmpty)
    val out = ZoneMap.prunedRead(spark, path, "value", maxV + 1, maxV + 100)
    assert(out.count() === 0)
    assert(out.columns.contains("event_id"), "empty result keeps the schema")
  }
}
