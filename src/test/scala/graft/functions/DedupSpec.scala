package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.ReferenceForms.minhashSignature
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfTiny).cache()

  test("exact dedup keeps one representative per distinct text") {
    val total = docs.count()
    val distinctTexts = docs.select("text").distinct().count()
    val deduped = Dedup.exact(docs)
    assert(deduped.count() === distinctTexts)
    // representative is the lowest doc_id of its text group
    val bad = deduped.as("d")
      .join(docs.as("o"), expr("o.text = d.text AND o.doc_id < d.doc_id"))
    assert(bad.count() === 0)
    assert(total >= distinctTexts)
  }

  test("exactStats accounts for every doc") {
    val stats = Dedup.exactStats(docs, "source").collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum === docs.count())
    stats.foreach { r =>
      assert(r.getAs[Long]("n_dups") ===
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_distinct"))
    }
  }

  test("banded simhash pairs == exhaustive simhash pairs (d < bands)") {
    // The banding is pure candidate generation + re-check, so for
    // maxDistance < bands (pigeonhole guarantee) output must be EXACTLY
    // the quadratic reference implementation's.
    for (d <- Seq(1, 3)) {
      val banded = Dedup.simhashBandedPairs(docs, maxDistance = d, bands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val exhaustive = Dedup.simhashPairsExhaustive(docs, maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded === exhaustive, s"banded != exhaustive at d=$d")
    }
  }

  test("minhash estimate agrees with exact jaccard on candidate pairs") {
    // For every LSH candidate pair, |est - exact| must be within the
    // binomial error of a k=128 signature (~4.5 sigma ≈ 0.2).
    val k = 128
    val cands = Dedup.minhashCandidates(docs, shingleN = 3, k = k,
      bands = 32, threshold = 0.0)
    val withSets = docs.select(col("doc_id"),
      Dedup.ngramSet(col("text"), 3).as("ngrams"))
    val joined = cands.join(withSets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(withSets.withColumnRenamed("ngrams", "ngrams_b").as("b"),
        col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        Dedup.jaccard(col("ngrams"), col("ngrams_b")).as("exact_jaccard"))
    val rows = joined.collect()
    assert(rows.nonEmpty, "no LSH candidates found at threshold 0")
    val maxErr = rows.map(r =>
      math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("exact_jaccard"))).max
    assert(maxErr <= 0.2, f"minhash estimate off by $maxErr%.3f")
  }

  test("minhash LSH recalls every true near-duplicate pair (j >= 0.5)") {
    // 16 bands × 8 rows at k=128: P(miss | j=0.5) = (1-0.5^8)^16 ≈ 0.94…
    // not enough — so measure against the pairs the catalog threshold
    // targets: j >= 0.7 → P(miss) = (1-0.7^8)^16 ≈ 0.38. Instead of relying
    // on luck, assert recall on j>=0.5 with the BAND config the catalog
    // uses for dedup (32 bands × 4 rows: P(miss|0.5)=(1-0.0625)^32≈0.13,
    // P(miss|0.7)≈0.0003) and require >= 0.9 recall overall.
    val truePairs = Dedup.ngramJaccardPairs(docs, 3, "source")
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(truePairs.nonEmpty, "fixture has no near-dup pairs at j>=0.5")
    val found = Dedup.minhashCandidates(docs, shingleN = 3, k = 128,
      bands = 32, threshold = 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truePairs.count(found).toDouble / truePairs.size
    assert(recall >= 0.9, f"minhash recall $recall%.2f < 0.9")
  }

  test("ngramJaccardStats == aggregated pairwise jaccard (sparse vs O(n²))") {
    val sparse = Dedup.ngramJaccardStats(docs, 3, "source", simThreshold = 0.2)
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP))))
      .toMap
    val pairwise = Dedup.ngramJaccardPairs(docs, 3, "source")
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("jaccard") >= 0.2, 1)).as("n_sim_pairs"),
        sum(col("jaccard").cast("decimal(38,6)")).cast("double").as("sum_jaccard"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP))))
      .toMap
    assert(sparse === pairwise)
  }

  test("minhash mega-bucket cap: no-op when generous, bounds a hot bucket") {
    import spark.implicits._
    val uncapped = Dedup.minhashCandidates(docs, shingleN = 3, k = 32,
        bands = 16, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val generous = Dedup.minhashCandidates(docs, shingleN = 3, k = 32,
        bands = 16, threshold = 0.2, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(generous === uncapped, "generous cap changed the candidate set")
    // a template corpus: 60 identical docs land every band in ONE bucket
    // (60·59/2 = 1770 pairs); the cap keeps the join bounded
    val template = (0 until 60)
      .map(i => (i.toLong, "spark shuffles the partitioned table rows"))
      .toDF("doc_id", "text")
    val boom = Dedup.minhashCandidates(template, shingleN = 3, k = 32,
      bands = 16, threshold = 0.2)
    assert(boom.count() === 60L * 59 / 2)
    val capped = Dedup.minhashCandidates(template, shingleN = 3, k = 32,
      bands = 16, threshold = 0.2, maxBucketSize = 10)
    assert(capped.count() === 0,
      "every band bucket holds all 60 docs; a cap of 10 must drop them all")
  }

  test("ngram df cap: exact when non-binding, drops boilerplate pairs when binding") {
    import spark.implicits._
    val uncapped = Dedup.ngramJaccardStats(docs, 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val generous = Dedup.ngramJaccardStats(docs, 3, maxDf = 1000000).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(generous === uncapped, "generous df cap changed the statistics")
    // boilerplate corpus: one shared header shingle across every doc, plus
    // a unique tail per doc — df cap drops the header's pair mass
    val boiler = (0 until 30)
      .map(i => (i.toLong, "shared header line " + (0 until 5)
        .map(j => s"tail${i}_$j").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val full = Dedup.ngramJaccardStats(boiler, 3, blockCol = "source",
      simThreshold = 0.01).collect().head
    val cap = Dedup.ngramJaccardStats(boiler, 3, blockCol = "source",
      simThreshold = 0.01, maxDf = 10).collect().head
    assert(full.getAs[Long]("n_sim_pairs") === 30L * 29 / 2,
      "every pair shares the header shingles")
    assert(cap.getAs[Long]("n_sim_pairs") === 0,
      "df cap of 10 must drop the df=30 header shingles")
    assert(cap.getAs[Long]("n_pairs") === full.getAs[Long]("n_pairs"),
      "denominator (total pairs) must not change under the cap")
  }

  test("shipped default caps are non-binding on the documents fixture") {
    // The catalog entries ship with DefaultMaxDf / DefaultMaxBucketSize ON;
    // their DuckDB oracles are computed WITHOUT the caps, so this equality
    // (at the exact shipped parameters) is what keeps the oracles valid.
    val unEdges = Dedup.ngramSimilarPairs(docs, 3,
        blockCol = "source", minJaccard = 0.02)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val capEdges = Dedup.ngramSimilarPairs(docs, 3,
        blockCol = "source", minJaccard = 0.02, maxDf = Dedup.DefaultMaxDf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(capEdges === unEdges, "shipped df cap changed the fixture edges")
    val unLsh = Dedup.minhashCandidates(docs, shingleN = 3, k = 32,
        bands = 16, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capLsh = Dedup.minhashCandidates(docs, shingleN = 3, k = 32,
        bands = 16, threshold = 0.2,
        maxBucketSize = Dedup.DefaultMaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capLsh === unLsh, "shipped bucket cap changed the fixture pairs")
  }

  test("property: caps bound injected-boilerplate pair counts exactly") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      m   <- Gen.chooseNum(12, 30) // mega-cluster size (> cap)
      c   <- Gen.chooseNum(2, 6)   // surviving small cluster (<= cap)
      cap <- Gen.chooseNum(6, 10)  // injected cap, c <= cap < m
    } yield (m, c, cap)
    val cases = (0 until 5).map(i =>
      gen(Gen.Parameters.default, Seed(53L + i)).get)
    cases.foreach { case (m, c, cap) =>
      // LSH: m identical template docs co-bucket in EVERY band (the
      // mega-bucket); c identical docs of unrelated text form a second,
      // below-cap cluster. The model is exact: uncapped emits all
      // within-cluster pairs; the cap drops precisely the mega-cluster's.
      val rows = (0 until m).map(i =>
          (i.toLong, "spark shuffles the partitioned table rows")) ++
        (0 until c).map(i =>
          ((m + i).toLong, "ducks paddle across the quiet morning pond"))
      val lsh = rows.toDF("doc_id", "text")
      val unL = Dedup.minhashCandidates(lsh, shingleN = 3, k = 32,
        bands = 16, threshold = 0.0).count()
      assert(unL === (m.toLong * (m - 1) / 2 + c.toLong * (c - 1) / 2),
        s"uncapped LSH must emit both clusters' pairs (m=$m c=$c)")
      val capL = Dedup.minhashCandidates(lsh, shingleN = 3, k = 32,
        bands = 16, threshold = 0.0, maxBucketSize = cap).count()
      assert(capL === c.toLong * (c - 1) / 2,
        s"capped LSH must keep exactly the small cluster (m=$m c=$c cap=$cap)")
      // posting lists: m docs share one boilerplate header (df = m > cap)
      // with unique tails — uncapped materializes the full quadratic pair
      // mass; the df cap drops it entirely (tails share nothing).
      val boiler = (0 until m).map(i =>
          (i.toLong, s"shared header line tail${i}a tail${i}b tail${i}c", "b"))
        .toDF("doc_id", "text", "source")
      val unB = Dedup.ngramSimilarPairs(boiler, 3, blockCol = "source",
        minJaccard = 1e-9).count()
      assert(unB === m.toLong * (m - 1) / 2,
        s"uncapped posting lists must emit the boilerplate blowup (m=$m)")
      val capB = Dedup.ngramSimilarPairs(boiler, 3, blockCol = "source",
        minJaccard = 1e-9, maxDf = cap).count()
      assert(capB === 0L,
        s"df cap must drop the df=$m header shingles (cap=$cap)")
    }
  }

  test("prefix-filtered jaccard == posting-list form; boilerplate never enters candidates") {
    import spark.implicits._
    // lossless pruning: output identity with the UNCAPPED posting-list
    // form across thresholds (including one low enough to emit pairs and
    // one where float-ceil rounding would bite without the 1e-9 slack)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("block", "doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    for (tau <- Seq(0.05, 0.2, 0.5)) {
      val viaPrefix = keyed(Dedup.prefixJaccardPairs(docs, 3, "source", tau))
      val viaPostings = keyed(Dedup.ngramSimilarPairs(docs, 3, "source", tau))
      assert(viaPrefix === viaPostings, s"prefix form diverged at tau=$tau")
    }
    assert(keyed(Dedup.prefixJaccardPairs(docs, 3, "source", 0.05)).nonEmpty,
      "fixture should emit pairs at tau=0.05")
    // the skew story, exactly: m docs share a boilerplate header (df = m)
    // with unique tails. The posting-list expansion materializes all
    // m(m-1)/2 header pairs before any threshold applies; rarest-first
    // prefixes are filled by the unique (df=1) tail shingles, so at a
    // threshold the header pairs cannot reach, the prefix join admits
    // ZERO candidates — the hazard maxDf caps is handled losslessly.
    val m = 20
    val boiler = (0 until m).map(i =>
        (i.toLong, s"shared header line tail${i}a tail${i}b tail${i}c", "b"))
      .toDF("doc_id", "text", "source")
    val postingPairs = Dedup.ngramSimilarPairs(boiler, 3, "source",
      minJaccard = 1e-9).count()
    assert(postingPairs === m.toLong * (m - 1) / 2,
      "posting-list form materializes the boilerplate blowup")
    val prefixCands = Dedup.prefixJaccardCandidates(boiler, 3, "source",
      minJaccard = 0.5).count()
    assert(prefixCands === 0L,
      s"prefix filter admitted $prefixCands candidates from pure boilerplate")
    // and when the threshold IS low enough that header pairs qualify, the
    // prefix lengthens to cover them: no pair is lost
    val lowTau = keyed(Dedup.prefixJaccardPairs(boiler, 3, "source", 0.05))
    val lowTruth = keyed(Dedup.ngramSimilarPairs(boiler, 3, "source", 0.05))
    assert(lowTau === lowTruth && lowTau.size === m * (m - 1) / 2)
  }

  test("fuzzy cross-table join == brute-force bipartite jaccard; prefixes bound candidates") {
    import spark.implicits._
    val left = docs.filter(col("doc_id") < 100)
    val right = docs.filter(col("doc_id") >= 100)
    // brute truth: the full bipartite posting-list join, no prefix cut
    def brute(tau: Double) = {
      val sets = docs.select(col("doc_id"),
        graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("ng"))
      sets.filter(col("doc_id") < 100)
        .select(col("doc_id").as("left_id"), col("ng").as("na"))
        .crossJoin(sets.filter(col("doc_id") >= 100)
          .select(col("doc_id").as("right_id"), col("ng").as("nb")))
        .select(col("left_id"), col("right_id"),
          Dedup.jaccard(col("na"), col("nb")).as("jaccard"))
        .filter(col("jaccard") >= tau)
    }
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    for (tau <- Seq(0.02, 0.2, 0.5)) {
      val viaPrefix = keyed(Dedup.fuzzyJoin(left, right, 3, tau))
      val viaBrute = keyed(brute(tau))
      assert(viaPrefix === viaBrute, s"fuzzy join diverged at tau=$tau")
    }
    assert(keyed(Dedup.fuzzyJoin(left, right, 3, 0.02)).nonEmpty,
      "fixture should emit cross pairs at tau=0.02")
    // the bipartite boilerplate hazard: every left doc shares a header
    // with every right doc; at a threshold those pairs can't reach, the
    // common rarest-first order fills prefixes with unique tails and the
    // candidate stage admits ZERO — no m·k cross mass materializes
    val lb = (0 until 20).map(i =>
      (i.toLong, s"shared header line ltail${i}a ltail${i}b ltail${i}c"))
      .toDF("doc_id", "text")
    val rb = (0 until 20).map(i =>
      (100L + i, s"shared header line rtail${i}a rtail${i}b rtail${i}c"))
      .toDF("doc_id", "text")
    assert(Dedup.fuzzyJoinCandidates(lb, rb, 3, 0.5).count() === 0L)
    // and at a low threshold nothing is lost vs brute force
    val ls = lb.select(col("doc_id").as("left_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("na"))
    val rs = rb.select(col("doc_id").as("right_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("nb"))
    val bruteLow = ls.crossJoin(rs)
      .select(col("left_id"), col("right_id"),
        Dedup.jaccard(col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= 0.05)
    assert(keyed(Dedup.fuzzyJoin(lb, rb, 3, 0.05)) === keyed(bruteLow))
  }

  test("bulk simhashes match the column-expression simhash") {
    val bulk = Dedup.simhashes(docs, "source")
      .select("doc_id", "sh").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val colForm = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bulk === colForm)
  }

  test("bulk minhash signatures match the column-expression form") {
    val bulk = Dedup.minhashSignatures(docs, shingleN = 3, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val colForm = docs.select(col("doc_id"),
      minhashSignature(TextFunctions.shingleHashes(col("text"), 3), 16)
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bulk === colForm)
  }

  test("native MinHashSignature expression is bit-identical to the HOF form and codegen'd") {
    import graft.functions.expressions.TextExpressions
    val native = docs.select(col("doc_id"),
      TextExpressions.minhashSignatureNative(
        TextFunctions.shingleHashes(col("text"), 3), 16).as("sig"))
    val hof = docs.select(col("doc_id"),
      minhashSignature(TextFunctions.shingleHashes(col("text"), 3), 16)
        .as("sig"))
    val a = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
    // the empty-shingle sentinel matches too (doc shorter than n tokens)
    import spark.implicits._
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    val s = short.select(TextExpressions.minhashSignatureNative(
        TextFunctions.shingleHashes(col("text"), 3), 4))
      .collect().head.getSeq[Long](0)
    assert(s === Seq(-1L, -2L, -3L, -4L))
    // stays inside whole-stage codegen (the "*(n)" prefix on the Project)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("Project") && l.trim.startsWith("*(")),
      s"expression fell out of codegen:\n$plan")
  }

  test("native SignatureAgreement equals the zip_with form and stays in codegen") {
    import graft.functions.expressions.VectorExpressions
    val sigs = docs.select(col("doc_id"),
      minhashSignature(TextFunctions.shingleHashes(col("text"), 3), 16)
        .as("sig"))
    val pairs = sigs.as("a").crossJoin(sigs.limit(5).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
    val native = pairs.select(col("a.doc_id"), col("b.doc_id"),
      VectorExpressions.agreementNative(col("a.sig"), col("b.sig")).as("est"))
    val hof = pairs.select(col("a.doc_id"), col("b.doc_id"),
      (size(filter(
        zip_with(col("a.sig"), col("b.sig"), (x, y) => (x === y).cast("int")),
        v => v === 1)).cast("double") / lit(16.0)).as("est"))
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val a = native.collect().map(r => key(r) -> r.getDouble(2)).toMap
    val b = hof.collect().map(r => key(r) -> r.getDouble(2)).toMap
    assert(a === b)
    assert(a.nonEmpty)
    // degenerate widths: empty arrays estimate 0.0
    import spark.implicits._
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("x", "y")
      .select(VectorExpressions.agreementNative(col("x"), col("y")))
      .collect().head.getDouble(0)
    assert(empty === 0.0)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("Project") && l.trim.matches("^[:+\\- ]*\\*\\(\\d+\\).*")),
      s"expression fell out of codegen:\n$plan")
  }

  test("jaccard column function matches set semantics") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),  // 2/4
      (Seq("a"), Seq("a")),                      // 1/1
      (Seq.empty[String], Seq.empty[String]))    // 0 -> 0.0
      .toDF("x", "y")
    val got = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].collect()
    assert(got === Array(0.5, 1.0, 0.0))
  }

  test("containment is asymmetric: a quoted doc scores 1.0 inside its host") {
    import spark.implicits._
    val quoted = "alpha beta gamma delta epsilon"
    val host = quoted +
      " zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    val df = Seq((1L, quoted, "s"), (2L, host, "s"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairs(df, 3, "source", minContainment = 0.01)
      .collect()
      .map(r => (r.getAs[Long]("inner_doc"), r.getAs[Long]("outer_doc")) ->
        r.getAs[Double]("containment")).toMap
    // quoted: 5 words -> 3 trigrams, all inside host; host: 17 words -> 15
    assert(got((1L, 2L)) === 1.0)   // fully contained
    assert(got((2L, 1L)) === 3.0 / 15.0) // the host is NOT inside the quote
  }

  test("containmentPairs == brute-force directed definition on the corpus") {
    import spark.implicits._
    val tau = 0.1
    val withSets = docs.select(col("doc_id"), col("source"),
      Dedup.ngramSet(col("text"), 3).as("ng"))
    val p = withSets.as("a").join(withSets.as("b"),
        expr("a.source = b.source AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        size(array_intersect(col("a.ng"), col("b.ng"))).cast("double").as("i"),
        size(col("a.ng")).cast("double").as("sa"),
        size(col("b.ng")).cast("double").as("sb"))
      .filter(col("i") > 0)
    val ref = (p.select(col("da").as("in"), col("db").as("out"), (col("i") / col("sa")).as("c"))
        unionByName p.select(col("db").as("in"), col("da").as("out"), (col("i") / col("sb")).as("c")))
      .filter(col("c") >= tau)
      .as[(Long, Long, Double)].collect()
      .map { case (i, o, c) => (i, o, math.rint(c * 1e9)) }.toSet
    val got = Dedup.containmentPairs(docs, 3, "source", minContainment = tau)
      .select(col("inner_doc"), col("outer_doc"), col("containment"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, o, c) => (i, o, math.rint(c * 1e9)) }.toSet
    assert(got === ref)
    assert(got.nonEmpty, "fixture should produce at least one directed pair")
  }

  test("weightedJaccardPairs == multiset brute force; repetition shifts the score") {
    import spark.implicits._
    // independent reference path: STRING trigrams (not hashes), per-doc
    // counts, pairwise Σmin / Σmax via a join on the gram itself
    val counts = docs.select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0))," +
            " i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"))
          .as("gram"))
      .groupBy("doc_id", "source", "gram").agg(count(lit(1)).as("c"))
    val sz = counts.groupBy("doc_id").agg(sum("c").as("sz"))
    val ref = counts.as("a").join(counts.as("b"),
        expr("a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sz.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
      .select(col("da"), col("db"), (col("i").cast("double") /
        (col("sa") + col("sb") - col("i")).cast("double")).as("jw"))
      .filter(col("jw") >= 0.02)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, math.rint(j * 1e9)) }.toSet
    val got = Dedup.weightedJaccardPairs(docs, 3, "source", minSim = 0.02)
      .select(col("doc_a"), col("doc_b"), col("weighted_jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, math.rint(j * 1e9)) }.toSet
    assert(got === ref)
    assert(got.nonEmpty, "fixture should produce at least one weighted pair")
    // the cap is non-binding on the fixture: capped == uncapped exactly
    val capped = Dedup.weightedJaccardPairs(docs, 3, "source",
        minSim = 0.02, maxDf = Dedup.DefaultMaxDf)
      .select(col("doc_a"), col("doc_b"), col("weighted_jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, math.rint(j * 1e9)) }.toSet
    assert(capped === got)

    // THE property that motivates the multiset form: a paragraph pasted
    // 40x is set-identical to the single paragraph but weighted-distant
    val para = "alpha beta gamma delta epsilon zeta"
    val spam = Seq.fill(40)(para).mkString(" ")
    val two = Seq((1L, "s", para), (2L, "s", spam)).toDF("doc_id", "source", "text")
    val setJ = Dedup.ngramSimilarPairs(two, 3, "source", minJaccard = 0.0)
      .select("jaccard").as[Double].head()
    val wJ = Dedup.weightedJaccardPairs(two, 3, "source")
      .select("weighted_jaccard").as[Double].head()
    // set form: 4 shared trigrams vs 3 extra boundary trigrams → 4/7
    assert(setJ > 0.5, s"distinct sets largely identical, got $setJ")
    // multiset form: Σmin = 4 against a 238-gram multiset → ~0.017
    assert(wJ < 0.05, s"multiset must see the 40x repetition, got $wJ")
    assert(wJ < setJ / 10, s"weighted must be an order below set ($wJ vs $setJ)")
  }

  test("editDistancePairs == brute-force in the lossless regime") {
    import spark.implicits._
    // all strings >= q·(d+1) chars, so share-one-gram blocking is lossless
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = Seq(
      (1L, base, "s"),
      (2L, base.replace("quick", "quack"), "s"),          // 1 edit
      (3L, base.replace("jumps", "leaps").replace("dog", "cat"), "s"), // few edits
      (4L, "completely different text about spark catalyst plans and shuffles", "s"),
      (5L, base, "t")) // same text, different block: must NOT pair with 1
      .toDF("doc_id", "text", "source")
    for (d <- Seq(2, 10)) {
      val ref = df.as("a").join(df.as("b"),
          expr("a.source = b.source AND a.doc_id < b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text"), d).as("dist"))
        .filter(col("dist") >= 0)
        .as[(Long, Long, Int)].collect()
        .map { case (a, b, x) => (a, b, x.toLong) }.toSet
      val got = Dedup.editDistancePairs(df, maxDist = d, q = 4)
        .select(col("doc_a"), col("doc_b"), col("dist"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === ref, s"mismatch at d=$d")
    }
    // sanity on the shape of the d=2 answer itself
    val d2 = Dedup.editDistancePairs(df, maxDist = 2, q = 4)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    assert(d2 === Set((1L, 2L, 1L)))
  }

  test("editDistancePairs == banded brute-force on the fixture corpus") {
    import spark.implicits._
    val d = 60
    val eligible = docs.filter(length(col("text")) >= 12)
    val ref = eligible.as("a").join(eligible.as("b"),
        expr("a.source = b.source AND a.doc_id < b.doc_id") &&
          abs(length(col("a.text")) - length(col("b.text"))) <= d)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.text"), col("b.text"), d).as("dist"))
      .filter(col("dist") >= 0)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, x) => (a, b, x.toLong) }.toSet
    val got = Dedup.editDistancePairs(docs, maxDist = d, q = 12)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    // At ~300 chars the lossless bound len >= q·(d+1) = 732 does NOT hold
    // for d=60, so blocking may legitimately miss distant pairs (and does,
    // on this corpus) — the CONTRACT here is: no false positives, every
    // reported distance exact, and completeness among pairs that DO share
    // a q-gram (the stated candidate rule, which the DuckDB oracle replays).
    assert(got.subsetOf(ref), "a reported pair must be a true <=d pair")
    assert(got.nonEmpty, "fixture should contain near-dup pairs at d=60")
    val sharesGram = {
      val grams = eligible.select(col("doc_id"),
        explode(Dedup.charGramHashes(col("text"), 12)).as("g"))
      grams.as("a").join(grams.as("b"),
          expr("a.g = b.g AND a.doc_id < b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val reachable = ref.filter { case (a, b, _) => sharesGram((a, b)) }
    assert(got === reachable,
      "every true pair sharing a q-gram must be found, with exact distance")
  }

  test("editDistancePairs maxDf cap: identity above max df, prunes below") {
    import spark.implicits._
    val boiler = "X" * 20 // one shared 12-gram factory across every doc
    val df = (1L to 6L).map(i => (i, boiler + s" unique tail $i", "s"))
      .toDF("doc_id", "text", "source")
    val uncapped = Dedup.editDistancePairs(df, maxDist = 15, q = 12)
      .count()
    val generous = Dedup.editDistancePairs(df, maxDist = 15, q = 12,
      maxDf = 64).count()
    val strict = Dedup.editDistancePairs(df, maxDist = 15, q = 12,
      maxDf = 1).count()
    assert(uncapped === generous) // cap above every df: output identical
    assert(uncapped > 0)
    assert(strict === 0) // every shared gram is boilerplate: all capped away
  }

  test("charGramHashes: short strings yield empty arrays, not errors") {
    import spark.implicits._
    val got = Seq("ab", "abcd", "abcde").toDF("text")
      .select(size(Dedup.charGramHashes(col("text"), 4)).as("n"))
      .as[Int].collect()
    assert(got === Array(0, 1, 2))
  }

  test("charGramHashes kernel is bit-exact vs the interpreted replay, in codegen") {
    import spark.implicits._
    // multibyte text exercises the char-boundary scan: é/ß are 2 bytes,
    // 文 is 3 — a byte-offset bug would hash wrong ranges silently
    val texts = Seq("plain ascii text here", "caffé ünïcodé ß tæst",
      "短文 with 中文字符 mixed in", "aaaa", "")
    val df = texts.toDF("text")
    def canon(c: org.apache.spark.sql.Column) =
      df.select(sort_array(c).as("a")).as[Seq[Long]].collect().toSeq
    for (q <- Seq(3, 12)) {
      val interpreted = when(length(col("text")) >= q,
        array_distinct(transform(
          sequence(lit(1), length(col("text")) - lit(q - 1)),
          i => xxhash64(col("text").substr(i, lit(q))))))
        .otherwise(array().cast("array<bigint>"))
      assert(canon(Dedup.charGramHashes(col("text"), q)) ===
        canon(interpreted), s"native != interpreted at q=$q")
    }
    // a local Seq collapses to LocalTableScan; the parquet-backed corpus
    // scan is the real codegen surface
    val plan = docs.select(Dedup.charGramHashes(col("text"), 4))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("char_gram_hashes") && l.trim.startsWith("*(")),
      s"expression fell out of codegen:\n$plan")
  }

  test("lshBandKeys rejects band counts that do not divide k") {
    // bands > k would hash ZERO lanes per band — one global bucket and the
    // full n² blowup; a non-divisor silently ignores trailing lanes
    intercept[IllegalArgumentException] { Dedup.lshBandKeys(col("s"), 32, 33) }
    intercept[IllegalArgumentException] { Dedup.lshBandKeys(col("s"), 32, 5) }
    intercept[IllegalArgumentException] { Dedup.lshBandKeys(col("s"), 32, 0) }
    Dedup.lshBandKeys(col("s"), 32, 16) // divisor: fine
  }
}
