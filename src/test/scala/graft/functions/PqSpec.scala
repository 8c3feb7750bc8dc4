package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfTiny).cache()
  private val K = 5
  private lazy val queries = emb.filter(col("vec_id") < 20)

  // catalog parameters (embed_ann_pq): 64-dim → 16 subspaces × 32 codes
  private val M = 16
  private val KCodes = 32
  private lazy val cb = Pq.trainCodebooks(emb, m = M, k = KCodes, iters = 3)

  /** What a trained model assigns to the corpus: the PQ codes of every
    * vector under a codebook set, the inverted list of every vector under
    * a centroid set. Two trainings agree when these agree exactly; float
    * bits of the models themselves may differ in the last place with the
    * order partial sums are added in. */
  private def codesOf(books: Array[Array[Array[Float]]]): Map[Long, Seq[Byte]] =
    Pq.encode(emb, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
  private def listsOf(cents: Array[Array[Double]]): Map[Long, Any] =
    Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap

  test("codebooks are model-sized, rectangular, and deterministic") {
    assert(cb.length === M)
    assert(cb.forall(_.length === KCodes))
    assert(cb.forall(_.forall(_.length === 64 / M)))
    val again = Pq.trainCodebooks(emb, m = M, k = KCodes, iters = 3)
    assert(codesOf(again) === codesOf(cb),
      "retraining on the same data must assign the same codes")
  }

  test("encode: m byte codes per vector, in range, deterministic") {
    val codes = Pq.encode(emb, cb).cache()
    assert(codes.count() === emb.count())
    val rows = codes.collect()
    rows.foreach { r =>
      val cs = r.getSeq[Byte](1)
      assert(cs.length === M)
      cs.foreach(c => assert((c & 0xFF) < KCodes,
        s"code ${c & 0xFF} outside [0, $KCodes)"))
    }
    val again = Pq.encode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getSeq[Byte](1)))
  }

  test("ADC score == driver-side replay of the LUT arithmetic, bit-exactly") {
    import graft.functions.expressions.PqExpressions
    val scored = Pq.encode(emb, cb)
      .crossJoin(broadcast(queries.limit(3).select(
        col("vec_id").as("query_id"),
        PqExpressions.lookupTableNative(col("embedding"), cb).as("lut"))))
      .select(col("query_id"), col("neighbor_id"), col("codes"), col("lut"),
        Pq.adcScore(col("codes"), col("lut")).as("adc"))
      .collect()
    assert(scored.nonEmpty)
    scored.foreach { r =>
      val codes = r.getSeq[Byte](2)
      val lut = r.getSeq[Float](3)
      val k = lut.length / codes.length
      // the expression's contract: Σ_s lut[s·k + (codes[s] & 0xFF)] in
      // left-to-right double accumulation
      var expect = 0.0
      codes.indices.foreach(s => expect += lut(s * k + (codes(s) & 0xFF)))
      assert(r.getDouble(4) === expect,
        s"ADC mismatch for pair (${r.get(0)}, ${r.get(1)})")
    }
  }

  test("ADC approximates cosine: mean |adc - cos| is small on real vectors") {
    import graft.functions.expressions.PqExpressions
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      PqExpressions.lookupTableNative(col("embedding"), cb).as("lut"))
    val err = Pq.encode(emb, cb)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        "neighbor_id")
      .crossJoin(broadcast(q))
      .select(abs(Pq.adcScore(col("codes"), col("lut")) -
        Similarity.cosineFast(col("qv"), col("cv"))).as("e"))
      .agg(avg("e"), max("e")).head()
    info(f"ADC |err| mean=${err.getDouble(0)}%.4f max=${err.getDouble(1)}%.4f")
    // 16 subspaces × 32 codes on 64-dim: quantization error well under the
    // gap ADC needs to resolve before the exact re-rank fixes ordering
    assert(err.getDouble(0) < 0.15, "mean ADC error too large")
  }

  test("dim-mismatch vectors yield NULL codes and NULL LUTs, never garbage") {
    import spark.implicits._
    import graft.functions.expressions.PqExpressions
    val bad = Seq((1L, Seq.fill(63)(0.5f)), (2L, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val out = bad.select(col("vec_id"),
      PqExpressions.encodeNative(col("embedding"), cb).as("codes"),
      PqExpressions.lookupTableNative(col("embedding"), cb).as("lut"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) === ((true, true)), "63-dim vector must surface as NULL")
    assert(out(2L) === ((false, false)))
  }

  test("mismatched code/LUT widths score NULL (corrupt artifacts surface)") {
    import spark.implicits._
    val df = Seq(
      (Seq(0.toByte, 1.toByte, 2.toByte), Seq.fill(7)(0.5f)), // 7 % 3 != 0
      (Seq(0.toByte, 1.toByte), Seq.fill(8)(0.5f))            // ok: k=4
    ).toDF("codes", "lut")
    val got = df.select(Pq.adcScore(col("codes"), col("lut"))).collect()
    assert(got(0).isNullAt(0))
    assert(!got(1).isNullAt(0))
  }

  test("PQ ANN recall >= 0.8 vs brute force at catalog parameters") {
    val exact = Similarity.bruteForceTopK(emb, queries, K)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Pq.pqTopK(emb, queries, K, m = M, kCodes = KCodes,
        iters = 3, rerank = 30)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx).toDouble / exact.size
    info(f"PQ/ADC recall@$K = $recall%.3f")
    assert(recall >= 0.8, f"PQ recall $recall%.3f < 0.8")
  }

  test("IVF-PQ build: the shared training sample trains the SAME models " +
      "as standalone ivfCentroids/trainCodebooks calls") {
    // writeIvfPqIndex now materializes ONE training sample feeding both
    // trainers (one corpus pass instead of two count+seed+Lloyd pipelines);
    // the persisted models must assign the corpus exactly as the models
    // the standalone trainer entry points produce on the same corpus
    val path = s"$outRoot/test-out/ivfpq/fused-train"
    Pq.writeIvfPqIndex(emb, path, nLists = 8, m = M, kCodes = KCodes)
    val gotCents = Similarity.readCentroids(spark, path)
    val wantCents = Similarity.ivfCentroids(emb, nLists = 8, iters = 2)
    assert(gotCents.length === wantCents.length)
    assert(listsOf(gotCents) === listsOf(wantCents),
      "fused-build centroids assign other lists than standalone ivfCentroids")
    val gotCb = Pq.readCodebooks(spark, path)
    val wantCb = Pq.trainCodebooks(emb, m = M, k = KCodes, iters = 3)
    assert(gotCb.length === wantCb.length)
    assert(codesOf(gotCb) === codesOf(wantCb),
      "fused-build codebooks assign other codes than standalone trainCodebooks")
  }

  test("IVF-PQ index: probe-all + deep re-rank == brute force exactly") {
    val path = s"$outRoot/test-out/ivfpq/exact"
    val n = emb.count().toInt
    Pq.writeIvfPqIndex(emb, path, nLists = 8, m = M, kCodes = KCodes)
    // with every list probed and a rerank depth covering the corpus, the
    // lossy tiers decide nothing — output must equal brute force
    val got = Pq.searchIvfPqIndex(spark, path, queries, emb, K,
        nProbe = 8, rerank = n)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Similarity.bruteForceTopK(emb, queries, K)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === want)
  }

  test("IVF-PQ recall >= 0.8 at catalog parameters; scan prunes to probed lists") {
    val path = s"$outRoot/test-out/ivfpq/recall"
    Pq.writeIvfPqIndex(emb, path, nLists = 16, m = M, kCodes = KCodes,
      ivfIters = 3)
    val res = Pq.searchIvfPqIndex(spark, path, queries, emb, K,
      nProbe = 8, rerank = 50)
    val exact = Similarity.bruteForceTopK(emb, queries, K)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = res.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx).toDouble / exact.size
    info(f"IVF-PQ recall@$K = $recall%.3f (nProbe=8/16)")
    assert(recall >= 0.8, f"IVF-PQ recall $recall%.3f < 0.8")
    // the probed read touches at most nProbe * |queries| distinct lists —
    // with a single-query probe, the scan's file list prunes
    val one = Pq.searchIvfPqIndex(spark, path, queries.limit(1), emb, K,
      nProbe = 4, rerank = 50)
    one.collect()
    val scans = one.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Scan parquet")).mkString("\n")
    assert(scans.contains("cid"), s"no partition-pruned index scan:\n$scans")
    // index stores codes, never vectors: the layout's row width is m bytes
    // (cid/gen are partition values, not data)
    val idx = spark.read.parquet(s"$path/vectors")
    assert(idx.columns.sorted.toSeq === Seq("cid", "codes", "gen", "neighbor_id"))
  }

  test("IVF-PQ append: delta lands in its lists; search == rebuild with same models") {
    val path = s"$outRoot/test-out/ivfpq/append"
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    Pq.writeIvfPqIndex(base, path, nLists = 8, m = M, kCodes = KCodes)
    Pq.appendToIvfPqIndex(delta, path, gen = 7L)
    // probe-all + full-depth re-rank after append == brute force over ALL
    val n = emb.count().toInt
    val got = Pq.searchIvfPqIndex(spark, path, queries, emb, K,
        nProbe = 8, rerank = n)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(emb, queries, K)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want,
      "appended vectors must be indistinguishable from a fresh build")
    // a REPLAYED generation overwrites its own partitions, never doubles
    val rows = spark.read.parquet(s"$path/vectors").count()
    Pq.appendToIvfPqIndex(delta, path, gen = 7L)
    assert(spark.read.parquet(s"$path/vectors").count() === rows,
      "replaying an append generation must be a no-op")
    // the default gen lands in a FRESH partition after 7
    Pq.appendToIvfPqIndex(delta.limit(3), path)
    val gens = spark.read.parquet(s"$path/vectors")
      .select(col("gen").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(gens === Set(-1L, 7L, 8L), s"unexpected generations: $gens")
  }

  test("re-ranked output carries TRUE cosine and k ranked rows per query") {
    val topk = Pq.pqTopK(emb, queries, K, m = M, kCodes = KCodes,
      iters = 3, rerank = 30).cache()
    val perQuery = topk.groupBy("query_id").count().collect()
    assert(perQuery.length === queries.count())
    perQuery.foreach(r => assert(r.getLong(1) === K))
    // cos_sim must be the exact cosine, not the ADC approximation: join
    // back to the vectors and recompute
    val qv = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cv = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val bad = topk.join(qv, "query_id").join(cv, "neighbor_id")
      .filter(abs(col("cos_sim") -
        Similarity.cosineFast(col("qv"), col("cv"))) > 1e-12)
    assert(bad.count() === 0, "cos_sim in the output must be exact")
  }

  test("an out-of-range PQ shape fails before any corpus job runs") {
    // evaluating this corpus throws; the shape check must surface first
    val boom = udf { (_: Long) =>
      throw new IllegalStateException("corpus evaluated"); true }
    val corpus = spark.range(4)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
      .filter(boom(col("vec_id")))
    val viaTrain = intercept[IllegalArgumentException] {
      Pq.trainCodebooks(corpus, m = 1, k = 1)
    }
    assert(viaTrain.getMessage.contains("PQ shape out of range"))
    val viaIndex = intercept[IllegalArgumentException] {
      Pq.writeIvfPqIndex(corpus, "target/test-out/ivfpq/bad-shape",
        m = 1, kCodes = 1)
    }
    assert(viaIndex.getMessage.contains("PQ shape out of range"))
  }
}
