package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, public paper) — the
  * memory-compression tier of the ANN stack, next to the recall/cost tiers
  * ([[Similarity.lshTopK]], [[Similarity.ivfTopK]]):
  *
  *  - the vector is split into `m` subspaces; each subspace gets its own
  *    `k`-entry codebook (k-means over subvectors), so a vector stores as
  *    `m` byte codes — 64-dim float32 (256 B) → 8-16 B, 16-32×;
  *  - search is asymmetric distance computation (ADC): the query stays
  *    exact, builds one m·k lookup table, and every corpus CODE scores in
  *    `m` float adds — no decode, no multiply, and the scan streams codes,
  *    not vectors;
  *  - survivors re-rank on TRUE cosine over the full vectors (an id-keyed
  *    join touching only candidate-sized data), so the lossy tier decides
  *    CANDIDACY, never the final ordering.
  *
  * At 100 TB this is the difference between an embedding index held in
  * executor memory (codes) and one that re-reads the corpus per query
  * batch: the ADC pass is a narrow scan of |corpus|·m bytes with the
  * queries broadcast. All per-vector kernels are fused codegen'd
  * expressions ([[graft.functions.expressions.PqEncode]] /
  * [[expressions.PqLookupTable]] / [[expressions.PqAdcScore]]).
  *
  * Training mirrors [[Similarity.ivfCentroids]]: deterministic hash-ordered
  * seeds, Lloyd rounds with the assignment pass running the codegen'd
  * encoder itself, sampled above `maxTrainRows`, and the model
  * (m × k × dim/m floats) is genuinely driver-sized — never a collect of
  * data rows. Vectors are L2-normalized inside the kernels, so
  * `ADC score ≈ cos(query, vector)` directly.
  */
object Pq {

  /** Per-subspace k-means codebooks: `m` subspaces × `k` entries ×
    * `dim/m` floats. `dim` must divide evenly by `m` (PQ's usual
    * constraint); ragged input vectors surface as NULL codes at encode
    * time, not silent truncation here. Seeds are the `k` vectors with the
    * smallest xxhash64(id) — deterministic and scan-local — normalized and
    * sliced per subspace. Each Lloyd round runs ONE codegen'd assignment
    * pass (the [[graft.functions.expressions.PqEncode]] expression itself,
    * covering all m subspaces at once) and ONE (subspace, code, dim)
    * aggregation whose result is model-sized (m·k·subDim rows). */
  def trainCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int = 3,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxTrainRows: Long = 200000L): Array[Array[Array[Float]]] = {
    requireShape(m, k)
    trainCodebooksOn(
      Similarity.trainingSample(corpus, idCol, vecCol, maxTrainRows),
      m, k, iters, idCol, vecCol)
  }

  /** Codebook shape check, run before any corpus job. */
  private def requireShape(m: Int, k: Int): Unit =
    require(m >= 1 && k >= 2 && k <= 256,
      s"PQ shape out of range: m=$m k=$k (k in [2, 256])")

  /** Lloyd iterations over an already-sampled training frame
    * ([[Similarity.trainingSample]]) — the split lets
    * [[writeIvfPqIndex]] feed the IVF trainer and the PQ trainer from ONE
    * materialized sample instead of each running its own count + seed +
    * per-round corpus scans. Value-identical to the pre-split form. */
  private[functions] def trainCodebooksOn(train: DataFrame, m: Int, k: Int,
                                          iters: Int, idCol: String,
                                          vecCol: String): Array[Array[Array[Float]]] = {
    val seedRows = train
      .select(col(vecCol).as("v"), xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seedRows.length >= k,
      s"need at least k=$k training vectors (got ${seedRows.length})")
    val dim = seedRows(0).length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val subDim = dim / m
    def normalized(v: Array[Double]): Array[Double] = {
      val n2 = v.foldLeft(0.0)((a, x) => a + x * x)
      if (n2 > 0.0) v.map(_ / math.sqrt(n2)) else v
    }
    var cents: Array[Array[Array[Float]]] = Array.tabulate(m, k) { (s, c) =>
      normalized(seedRows(c)).slice(s * subDim, (s + 1) * subDim).map(_.toFloat)
    }
    val nrm2 = aggregate(
      transform(col(vecCol), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    for (_ <- 0 until iters) {
      val enc = train.select(
        col(vecCol).as("__v"),
        when(nrm2 > 0, lit(1.0) / sqrt(nrm2)).otherwise(lit(0.0)).as("__inv"),
        graft.functions.expressions.PqExpressions
          .encodeNative(col(vecCol), cents).as("__codes"))
      val upd = enc
        .filter(col("__codes").isNotNull) // ragged vectors sit out training
        .select(col("__codes"), col("__inv"),
          posexplode(col("__v")).as(Seq("i", "x")))
        .select(
          (col("i") / subDim).cast("int").as("s"),
          (col("i") % subDim).cast("int").as("d"),
          pmod(element_at(col("__codes"),
            (col("i") / subDim).cast("int") + 1).cast("int"), lit(256)).as("c"),
          (col("x").cast("double") * col("__inv")).as("nx"))
        .groupBy(col("s"), col("c"), col("d"))
        .agg(avg(col("nx")).as("mean"))
        .collect() // m·k·subDim rows max — the model, not the data
      val next = Array.tabulate(m, k)((s, c) => cents(s)(c).clone())
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      cents = next
    }
    cents
  }

  /** (idCol → `neighbor_id`, `codes: array<tinyint>`) — one narrow
    * codegen'd pass; this is the persistable artifact (m bytes/vector). */
  def encode(corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      graft.functions.expressions.PqExpressions
        .encodeNative(col(vecCol), codebooks).as("codes"))

  /** ADC approximate cosine of a code column against a LUT column. */
  def adcScore(codes: Column, lut: Column): Column =
    graft.functions.expressions.PqExpressions.adcScoreNative(codes, lut)

  /** ANN top-k via PQ/ADC with exact re-rank. Plan shape: train (model on
    * the driver) → encode the corpus (narrow codegen pass) → broadcast the
    * queries WITH their lookup tables → ADC-score every (query, code) pair
    * in m adds each → keep the top `rerank` candidates per query (keyed
    * window over scored pairs) → re-join those candidate ids to the full
    * vectors (candidate-sized, id-keyed) → exact cosine → final top-k.
    * Output schema matches the other ANN ops: (query_id, neighbor_id,
    * cos_sim, rank), self-pairs excluded (the ID-SPACE CONTRACT of
    * [[Similarity.bruteForceTopK]]). Recall < 1 by design — measured in
    * PqSpec against brute force with a ≥0.8 gate at catalog parameters;
    * raise `rerank` (candidate depth) or `k` codes per subspace for
    * recall, lower `m` for smaller codes. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 16, kCodes: Int = 32, iters: Int = 3,
             rerank: Int = 50,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             maxTrainRows: Long = 200000L): DataFrame = {
    require(rerank >= k, s"rerank depth must be >= k (got $rerank < $k)")
    val cb = trainCodebooks(corpus, m, kCodes, iters, idCol, vecCol, maxTrainRows)
    val codes = encode(corpus, cb, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.expressions.PqExpressions
        .lookupTableNative(col(vecCol), cb).as("lut"))
    val adc = codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(col("codes"), col("lut")).as("adc"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val cand = adc.withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // IVF + PQ: the fused production index (FAISS's IVFPQ shape) — the
  // coarse quantizer prunes WHICH lists a query reads (Hive partition
  // pruning on cid=), PQ codes compress WHAT each list stores (m bytes
  // per vector), ADC scores the survivors, and an id-keyed re-rank
  // against the source table restores exact ordering. At 100 TB this is
  // the only tier whose index both fits (16× compression) and prunes
  // (nProbe/nLists of the bytes per query batch). Codebooks here are
  // GLOBAL (non-residual) — vectors are L2-normalized inside the PQ
  // kernels, which residuals would break; the residual upgrade buys
  // finer cells at the cost of a per-list codebook model.
  // ------------------------------------------------------------------

  /** Layout: `path/centroids` (the IVF coarse model, shared loader with
    * [[Similarity.writeIvfIndex]]), `path/codebooks` (the PQ model,
    * m·k·subDim floats), `path/vectors/cid=<list>/` holding ONLY
    * `(neighbor_id, codes)` — m bytes per vector; the source of truth
    * stays in the lake and re-rank joins back to it by id. */
  def writeIvfPqIndex(corpus: DataFrame, path: String, nLists: Int = 16,
                      m: Int = 16, kCodes: Int = 32, ivfIters: Int = 2,
                      pqIters: Int = 3, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      maxTrainRows: Long = 200000L,
                      updateCatalog: Boolean = true): Unit = {
    requireShape(m, kCodes)
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE sampled, materialized training frame feeds BOTH trainers: the
    // IVF trainer and the PQ trainer used to each run their own count()
    // + seed pass + per-Lloyd-round scans over the same corpus (guide §5
    // reuse-beats-recompute; §1.2 step 1 — fewer passes). Identical
    // sampling semantics, so both models are value-identical to separate
    // ivfCentroids/trainCodebooks calls (PqSpec pins this).
    val train = Similarity.trainingSample(corpus, idCol, vecCol, maxTrainRows)
    val cents = Similarity.ivfCentroidsOn(train, nLists, ivfIters, idCol,
      vecCol)
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val cb = trainCodebooksOn(train, m, kCodes, pqIters, idCol, vecCol)
    cb.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("s", "c", "vals")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    // base build is generation −1; appends sub-partition by their own gen
    // (idempotent retries — see [[appendToIvfPqIndex]])
    encodedLists(corpus, cents, cb, idCol, vecCol)
      .withColumn("gen", lit(-1L))
      .write.mode("overwrite").partitionBy("cid", "gen")
      .parquet(s"$path/vectors")
    // self-describe at the index root (see Similarity.writeIvfIndex)
    if (updateCatalog)
      graft.plans.GraftCatalog.describeArtifact(spark, path, "ivfpq-index",
        Map("nLists" -> nLists.toString, "m" -> m.toString,
          "kCodes" -> kCodes.toString, "idCol" -> idCol,
          "vecCol" -> vecCol))
  }

  private[functions] def readCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("s", "c").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Float]](m, k)
    rows.foreach(r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    cb
  }

  /** (cid, neighbor_id, codes) — one assignment pass + one encode pass,
    * both codegen'd; shared by build and append so an appended vector
    * lands exactly where a rebuild with the same models would put it. */
  private def encodedLists(vectors: DataFrame, cents: Array[Array[Double]],
                           cb: Array[Array[Array[Float]]],
                           idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("neighbor_id"),
      graft.functions.expressions.PqExpressions
        .encodeNative(col(vecCol), cb).as("codes"),
      Similarity.assignStruct(col(vecCol), cents).getField("c").as("cid"))

  /** Incremental growth: assign + encode the delta under the PERSISTED
    * models, landing inside `cid=<list>/gen=<g>/` sub-partitions — cost
    * ∝ delta, the same append-only story as
    * [[Similarity.appendToIvfIndex]], with the same idempotence: an
    * EXPLICIT `gen` (e.g. a streaming batchId) dynamic-overwrites its own
    * generation, so a replayed ingest converges instead of
    * double-appending; the default (−1) assigns max-existing + 1. */
  def appendToIvfPqIndex(newVectors: DataFrame, path: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         gen: Long = -1L): Unit = {
    val spark = newVectors.sparkSession
    val cents = Similarity.readCentroids(spark, path)
    val cb = readCodebooks(spark, path)
    val g =
      if (gen >= 0) gen
      else spark.read.parquet(s"$path/vectors")
        .agg(max(col("gen").cast("long"))).head().getLong(0) + 1L
    encodedLists(newVectors, cents, cb, idCol, vecCol)
      .withColumn("gen", lit(g))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid", "gen")
      .parquet(s"$path/vectors")
  }

  /** ANN top-k against a [[writeIvfPqIndex]] layout. Plan shape: probe
    * ids resolve driver-side (model-sized) and push into the scan as a
    * partition filter — only probed `cid=` dirs are read, and what they
    * hold is m-byte codes, not vectors; queries broadcast WITH their ADC
    * lookup tables and score only their OWN probed lists (cid equi-join,
    * never all-pairs); the per-query top-`rerank` survivors come from the
    * bounded-heap aggregate (k rows per query per map task cross the
    * wire, no sort of the scored stream); re-rank joins candidate ids to
    * `corpus` (the source of truth — candidate-sized, id-keyed) for exact
    * cosine. Output schema matches the other ANN ops: (query_id,
    * neighbor_id, cos_sim, rank), self-pairs excluded. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, corpus: DataFrame,
                       k: Int, nProbe: Int = 4, rerank: Int = 50,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank depth must be >= k (got $rerank < $k)")
    val cents = Similarity.readCentroids(spark, path)
    require(nProbe >= 1 && nProbe <= cents.length,
      s"nProbe must be in [1, nLists] (got $nProbe of ${cents.length})")
    val cb = readCodebooks(spark, path)
    val probes = Similarity.probeLists(queries, cents, nProbe, idCol, vecCol)
      .select(col("query_id"), col("cid"),
        graft.functions.expressions.PqExpressions
          .lookupTableNative(col("qv"), cb).as("lut"))
    val probed = probes.select("cid").distinct().collect().map(_.getInt(0))
    val lists = spark.read.parquet(s"$path/vectors")
      .filter(col("cid").isin(probed.map(Int.box): _*))
    val adc = lists.join(broadcast(probes),
        lists("cid") === probes("cid") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(col("codes"), col("lut")).as("adc"))
    val cand = graft.operators.TopK.topKPerGroup(adc, Seq("query_id"),
        ordCols = Seq(col("adc"), -col("neighbor_id")),
        payload = Seq(col("neighbor_id")), k = rerank)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineFast(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
