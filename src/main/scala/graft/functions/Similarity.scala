package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *  - brute-force cosine top-k — the exact baseline; queries are broadcast,
  *    so the corpus side streams through scan-local with no shuffle of the
  *    big table (this is the shape that survives 100 TB: cost is
  *    |corpus| × |queries|, never corpus × corpus);
  *  - random-hyperplane LSH bucketing — the scale path: corpus and queries
  *    hash to sign-pattern buckets, candidates are bucket-local.
  * Hot paths run codegen'd: the pairwise scorer through a native Catalyst
  * expression ([[cosineFast]]), bucket computation through explode +
  * hash-aggregation. SimilaritySpec checks both against interpreted
  * zip_with/aggregate reference forms.
  */
object Similarity {

  /** Codegen'd cosine (native Catalyst expression, bit-identical to the
    * `zip_with`/`aggregate` form SimilaritySpec checks it against; 0.0 for
    * a zero-norm input) — used by the pairwise scorers, where the
    * similarity is the |corpus|·|queries| inner loop and interpreted HOFs
    * dominate. */
  def cosineFast(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosineNative(a, b)

  /** Exact top-k neighbours for each query vector. `queries` must be small
    * (it is broadcast); ties break on corpus id for determinism. Top-k per
    * query uses a keyed window — shuffles only the (query × corpus) scored
    * pairs, already filtered to k by partial sort within partitions.
    *
    * ID-SPACE CONTRACT (also [[lshTopK]]/[[ivfTopK]]/[[searchIvfIndex]]):
    * pairs with `query_id == neighbor_id` are excluded — the self-search
    * convention, where queries are drawn from the corpus and a vector must
    * not be its own best neighbour. If `queries` is an UNRELATED table
    * whose ids happen to overlap the corpus's, re-id one side first
    * (e.g. negate or offset the query ids) or a true neighbour with a
    * coincidentally equal id silently drops out of that query's top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** EXACT cosine-threshold self-join (embedding near-duplicate pairs)
    * without a nested-loop join: the block-partitioned pairwise shape
    * (distributed-GEMM). Every vector is hashed into one of `nBlocks`
    * blocks; the left side replicates each vector to block-pair keys
    * (blk, j) for j ≥ blk, the right side to (j, blk) for j ≤ blk, and the
    * join is a plain EQUI-join on the pair key — so each unordered block
    * pair (lo, hi) becomes one join group holding only blocks lo and hi,
    * and each vector pair is enumerated exactly once (same-block pairs are
    * ordered by id inside the diagonal groups).
    *
    * Why this shape and not LSH candidates: an exact threshold join on
    * DENSE embeddings has no sub-quadratic candidate generation — measured
    * on the fixtures, the pair-cosine mass is continuous through any
    * threshold (at τ=0.4 the closest pairs straddle it by ±0.0006), so any
    * LSH family misses boundary pairs with probability bounded away from 0
    * unless the table count grows into the hundreds. The n²/2 scoring work
    * is inherent to EXACT output; what scale engineering can fix is the
    * plan: this form distributes that work over nBlocks·(nBlocks+1)/2
    * independent tasks with bounded per-task memory (2·|n|/nBlocks
    * vectors), shuffles ~|n|·nBlocks/2 rows per side (never a broadcast of
    * the corpus), and keeps the codegen'd scorer as the per-pair cost. Size
    * `nBlocks` so a block fits comfortably in one task (~n/nBlocks
    * vectors). For approximate near-dup at realistic thresholds (≥ 0.8,
    * where hyperplane collision probability is high), use the LSH
    * machinery ([[lshTopK]]) and accept measured recall instead.
    */
  def cosineThresholdPairs(vectors: DataFrame, threshold: Double,
                           nBlocks: Int = 16,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(nBlocks >= 1, s"nBlocks must be >= 1 (got $nBlocks)")
    val base = vectors.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      pmod(xxhash64(col(idCol)), lit(nBlocks.toLong)).cast("int").as("__blk"))
    val left = base.select(col("__id").as("id_a"), col("__v").as("va"),
      col("__blk").as("lo"),
      explode(sequence(col("__blk"), lit(nBlocks - 1))).as("hi"))
    val right = base.select(col("__id").as("id_b"), col("__v").as("vb"),
      col("__blk").as("hi_r"),
      explode(sequence(lit(0), col("__blk"))).as("lo_r"))
    left.join(right,
        col("lo") === col("lo_r") && col("hi") === col("hi_r") &&
          (col("lo") =!= col("hi") || col("id_a") < col("id_b")))
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        cosineFast(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding-space benchmark decontamination — the semantic sibling of
    * [[graft.functions.CorpusOps.contaminated]]: flag corpus vectors whose
    * cosine against ANY benchmark vector reaches `threshold` (a paraphrased
    * test item shares no n-gram but sits next to its source in embedding
    * space). The benchmark is test-set-sized, so it BROADCASTS and the
    * corpus is scanned ONCE: per-row work is |bench|·dim inside whole-stage
    * codegen (the native cosine), the per-doc max is a map-side partial
    * aggregate, and the only exchange carries one row per contaminated doc.
    * No corpus self-join, no LSH recall question — exact by construction. */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
    val b = benchmark.select(col(vecCol).as("__bv"))
    c.crossJoin(broadcast(b))
      .select(col(idCol), cosineFast(col("__cv"), col("__bv")).as("__cs"))
      .groupBy(col(idCol))
      .agg(max(col("__cs")).as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public paper): cluster embeddings with spherical
    * k-means, then drop near-duplicates WITHIN each cluster only. Cosine
    * comparisons never cross cluster boundaries, so the pairwise cost is
    * Σ|cluster|² instead of |n|² — the knob is `nLists` (size clusters to
    * fit a task; a skewed cluster can further sub-block via the
    * [[cosineThresholdPairs]] trick). Recall loss at cluster boundaries is
    * the method's documented trade, not a bug.
    *
    * Keep policy: within a cluster, a vector is dropped iff SOME lower-id
    * vector of the same cluster has cosine ≥ threshold (dominated-by-
    * lower-id — one equi-join on cid, no iteration). Deterministic; the
    * paper's keep-farthest-from-centroid variant would be the same join
    * with a different tiebreak key.
    *
    * Returns every input id with its cluster, centroid cosine, and a
    * `kept` flag — callers filter `kept` for the surviving corpus or
    * aggregate the flag for dedup-rate stats.
    */
  def semanticDedup(vectors: DataFrame, threshold: Double, nLists: Int = 16,
                    iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(vectors, nLists, iters, idCol, vecCol)
    val assigned = vectors
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        assignStruct(col(vecCol), cents).as("m"))
      .select(col("__id"), col("__v"),
        col("m.c").as("cid"), col("m.cos").as("cent_cos"))
    val a = assigned.select(col("cid").as("cid_a"), col("__id").as("id_a"),
      col("__v").as("va"))
    val b = assigned.select(col("cid").as("cid_b"), col("__id").as("id_b"),
      col("__v").as("vb"))
    val dropped = a.join(b,
        col("cid_a") === col("cid_b") && col("id_a") < col("id_b"))
      .filter(cosineFast(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("__drop")).distinct()
    assigned.join(dropped, col("__id") === col("__drop"), "left")
      .select(col("__id").as(idCol), col("cid"),
        round(col("cent_cos"), 6).as("cent_cos"),
        col("__drop").isNull.as("kept"))
  }

  // --- random-hyperplane LSH ------------------------------------------------

  /** Bulk bucket computation: posexplode the vector once, evaluate every
    * (table, plane) dot product as a codegen'd conditional sum in ONE hash
    * aggregation (map-side partial agg; the shuffle carries
    * nTables·nPlanes doubles per vector, never the vector stream), then
    * pack sign bits into per-table buckets. Plane p (globally unique:
    * table*nPlanes + j, packed at bit j) is ±1 at dimension i by the
    * parity of xxhash64(p, i) — a full avalanche hash: an earlier xor/add
    * construction made bit 0 depend only on the parities of i and p,
    * collapsing every plane onto plane 0 or its complement. A bit is set
    * when the dot product is ≥ 0. SimilaritySpec checks the buckets
    * against a column-expression reference. */
  private def bulkBuckets(df: DataFrame, nPlanes: Int, nTables: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val nP = nTables * nPlanes
    val exploded = df
      .select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("__id"), col("i").cast("long").as("i"),
        col("x").cast("double").as("x"))
    val dots = (0 until nP).map { p =>
      sum(when(pmod(xxhash64(lit(p), col("i")), lit(2L)) === 0L, col("x"))
        .otherwise(-col("x"))).as(s"d$p")
    }
    val agg = exploded.groupBy(col("__id")).agg(dots.head, dots.tail: _*)
    val buckets = array((0 until nTables).map { t =>
      struct(lit(t).as("t"),
        (0 until nPlanes).map(j =>
          when(col(s"d${t * nPlanes + j}") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("b"))
    }: _*)
    agg.select(col("__id"), buckets.as("buckets"))
  }

  /** ANN top-k via multi-table random-hyperplane LSH with Hamming-1
    * multiprobe — the standard recall/cost knobs:
    *
    *  - `nPlanes` bits per table → 2^nPlanes buckets; raise it with corpus
    *    size so expected bucket occupancy (|corpus| / 2^nPlanes) stays
    *    bounded — occupancy is what the per-bucket join cost scales with.
    *  - `nTables` independent tables multiply recall (1-(1-p)^L for
    *    per-table collision p) at the cost of writing the corpus into
    *    `nTables` buckets (an `explode` — the shuffle carries ×L rows).
    *  - multiprobe: each query additionally probes every Hamming-1
    *    neighbour bucket in every table (nPlanes+1 probes/table), which
    *    buys recall on the tiny query side instead of duplicating the
    *    corpus into more tables.
    *
    * The candidate join is bucket-local; recall < 1 by design (measured
    * against [[bruteForceTopK]] in SimilaritySpec — ≥0.8 at the catalog
    * parameters). Candidates found in several tables are deduped before
    * scoring so each pair is scored once.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 12, nTables: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              maxBucketSize: Int = 0): DataFrame = {
    // corpus: buckets via the codegen'd bulk path, joined back to the
    // payload by id (one id-keyed shuffle — linear, never quadratic),
    // then one (table, bucket) entry per hash table
    val cB = bulkBuckets(corpus, nPlanes, nTables, idCol, vecCol)
      .withColumnRenamed("__id", "neighbor_id")
    val cAll = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(cB, "neighbor_id")
      .select(col("neighbor_id"), col("cv"), explode(col("buckets")).as("tb"))
      .select(col("neighbor_id"), col("cv"),
        col("tb.t").as("t"), col("tb.b").as("bucket"))
    // Mega-bucket cap (maxBucketSize > 0): keep a deterministic prefix
    // (lowest ids) of each (table, bucket) — unlike the dedup cap this
    // TRUNCATES rather than drops, so queries landing in a hot bucket
    // still see candidates with bounded join cost; recall for vectors cut
    // from a hot bucket comes from the other nTables−1 tables. Exactly the
    // uncapped output whenever no bucket exceeds the cap.
    val c =
      if (maxBucketSize <= 0) cAll
      else {
        val w = Window.partitionBy(col("t"), col("bucket"))
          .orderBy(col("neighbor_id"))
        cAll.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucketSize).drop("__rn")
      }
    // queries: per table, the own bucket plus every Hamming-1 neighbour
    val probeMasks = array((lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))): _*)
    val qB = bulkBuckets(queries, nPlanes, nTables, idCol, vecCol)
      .withColumnRenamed("__id", "query_id")
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qB, "query_id")
      .select(col("query_id"), col("qv"), explode(col("buckets")).as("tb"))
      .select(col("query_id"), col("qv"), col("tb.t").as("t"),
        col("tb.b").as("qb"))
      .select(col("query_id"), col("qv"), col("t"),
        explode(transform(probeMasks, m => col("qb").bitwiseXOR(m)))
          .as("bucket"))
    val candidates = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          c("t") === q("t") && c("bucket") === q("bucket"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // --- IVF (inverted-file index) -------------------------------------------

  /** Spherical k-means centroids for an IVF index, trained with `iters`
    * Lloyd rounds of distributed assignment + mean.
    *
    * The returned model is `nLists × dim` doubles — genuinely small driver
    * state (the broadcast model every IVF implementation carries), NOT a
    * collect of data rows; all per-vector work stays distributed. Seeds are
    * the `nLists` vectors with the smallest xxhash64(id) — deterministic
    * and scan-local (a TakeOrdered, no shuffle of the corpus). Assignment
    * explodes each vector against the centroid literal and reduces with a
    * codegen'd max(struct) argmax: the shuffle carries one row per vector.
    * Mean-update aggregates (list, dim) → avg — cosine is scale-invariant,
    * so the plain mean is the spherical-k-means update.
    *
    * At 100 TB, training on a sample is the DEFAULT, not advice: centroid
    * quality needs thousands of vectors per list, not the full corpus, so
    * when the corpus exceeds `maxTrainRows` the Lloyd iterations run over a
    * deterministic hash-gated sample of ~`maxTrainRows` vectors
    * (`xxhash64(id) mod 1e6 < frac·1e6` — scan-local, no shuffle, stable
    * across runs and partitionings, like the hash-ordered seeds). Only the
    * final index assignment in [[ivfTopK]]/[[writeIvfIndex]] touches every
    * vector. `maxTrainRows <= 0` disables sampling; the default never binds
    * at fixture scale, so catalog results are byte-identical.
    */
  def ivfCentroids(corpus: DataFrame, nLists: Int, iters: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   maxTrainRows: Long = 200000L): Array[Array[Double]] =
    ivfCentroidsOn(trainingSample(corpus, idCol, vecCol, maxTrainRows),
      nLists, iters, idCol, vecCol)

  /** The deterministic hash-gated training sample, projected to
    * (id, vector) — shared by the IVF and PQ trainers so the IVF+PQ build
    * ([[Pq.writeIvfPqIndex]]) sizes/samples the corpus ONCE instead of per
    * trainer. When the sample BINDS (n > maxTrainRows) it is additionally
    * `localCheckpoint`ed: without that, the seed pass and every Lloyd/PQ
    * round would re-run the hash-gate filter over the FULL corpus — at
    * 100 TB that is iters+1 full scans to read a ~maxTrainRows-vector
    * sample. The materialized state is bounded by ~`maxTrainRows` vectors
    * (model-scale, like [[graft.functions.DedupIndex]]'s batch-sized
    * delta), which is what makes the localCheckpoint trade acceptable:
    * lineage is severed, so an executor loss during training fails the job
    * instead of recomputing blocks — cheap to re-run for a bounded sample.
    * Below the bound the corpus IS the training frame and is left alone
    * (re-reading a small input per round costs less than an extra eager
    * materialization job — measured on the fixtures); sampling semantics
    * are unchanged: `xxhash64(id) mod 1e6 < frac·1e6`, scan-local, stable
    * across runs and partitionings. */
  private[functions] def trainingSample(corpus: DataFrame, idCol: String,
                                        vecCol: String,
                                        maxTrainRows: Long): DataFrame = {
    val narrow = corpus.select(col(idCol), col(vecCol))
    if (maxTrainRows <= 0) narrow
    else {
      val n = narrow.count() // metadata/column-pruned count, one cheap job
      if (n <= maxTrainRows) narrow
      else {
        val buckets = 1000000L
        val cut = (maxTrainRows.toDouble / n * buckets).toLong.max(1L)
        narrow.filter(pmod(xxhash64(col(idCol)), lit(buckets)) < cut)
          .localCheckpoint()
      }
    }
  }

  /** Lloyd iterations over an already-sampled training frame (see
    * [[trainingSample]]); value-identical to the pre-split form — same
    * seeds, same assignment expression, same mean update. */
  private[functions] def ivfCentroidsOn(train: DataFrame, nLists: Int,
                                        iters: Int, idCol: String,
                                        vecCol: String): Array[Array[Double]] = {
    val seeds = train
      .select(col(vecCol).as("v"), xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(nLists)
      .select(col("v")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cents = seeds
    for (_ <- 0 until iters) {
      // assignment is a projection (see assignStruct) — each Lloyd round
      // is ONE scan + one (cid, dim)-bounded aggregate; the old shape paid
      // a corpus-wide assignment shuffle plus an id-keyed join per round
      val dims = train
        .select(assignStruct(col(vecCol), cents).getField("c").as("cid"),
          posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val byList = dims.groupBy(_.getAs[Int]("cid"))
      cents = cents.indices.map { cid =>
        byList.get(cid) match {
          case Some(rows) =>
            rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m")).toArray
          case None => cents(cid) // empty list keeps its centroid
        }
      }.toArray
    }
    cents
  }

  /** Nearest-centroid argmax as ONE scan-local codegen'd projection:
    * `greatest` folds the per-centroid (cos, cid) structs with exactly the
    * struct ordering the old explode + max(struct) aggregation used (same
    * cosine expression per centroid, ties break to the larger cid), so the
    * assignment is value-identical — but there is no explode, NO exchange,
    * and callers no longer join the assignment back to the vectors
    * (guide §2.4: the old shape shuffled the whole corpus once per
    * assignment and once more for the join-back). */
  private[functions] def assignStruct(v: Column,
                                      cents: Array[Array[Double]]): Column = {
    val native = graft.functions.expressions.VectorExpressions
      .nearestCentroidNative(v, cents.map(_.map(_.toFloat)))
    // the exploded form gave a NULL vector a (null cos, k-1) struct — the
    // null cosine sorted below everything and the tie broke to the larger
    // cid; preserve that edge around the null-safe native expression
    when(v.isNull,
      struct(lit(null).cast("double").as("cos"),
        lit(cents.length - 1).as("c")))
      .otherwise(native)
  }

  /** Nearest-centroid assignment: (id, cid, cos) — a pure projection over
    * [[assignStruct]]; deterministic (ties break to the larger cid). */
  private[functions] def assignToCentroids(df: DataFrame, cents: Array[Array[Double]],
                                idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        assignStruct(col(vecCol), cents).as("m"))
      .select(col("__id"), col("m.c").as("cid"), col("m.cos").as("cent_cos"))

  /** ANN top-k via an IVF index — the other standard scale path next to
    * [[lshTopK]]: corpus vectors are bucketed by nearest centroid
    * (`nLists` inverted lists), each query probes its `nProbe` nearest
    * lists, and only those lists' vectors are scored exactly.
    *
    * Plan shape: centroid training (small driver model, see
    * [[ivfCentroids]]) → one full assignment pass (narrow + one id-keyed
    * reduce) → candidate equi-join on `cid` with the probed query lists
    * broadcast → codegen'd exact re-score → per-query top-k window. The
    * corpus is never replicated (one list per vector — cheaper storage than
    * LSH's ×nTables) and never cross-joined; expected candidate cost is
    * |corpus| · nProbe / nLists per query. Recall < 1 by design, measured
    * against [[bruteForceTopK]] in SimilaritySpec (≥ 0.8 gate at catalog
    * parameters); raise `nProbe` for recall, `nLists` for sharper lists.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4, iters: Int = 2,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              maxTrainRows: Long = 200000L): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in [1, nLists] (got $nProbe of $nLists)")
    val cents = ivfCentroids(corpus, nLists, iters, idCol, vecCol, maxTrainRows)
    val c = invertedLists(corpus, cents, idCol, vecCol)
    val q = probeLists(queries, cents, nProbe, idCol, vecCol)
    probedTopK(c, q, k)
  }

  /** Inverted lists: one (neighbor_id, cv, cid) row per corpus vector —
    * shared by [[ivfTopK]] (in memory) and [[writeIvfIndex]] (as the
    * partitioned layout), so both assign identically by construction. */
  private def invertedLists(corpus: DataFrame, cents: Array[Array[Double]],
                            idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        assignStruct(col(vecCol), cents).getField("c").as("cid"))

  /** Probe lists: each query's `nProbe` nearest centroids, as
    * (query_id, qv, cid) — shared by [[ivfTopK]] and [[searchIvfIndex]],
    * so their probe tie-breaking can never drift apart. */
  private[functions] def probeLists(queries: DataFrame, cents: Array[Array[Double]],
                         nProbe: Int, idCol: String,
                         vecCol: String): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq).cast("array<array<float>>")
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"), posexplode(centLit).as(Seq("c", "cv")))
      .select(col("query_id"), col("qv"), col("c").as("cid"),
        cosineFast(col("qv"), col("cv")).as("cent_cos"))
      .withColumn("__pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cent_cos").desc, col("cid"))))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid"))
  }

  /** Exact re-score of the probed lists + per-query top-k window: the
    * candidate equi-join on `cid` with the (small) probe side broadcast. */
  private def probedTopK(lists: DataFrame, probes: DataFrame,
                         k: Int): DataFrame = {
    val scored = lists.join(broadcast(probes),
        lists("cid") === probes("cid") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // --- IVF as an on-disk layout --------------------------------------------

  /** Persist an IVF index as a PARTITIONED PARQUET LAYOUT: every corpus
    * vector lands under `path/vectors/cid=<list>/`, so the inverted lists
    * ARE Hive partitions, plus the centroid model as a tiny side table.
    * This is the Spark-native form of "the ANN index is a file layout":
    * no index server, no custom format — probing a list is partition
    * pruning, and the index inherits every warehouse property (schema
    * evolution, replication, time travel under a table format) for free.
    *
    * At 100 TB the payoff is at read time: [[searchIvfIndex]] scans only
    * the probed partitions — nProbe/nLists of the index bytes per query
    * batch — where the in-memory [[ivfTopK]] must re-assign the whole
    * corpus on every run. Write once, probe forever; re-cluster only when
    * centroid drift degrades recall. */
  def writeIvfIndex(corpus: DataFrame, path: String, nLists: Int = 16,
                    iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxTrainRows: Long = 200000L,
                    updateCatalog: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(corpus, nLists, iters, idCol, vecCol, maxTrainRows)
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1) // nLists × dim doubles — one small file
      .write.mode("overwrite").parquet(s"$path/centroids")
    // base build is generation −1, appends get their own gen partitions
    // (cid=<list>/gen=<g>/) — same sub-partitioning story as
    // [[graft.functions.DedupIndex]]: a RETRIED append overwrites ITS OWN
    // generation instead of double-appending, and cid-prefix pruning is
    // untouched
    invertedLists(corpus, cents, idCol, vecCol)
      .withColumn("gen", lit(-1L))
      .write.mode("overwrite").partitionBy("cid", "gen")
      .parquet(s"$path/vectors")
    // the index self-describes in _graft_catalog.json at its own root
    // (the layout writers' discipline): describe(path) in any later
    // session lists the index and its parameters with zero setup
    if (updateCatalog)
      graft.plans.GraftCatalog.describeArtifact(spark, path, "ivf-index",
        Map("nLists" -> nLists.toString, "idCol" -> idCol,
          "vecCol" -> vecCol))
  }

  /** The persisted centroid model of a [[writeIvfIndex]] layout — one
    * loader shared by search, append and the IVF-PQ tier so no caller can
    * read the model differently. */
  private[functions] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)

  /** INCREMENTAL index maintenance: append new vectors to an existing
    * [[writeIvfIndex]] layout without re-clustering. Assignment uses the
    * PERSISTED centroid model (never retrained here), appended rows land
    * inside their `cid=` partitions in append mode, and the next
    * [[searchIvfIndex]] sees them with zero coordination — the
    * daily-ingest story at 100 TB: the index build is write-once, growth
    * is append-only (one narrow assignment pass + a partitioned write,
    * cost proportional to the DELTA, not the index), and a full
    * re-cluster is a deliberate, measured event when centroid drift
    * degrades the recall gate — not a side effect of ingest. Routing goes
    * through the same [[invertedLists]] helper as the original build, so
    * an appended vector lands exactly where a full rebuild with the same
    * centroids would put it.
    *
    * `gen` identifies the append generation (sub-partition
    * `cid=<list>/gen=<g>/`). The default (−1) assigns max-existing + 1 (a
    * partition-listing read, no row data). Passing an EXPLICIT gen makes
    * the call IDEMPOTENT: dynamic partition overwrite replaces that
    * generation's own partitions, so a failed-ingest retry or a streaming
    * micro-batch replay (gen = batchId) converges instead of
    * double-appending — the same exactly-once protocol as
    * [[graft.functions.DedupIndex.append]]. */
  def appendToIvfIndex(newVectors: DataFrame, path: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       gen: Long = -1L): Unit = {
    val spark = newVectors.sparkSession
    val cents = readCentroids(spark, path)
    val g =
      if (gen >= 0) gen
      else spark.read.parquet(s"$path/vectors")
        .agg(max(col("gen").cast("long"))).head().getLong(0) + 1L
    invertedLists(newVectors, cents, idCol, vecCol)
      .withColumn("gen", lit(g))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid", "gen")
      .parquet(s"$path/vectors")
  }

  /** ANN top-k against a [[writeIvfIndex]] layout. The probed list ids are
    * resolved driver-side (bounded by nLists — model-sized, not data-sized)
    * and pushed into the scan as a partition filter, so only the probed
    * `cid=` directories are read; output is identical to [[ivfTopK]] with
    * the same parameters (proven in SimilaritySpec). */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cents = readCentroids(spark, path)
    require(nProbe >= 1 && nProbe <= cents.length,
      s"nProbe must be in [1, nLists] (got $nProbe of ${cents.length})")
    val q = probeLists(queries, cents, nProbe, idCol, vecCol)
    // the probed set is ≤ min(nLists, nProbe·|queries|) ids — driver-safe
    val probed = q.select("cid").distinct().collect().map(_.getInt(0))
    val lists = spark.read.parquet(s"$path/vectors")
      .filter(col("cid").isin(probed.map(Int.box): _*))
    probedTopK(lists, q, k)
  }

  /** Margin-based pair mining between two embedding sets — the ratio-
    * margin criterion of bitext mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining", ACL 2019): a pair (x, y) is kept not for its
    * raw cosine but for how much that cosine EXCEEDS the local similarity
    * level of both endpoints,
    * `margin = cos(x,y) / ((mean_k cos(x, ·) + mean_k cos(·, y)) / 2)`,
    * which suppresses hubness (a vector close to everything mines nothing).
    * Emits each x's single best y by margin, where `margin ≥ minMargin`.
    *
    * Plan shape: the bipartite all-pairs scoring uses the block-pair
    * equi-join (X replicated to `nyBlocks` keys, Y to `nxBlocks` — per-task
    * memory |X|/nx + |Y|/ny vectors, never a corpus broadcast); both
    * directions' top-k come from the bounded-heap CollectTopK aggregate
    * (the shuffle carries k rows per id, not all pairs); the per-endpoint
    * means are decimal-routed so accumulation order can't move a margin.
    * Ranking quantizes the margin to 1e-6 with an id tiebreak (ln/division
    * ulps must not reorder engines). At 100 TB swap the exact scorer for
    * ANN candidates ([[lshTopK]]/[[ivfTopK]]) — the margin normalizer then
    * reads the candidate top-k, which is exactly the published recipe
    * (mean over the retrieved neighbourhood). */
  def marginMine(xs: DataFrame, ys: DataFrame, k: Int = 4,
                 minMargin: Double = 1.0,
                 nxBlocks: Int = 8, nyBlocks: Int = 8,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(nxBlocks >= 1 && nyBlocks >= 1, "block counts must be >= 1")
    val x = xs.select(col(idCol).as("x_id"), col(vecCol).as("xv"),
      pmod(xxhash64(col(idCol)), lit(nxBlocks.toLong)).cast("int").as("bx"))
      .withColumn("by", explode(sequence(lit(0), lit(nyBlocks - 1))))
    val y = ys.select(col(idCol).as("y_id"), col(vecCol).as("yv"),
      pmod(xxhash64(col(idCol)), lit(nyBlocks.toLong)).cast("int").as("by"))
      .withColumn("bx", explode(sequence(lit(0), lit(nxBlocks - 1))))
    val scored = x.join(y, Seq("bx", "by"))
      .select(col("x_id"), col("y_id"),
        cosineFast(col("xv"), col("yv")).as("cs"))

    // forward/backward top-k neighbourhoods (ties: higher cos, smaller id)
    val fwd = graft.operators.TopK.topKPerGroup(scored, Seq("x_id"),
      ordCols = Seq(col("cs"), -col("y_id")),
      payload = Seq(col("y_id")), k = k)
    val bwd = graft.operators.TopK.topKPerGroup(scored, Seq("y_id"),
      ordCols = Seq(col("cs"), -col("x_id")),
      payload = Seq(col("x_id")), k = k)
    def meanOf(df: DataFrame, key: String, as: String) =
      df.groupBy(col(key))
        .agg((sum(col("cs").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as(as))
    val mx = meanOf(fwd, "x_id", "mx")
    val my = meanOf(bwd, "y_id", "my")

    val cand = fwd.select(col("x_id"), col("y_id"), col("cs"))
      .join(mx, "x_id")
      .join(my, "y_id")
      .withColumn("margin", col("cs") / ((col("mx") + col("my")) / 2))
    val w = Window.partitionBy(col("x_id"))
      .orderBy(round(col("margin"), 6).desc, col("y_id"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && round(col("margin"), 6) >= minMargin)
      .select(col("x_id"), col("y_id"),
        round(col("cs"), 6).as("cos_sim"),
        round(col("margin"), 6).as("margin"))
  }
}
