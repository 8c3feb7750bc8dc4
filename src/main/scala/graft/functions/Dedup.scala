package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash. All are expressed as declarative plans whose only shuffles are
  * on dedup keys / LSH buckets, so they scale out: no driver-side state, no
  * cross-product except within candidate buckets.
  */
object Dedup {

  /** Default document-frequency cap for the posting-list n-gram operators
    * ([[ngramSimilarPairs]] / [[ngramJaccardStats]]), used by the shipped
    * catalog entries. A shingle shared by df documents contributes
    * df·(df−1)/2 pairs to the expansion, so ONE boilerplate header across a
    * 100 TB block would otherwise dominate the whole job; the cap bounds any
    * single shingle's pair mass at 256·255/2 ≈ 33 K. Trade-off: near-dup
    * CLUSTERS larger than the cap lose the edges carried only by their
    * shared shingles (recall, not correctness — dropped shingles undercount
    * intersections). Output is exactly the uncapped output whenever no
    * shingle's df exceeds the cap — the fixture corpora max out at df = 6
    * (sf0.1), so every DuckDB oracle is computed against identical results. */
  val DefaultMaxDf = 256

  /** Default LSH mega-bucket cap for [[minhashCandidates]], used by the
    * shipped catalog entry. An s-doc bucket yields s·(s−1)/2 candidate
    * pairs, so a template band shared corpus-wide re-creates the quadratic
    * blowup LSH exists to avoid; 64 bounds any bucket's join at ~2 K pairs.
    * Pairs inside a dropped bucket survive iff they also collide in a
    * below-cap band (multi-band redundancy is the recall cushion). Output is
    * exactly the uncapped output whenever no bucket exceeds the cap — the
    * fixture corpora's largest duplicate cluster is 2 docs. */
  val DefaultMaxBucketSize = 64

  /** Exact dedup stats per group: hash-groupBy on a content digest.
    * At 100 TB this is one shuffle on md5(text) — the canonical exact-dedup
    * plan. */
  def exactStats(docs: DataFrame, groupCol: String = "source"): DataFrame =
    docs
      .select(col(groupCol), md5(col("text")).as("content_hash"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("content_hash")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("content_hash"))).as("n_dups"))

  /** Exact dedup: keep one representative (lowest id) per distinct text. */
  def exact(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text"))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // --- n-gram Jaccard -------------------------------------------------------

  /** Distinct word n-gram set per document. */
  def ngramSet(text: Column, n: Int): Column =
    array_distinct(TextFunctions.tokenShingles(text, n))

  /** Exact pairwise Jaccard over word n-grams, restricted to pairs within
    * `blockCol` (blocking keeps the candidate space linear — the unblocked
    * cross product is exactly what does NOT scale; callers needing global
    * pairs should go through MinHash LSH below). */
  def ngramJaccardPairs(docs: DataFrame, n: Int,
                        blockCol: String = "source"): DataFrame = {
    val withSets = docs.select(
      col("doc_id"), col(blockCol).as("block"),
      ngramSet(col("text"), n).as("ngrams"))
    val a = withSets.as("a")
    val b = withSets.as("b")
    a.join(b, col("a.block") === col("b.block") &&
             col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.block").as("block"),
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        jaccard(col("a.ngrams"), col("b.ngrams")).as("jaccard"))
  }

  /** Per-block Jaccard statistics — the aggregate the catalog query needs —
    * WITHOUT the per-block cross product: explode each document's distinct
    * n-grams and self-join on (block, ngram), so only pairs that actually
    * share an n-gram are ever materialized (intersection counts fall out of
    * a codegen'd count per pair); non-intersecting pairs contribute exactly
    * 0 to every statistic and are accounted for arithmetically
    * (n_pairs = n·(n−1)/2 per block). Output is identical to aggregating
    * [[ngramJaccardPairs]] (the quadratic form, kept as the small-block
    * oracle tool), but join cost scales with Σ_g df(g)² per block — the
    * shared-ngram co-occurrence mass — instead of block size².
    *
    * N-grams are carried as their codegen'd xxhash64 hashes
    * ([[TextFunctions.shingleHashes]]) rather than joined strings: set
    * sizes, intersections, and hence every Jaccard statistic are unchanged
    * (64-bit collisions are negligible), while shingling skips string
    * materialization entirely and the (block, ngram) shuffle carries 8-byte
    * keys instead of n-token strings.
    */
  def ngramJaccardStats(docs: DataFrame, n: Int,
                        blockCol: String = "source",
                        simThreshold: Double = 0.2,
                        maxDf: Int = 0): DataFrame = {
    val withJac = sparseJaccardPairs(docs, n, blockCol, maxDf)
      .select(col("block"), col("jaccard"))
    val pairStats = withJac.groupBy("block").agg(
      count(when(col("jaccard") >= simThreshold, 1)).as("n_sim_pairs"),
      sum(col("jaccard").cast("decimal(38,6)")).cast("double").as("sum_jaccard"))
    val counts = docs.groupBy(col(blockCol).as("block"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("block"),
        (col("n_docs") * (col("n_docs") - lit(1)) / lit(2)).cast("long")
          .as("n_pairs"))
    counts.filter(col("n_pairs") > 0)
      .join(pairStats, Seq("block"), "left")
      .select(col("block"), col("n_pairs"),
        coalesce(col("n_sim_pairs"), lit(0L)).as("n_sim_pairs"),
        coalesce(col("sum_jaccard"), lit(0.0)).as("sum_jaccard"))
  }

  /** Pairs whose exact n-gram Jaccard meets `minJaccard`, via the SAME
    * posting-list expansion as [[ngramJaccardStats]] — only pairs that
    * share at least one shingle are ever materialized, so the edge list a
    * dedup-group clustering consumes never passes through a per-block cross
    * product. Output: (block, doc_a, doc_b, jaccard), doc_a < doc_b. */
  def ngramSimilarPairs(docs: DataFrame, n: Int,
                        blockCol: String = "source",
                        minJaccard: Double = 0.2,
                        maxDf: Int = 0): DataFrame =
    sparseJaccardPairs(docs, n, blockCol, maxDf)
      .filter(col("jaccard") >= minJaccard)
      .select(col("block"), col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact Jaccard-threshold pairs via PREFIX FILTERING (Chaudhuri et al.
    * ICDE 2006; Bayardo et al. WWW 2007 "All-Pairs") — OUTPUT-IDENTICAL to
    * [[ngramSimilarPairs]] at the same threshold with `maxDf = 0`, but
    * candidates come only from each document's RAREST
    * `|d| − ⌈τ·|d|⌉ + 1` shingles under a global rarest-first order.
    *
    * The prefix-filter theorem: under ANY fixed total order on shingles,
    * two sets with `J(x,y) ≥ τ` must share a token inside those prefixes
    * (since `|x∩y| ≥ τ·max(|x|,|y|)`, the prefixes are too long to miss
    * the intersection entirely) — so pruning everything outside the
    * prefixes is LOSSLESS, unlike the `maxDf` cap, which trades recall.
    * Ordering rarest-first makes the surviving posting lists the
    * short ones: a boilerplate shingle shared by half the block has
    * near-maximal df, lands at the END of every document's ordering, and
    * never enters a prefix unless a document is almost nothing but
    * boilerplate — the same hazard `maxDf` bounds, handled exactly.
    * A candidate pair must additionally satisfy the length filter
    * `τ·max(|x|,|y|) ≤ min(|x|,|y|)` (necessary for `J ≥ τ`).
    *
    * Verification is exact and BOUNDED: candidates re-check via
    * [[jaccard]] over the two full shingle arrays (doc-sized, riding the
    * candidate join), never via posting-list re-expansion. Plan shape at
    * 100 TB: one df aggregation on (block, shingle), one per-doc keyed
    * window for the prefix cut, one equi-join of PREFIX postings (the
    * Σdf² mass now counts only prefix dfs), and a candidate-sized verify
    * join — more shuffles than [[ngramSimilarPairs]], in exchange for a
    * provably complete candidate set that skew can't blow up.
    *
    * The `1e-9` slack on `⌈τ·|d|⌉` guards the float product from rounding
    * UP past the exact integer (0.2·25 in binary is a hair above 5, and
    * ⌈⌉ of it would shorten the prefix and silently lose pairs).
    */
  def prefixJaccardPairs(docs: DataFrame, n: Int,
                         blockCol: String = "source",
                         minJaccard: Double = 0.2): DataFrame = {
    val withSets = docs.select(col("doc_id"), col(blockCol).as("block"),
      TextFunctions.shingleHashes(col("text"), n).as("ngrams"))
    prefixJaccardCandidates(docs, n, blockCol, minJaccard)
      .join(withSets.select(col("doc_id").as("doc_a"),
        col("ngrams").as("ngrams_a")), "doc_a")
      .join(withSets.select(col("doc_id").as("doc_b"),
        col("ngrams").as("ngrams_b")), "doc_b")
      .select(col("block"), col("doc_a"), col("doc_b"),
        jaccard(col("ngrams_a"), col("ngrams_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The candidate stage of [[prefixJaccardPairs]], exposed so tests (and
    * capacity planning) can measure the candidate set the prefix filter
    * admits. Output: (block, doc_a, doc_b), doc_a < doc_b, distinct —
    * a provable superset of the `J ≥ minJaccard` pairs. */
  def prefixJaccardCandidates(docs: DataFrame, n: Int,
                              blockCol: String = "source",
                              minJaccard: Double = 0.2): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0,1] (got $minJaccard)")
    val sized = docs.select(col("doc_id"), col(blockCol).as("block"),
      TextFunctions.shingleHashes(col("text"), n).as("ngrams"))
      .select(col("doc_id"), col("block"), col("ngrams"),
        size(col("ngrams")).as("sz"))
    val exploded = sized.select(col("doc_id"), col("block"), col("sz"),
      explode(col("ngrams")).as("g"))
    val dfs = exploded.groupBy(col("block"), col("g"))
      .agg(count(lit(1)).as("df"))
    // rarest-first canonical order: (df asc, hash asc) is total within a
    // document (shingle hashes are distinct per doc), so the prefix cut is
    // deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("doc_id"))
      .orderBy(col("df").asc, col("g").asc)
    val prefixLen = (col("sz") -
      ceil(col("sz") * lit(minJaccard) - lit(1e-9)) + lit(1)).cast("int")
    val prefixes = exploded.join(dfs, Seq("block", "g"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= prefixLen)
      .select(col("block"), col("g"), col("doc_id"), col("sz"))
    prefixes.as("a").join(prefixes.as("b"),
        col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.sz"), col("b.sz")) * lit(minJaccard) <=
            least(col("a.sz"), col("b.sz")) + lit(1e-9))
      .select(col("a.block").as("block"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** FUZZY JOIN between two tables by text similarity — the bipartite
    * sibling of [[prefixJaccardPairs]]: every (left, right) pair whose
    * shingle-set Jaccard clears `minJaccard`, with candidates admitted
    * only through PPJoin prefix filtering (Xiao et al. WWW 2008) under a
    * rarest-first order computed over the UNION of both sides (the lemma
    * needs one COMMON total order; a per-side order would be unsound).
    * This is the record-linkage / feed-reconciliation primitive: match a
    * new feed against the existing corpus, an eval set against training
    * data, two vendors' catalogs — WITHOUT the cross product.
    *
    * Same lossless guarantees as the self-join form: a pair with
    * `J ≥ τ` must share a shingle inside both prefixes (too long to miss
    * the intersection), plus the length filter
    * `τ·max(|x|,|y|) ≤ min(|x|,|y|)`; verification is exact Jaccard over
    * the two doc-sized shingle arrays riding the candidate join. Plan
    * shape at 100 TB: one df aggregation over the UNION of prefix
    * postings, one equi-join of left prefixes to right prefixes (Σ over
    * shared shingles of df_left·df_right — rarest-first keeps those
    * products small), one candidate-sized verify join. Docs shorter than
    * `n` tokens have empty shingle sets and cannot match (dropped, both
    * engines). Output: (left_id, right_id, jaccard). */
  def fuzzyJoin(left: DataFrame, right: DataFrame, n: Int,
                minJaccard: Double,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val la = left.select(col(idCol).as("left_id"),
      TextFunctions.shingleHashes(col(textCol), n).as("ngrams_a"))
    val rb = right.select(col(idCol).as("right_id"),
      TextFunctions.shingleHashes(col(textCol), n).as("ngrams_b"))
    fuzzyJoinCandidates(left, right, n, minJaccard, idCol, textCol)
      .join(la, "left_id")
      .join(rb, "right_id")
      .select(col("left_id"), col("right_id"),
        jaccard(col("ngrams_a"), col("ngrams_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The candidate stage of [[fuzzyJoin]], exposed for tests and capacity
    * planning — a provable superset of the `J ≥ minJaccard` cross pairs.
    * Output: (left_id, right_id), distinct. */
  def fuzzyJoinCandidates(left: DataFrame, right: DataFrame, n: Int,
                          minJaccard: Double,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0,1] (got $minJaccard)")
    def sized(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"),
        TextFunctions.shingleHashes(col(textCol), n).as("ngrams"))
        .select(col(s"${side}_id"), col("ngrams"),
          size(col("ngrams")).as(s"sz_$side"))
    val l = sized(left, "left")
    val r = sized(right, "right")
    val le = l.select(col("left_id"), col("sz_left"),
      explode(col("ngrams")).as("g"))
    val re = r.select(col("right_id"), col("sz_right"),
      explode(col("ngrams")).as("g"))
    // the COMMON rarest-first order: df over both sides together
    val dfs = le.select(col("g")).unionAll(re.select(col("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    def prefixed(e: DataFrame, id: String, sz: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(id)).orderBy(col("df").asc, col("g").asc)
      e.join(dfs, "g")
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= (col(sz) -
          ceil(col(sz) * lit(minJaccard) - lit(1e-9)) + lit(1)).cast("int"))
        .select(col("g"), col(id), col(sz))
    }
    prefixed(le, "left_id", "sz_left").as("a")
      .join(prefixed(re, "right_id", "sz_right").as("b"),
        col("a.g") === col("b.g") &&
          greatest(col("a.sz_left"), col("b.sz_right")) * lit(minJaccard) <=
            least(col("a.sz_left"), col("b.sz_right")) + lit(1e-9))
      .select(col("a.left_id").as("left_id"),
        col("b.right_id").as("right_id"))
      .distinct()
  }

  /** Posting-list pair core shared by the Jaccard AND containment forms:
    * for every in-block pair sharing ≥1 shingle, the exact intersection
    * size plus both distinct-set sizes — `(block, doc_a, doc_b, inter,
    * sz_a, sz_b)`, `doc_a < doc_b`. Pairs sharing nothing never
    * materialize (they contribute 0 to stats and can't pass any positive
    * threshold on either measure). */
  private def pairIntersections(docs: DataFrame, n: Int,
                                blockCol: String, maxDf: Int): DataFrame = {
    val withSets = docs.select(col("doc_id"), col(blockCol).as("block"),
      TextFunctions.shingleHashes(col("text"), n).as("ngrams"))
    val sizes = withSets.select(col("doc_id"), col("block"),
      size(col("ngrams")).as("sz"))
    val exploded = withSets.select(col("doc_id"), col("block"),
      explode(col("ngrams")).as("g"))
    // One shuffle on (block, ngram): group the posting list per ngram, then
    // expand ordered doc pairs narrowly. A self-join would shuffle AND
    // recompute the (interpreted-HOF) ngram branch twice; this computes it
    // once. Posting lists are bounded by per-block document frequency;
    // `maxDf` bounds them further when a shingle is near-universal.
    // (No explicit pre-repartition here, unlike editDistancePairs: word
    // trigrams are ~6× fewer rows than char grams and the codegen'd
    // shingle kernel keeps the map side cheap — measured cost-neutral.)
    val allPostings = exploded.groupBy(col("block"), col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // df cap (maxDf > 0): drop near-universal shingles before the pair
    // expansion. A shingle shared by df documents contributes df·(df−1)/2
    // pairs — one boilerplate header across a 100 TB block would otherwise
    // dominate the whole job. Dropping it UNDERCOUNTS intersections for
    // pairs that also share rarer shingles (documented approximation);
    // statistics are exact whenever no shingle exceeds the cap.
    val postings =
      if (maxDf <= 0) allPostings
      else allPostings.filter(size(col("ds")) <= maxDf)
    // Ordered-pair expansion as two codegen'd Generates (posexplode picks
    // doc_a, explode over the sorted tail picks doc_b > doc_a) — the
    // earlier nested-transform form built the |ds|²/2 pair array through
    // interpreted HOFs, which was the query's hot spot.
    val pairs = postings
      .select(col("block"), col("ds"),
        posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("block"), col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("doc_b"))
    val inter = pairs
      .groupBy(col("block"), col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select(col("block"), col("doc_a"), col("doc_b"),
        col("inter"), col("sz_a"), col("sz_b"))
  }

  /** Shared core of [[ngramJaccardStats]] / [[ngramSimilarPairs]]: exact
    * Jaccard for every pair sharing ≥1 shingle, by posting-list expansion
    * on (block, ngram-hash). Pairs sharing nothing never materialize (they
    * would contribute 0 to stats and can't pass any positive threshold). */
  private def sparseJaccardPairs(docs: DataFrame, n: Int,
                                 blockCol: String, maxDf: Int): DataFrame =
    // same arithmetic as `jaccard`: double division, |A|+|B|-|A∩B| union
    pairIntersections(docs, n, blockCol, maxDf)
      .select(col("block"), col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          ((col("sz_a") + col("sz_b")).cast("double") - col("inter").cast("double")))
          .as("jaccard"))

  /** DIRECTED containment pairs: `C(inner→outer) = |S_in ∩ S_out| / |S_in|`
    * over distinct word n-gram sets (Broder, "On the resemblance and
    * containment of documents", SEQUENCES 1997). Containment is the
    * asymmetric sibling of Jaccard: a short document quoted verbatim inside
    * a long one scores near 1.0 here while its Jaccard stays low (the union
    * is dominated by the long side) — the signal for quote/sub-document
    * duplication that a symmetric threshold misses.
    *
    * Emits BOTH directions of every co-shingled pair that clears
    * `minContainment` as `(block, inner_doc, outer_doc, containment)`.
    * Plan shape is identical to [[ngramSimilarPairs]] — the one
    * posting-list shuffle is shared, the direction split is a narrow
    * projection — so the same `maxDf` skew cap applies ([[DefaultMaxDf]]). */
  def containmentPairs(docs: DataFrame, n: Int,
                       blockCol: String = "source",
                       minContainment: Double = 0.5,
                       maxDf: Int = 0): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1] (got $minContainment)")
    val base = pairIntersections(docs, n, blockCol, maxDf)
    val aInB = base.select(col("block"), col("doc_a").as("inner_doc"),
      col("doc_b").as("outer_doc"),
      (col("inter").cast("double") / col("sz_a").cast("double"))
        .as("containment"))
    val bInA = base.select(col("block"), col("doc_b").as("inner_doc"),
      col("doc_a").as("outer_doc"),
      (col("inter").cast("double") / col("sz_b").cast("double"))
        .as("containment"))
    aInB.unionByName(bInA).filter(col("containment") >= minContainment)
  }

  /** MULTISET (weighted) Jaccard pairs over word n-grams:
    * `J_w = Σ_g min(c_a(g), c_b(g)) / Σ_g max(c_a(g), c_b(g))` — the
    * frequency-aware sibling of [[ngramSimilarPairs]]. Set Jaccard throws
    * away repetition: a spam page that is one paragraph pasted 40 times
    * has the SAME distinct-shingle set as the single paragraph (set J =
    * 1.0 — falsely identical) while its multiset is 40× heavier (J_w ≈
    * 0.025 — correctly different); conversely two docs drawing on the same
    * small template vocabulary in the same PROPORTIONS score higher here
    * than their distinct sets suggest. The standard measure when term
    * frequency carries signal (SpotSigs, near-dup IR literature).
    *
    * Plan: the posting-list shape of [[ngramSimilarPairs]] with one twist —
    * each gram occurrence posts under an OCCURRENCE-INDEXED key
    * `(block, gram, k)`, `k = 1..count`, so a pair's posting co-occurrences
    * sum to exactly `Σ_g min(c_a, c_b)` with no per-pair multiset
    * materialization, and `Σ max = sz_a + sz_b − Σ min` falls out of the
    * total sizes. Still ONE keyed shuffle for postings + one for the pair
    * counts; `maxDf` caps the per-key posting list exactly as in the set
    * form (a gram with in-block occurrence-slot df above the cap is
    * dropped — same recall trade, same skew bound). */
  def weightedJaccardPairs(docs: DataFrame, n: Int,
                           blockCol: String = "source",
                           minSim: Double = 0.0,
                           maxDf: Int = 0): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0,
      s"minSim must be in [0,1] (got $minSim)")
    val exploded = docs.select(col("doc_id"), col(blockCol).as("block"),
      explode(TextFunctions.shingleHashesAll(col("text"), n)).as("g"))
    val counts = exploded.groupBy(col("doc_id"), col("block"), col("g"))
      .agg(count(lit(1)).as("c"))
    val sizes = counts.groupBy(col("doc_id"), col("block"))
      .agg(sum(col("c")).as("sz"))
    val slotted = counts.select(col("doc_id"), col("block"), col("g"),
      explode(sequence(lit(1L), col("c"))).as("k"))
    val allPostings = slotted.groupBy(col("block"), col("g"), col("k"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
    val postings =
      if (maxDf <= 0) allPostings
      else allPostings.filter(size(col("ds")) <= maxDf)
    val pairs = postings
      .select(col("block"), col("ds"),
        posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("block"), col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("doc_b"))
    val inter = pairs
      .groupBy(col("block"), col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .select(col("block"), col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          ((col("sz_a") + col("sz_b")).cast("double") -
            col("inter").cast("double"))).as("weighted_jaccard"))
      .filter(col("weighted_jaccard") >= minSim)
  }

  // --- edit-distance near-dup ----------------------------------------------

  /** Distinct xxhash64'd character q-grams of `text` (empty array below q
    * chars) — the codegen'd [[expressions.CharGramHashes]] kernel: each
    * gram hashed in place over the original UTF-8 buffer, no substring
    * materialization, no interpreted lambda frames (the interpreted
    * `transform(sequence, substr, xxhash64)` form ran ~|text| lambda evals
    * per document and single-handedly dominated the edit-distance entry's
    * map stage). The hashes feed CANDIDATE generation only — every
    * candidate is re-verified on the full strings — so a collision can
    * only add a candidate the verify step rejects, never change output. */
  def charGramHashes(text: Column, q: Int): Column =
    expressions.TextExpressions.charGramHashesNative(text, q)

  /** CHARACTER-level near-dup pairs: all in-block pairs with Levenshtein
    * distance ≤ `maxDist`, found without an all-pairs product via q-gram
    * blocking (Gravano et al., "Approximate string joins in a database
    * (almost) for free", VLDB 2001): one edit destroys at most q character
    * q-grams, so two strings within distance d share at least
    * `len − q + 1 − d·q` positional q-grams — ≥ 1 whenever
    * `len ≥ q·(d+1)`, making share-one-gram blocking LOSSLESS in that
    * regime (shorter docs can only lose pairs, documented). A length filter
    * (`|len_a − len_b| ≤ d`, necessary for distance ≤ d) prunes candidates
    * before the expensive verify.
    *
    * This catches what token-set dedup can't: character-level edits
    * (typo farms, template fills, OCR noise) barely move an n-gram SET but
    * stay within a small edit budget. Verification runs Spark's banded
    * `levenshtein(a, b, threshold)` — O(d·min(len)) per pair, not
    * O(len²) — and the candidate stage is the same posting-list shape as
    * the Jaccard family, so `maxDf` ([[DefaultMaxDf]]) bounds boilerplate
    * q-gram blowup at 100 TB (non-binding at fixture scale: max df 53). */
  def editDistancePairs(docs: DataFrame, maxDist: Int, q: Int = 12,
                        blockCol: String = "source",
                        maxDf: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    require(q >= 1, s"q must be >= 1 (got $q)")
    val base = docs.select(col("doc_id"), col(blockCol).as("block"),
      col("text"), length(col("text")).as("len"))
    val exploded = base.select(col("doc_id"), col("block"),
      explode(charGramHashes(col("text"), q)).as("g"))
    // Explicit repartition ON the grouping keys before the posting-list
    // aggregation: char q-grams are a near-distinct key domain (most df=1),
    // so map-side combine reduces almost nothing, and the partial
    // ObjectHashAggregate otherwise runs at the SCAN's parallelism — one
    // task on a small-file fixture, and never more than the input split
    // count at 100 TB. The exchange is the same one the groupBy would
    // plan; moving it below the aggregation is cost-neutral in bytes and
    // puts the heavy list-building on the full shuffle width.
    val allPostings = exploded.repartition(col("block"), col("g"))
      .groupBy(col("block"), col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
    val postings =
      if (maxDf <= 0) allPostings
      else allPostings.filter(size(col("ds")) <= maxDf)
    val cand = postings
      .select(col("block"), col("ds"),
        posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("block"), col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("text").as("text_a"),
        col("len").as("len_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("text").as("text_b"),
        col("len").as("len_b")), "doc_b")
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("block"), col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).as("d0"))
      .filter(col("d0") >= 0)
      .select(col("block"), col("doc_a"), col("doc_b"),
        col("d0").cast("long").as("dist"))
  }

  /** |A ∩ B| / |A ∪ B| via |A|+|B|-|A∩B| (avoids a union materialization and
    * matches integer-exact semantics in any engine). Inputs must be
    * distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  // --- MinHash + LSH --------------------------------------------------------

  /** Per-permutation hash h_i(x): instead of an affine multiply (which
    * overflows Long and throws under Spark 4's default ANSI mode), derive
    * each permutation by re-hashing the shingle hash together with the
    * permutation index — `xxhash64` is overflow-free, codegen'd, and has the
    * same min-wise statistical properties as a random permutation family. */
  private def perm(h: Column, i: Int): Column = xxhash64(h, lit(i))

  /** Bulk MinHash: one (doc_id, sig) row per document, computed as
    * explode(shingles) → groupBy(doc_id) with k codegen'd `min` aggregates
    * — the whole pipeline stays inside whole-stage codegen and partial
    * (map-side) aggregation, which is the shape that scales: the shuffle
    * carries one k-wide row per document, never the shingles. Documents
    * with no shingles (fewer than n tokens) get the sentinel signature
    * (-1, -2, …, -k). Codegen'd aggregation throughout: a per-row
    * `aggregate()` per hash function would run k interpreted passes
    * (measured ~20× slower on the bench corpus).
    */
  def minhashSignatures(docs: DataFrame, shingleN: Int, k: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val sentinel = array((0 until k).map(i => lit(-1L - i)): _*)
    val exploded = docs.select(col(idCol),
      explode(TextFunctions.shingleHashes(col(textCol), shingleN)).as("h"))
    val sigs = exploded.groupBy(col(idCol))
      .agg(array((0 until k).map(i => min(perm(col("h"), i))): _*).as("sig"))
    // explode drops shingle-less docs; restore them with the sentinel
    docs.select(col(idCol))
      .join(sigs, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("sig"), sentinel).as("sig"))
  }

  /** LSH band keys: signature split into `bands` bands of `k/bands` rows,
    * each band hashed to one bucket key. `bands` must divide `k` exactly:
    * bands > k would silently hash ZERO lanes per band (one global bucket
    * per band — the full n² cross product LSH exists to avoid), and a
    * non-dividing band count would silently ignore the trailing lanes
    * while the agreement estimate still divides by k. */
  def lshBandKeys(signature: Column, k: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k exactly (got k=$k, bands=$bands)")
    val rows = k / bands
    array((0 until bands).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        xxhash64(concat_ws(",",
          (0 until rows).map(r => element_at(signature, bIdx * rows + r + 1)): _*))
          .as("bucket"))
    }: _*)
  }

  /** MinHash-LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * Plan shape (the scalable shape): per-doc signature (narrow) → explode
    * bands (×bands) → shuffle on (band, bucket) → within-bucket self-join →
    * distinct pairs → signature-agreement estimate. The only join is
    * bucket-local; `maxBucketSize` caps skewed mega-buckets (see inline
    * note) so one template band can't re-create the quadratic blowup.
    */
  def minhashCandidates(docs: DataFrame, shingleN: Int = 3, k: Int = 32,
                        bands: Int = 8, threshold: Double = 0.5,
                        maxBucketSize: Int = 0): DataFrame = {
    val signed = minhashSignatures(docs, shingleN, k)
    val allBands = signed
      .select(col("doc_id"), col("sig"),
        explode(lshBandKeys(col("sig"), k, bands)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // Mega-bucket cap (maxBucketSize > 0): DROP buckets larger than the
    // cap before the self-join — an s-doc bucket contributes s·(s−1)/2
    // candidate pairs, so one boilerplate-driven bucket (every doc sharing
    // a template band) re-creates the quadratic blowup LSH exists to avoid.
    // Pairs inside a dropped bucket survive iff they also collide in a
    // below-cap band (multi-band redundancy is the recall cushion); output
    // is exactly the uncapped output whenever no bucket exceeds the cap.
    // Window count shuffles on the same (band, bucket) key the join needs.
    val exploded =
      if (maxBucketSize <= 0) allBands
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))
        allBands.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
      }
    val a = exploded.as("a")
    val b = exploded.as("b")
    // codegen'd agreement fraction: signatures are exactly k wide, so
    // matches/min(len) == matches/k; the zip_with+filter+size HOF form
    // this replaces ran interpreted once per banded co-occurrence
    val est = graft.functions.expressions.VectorExpressions
      .agreementNative(col("a.sig"), col("b.sig"))
    a.join(b, col("a.band") === col("b.band") &&
             col("a.bucket") === col("b.bucket") &&
             col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        est.as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // --- SimHash --------------------------------------------------------------

  /** 64-bit SimHash from token hashes: per-bit majority vote over xxhash64
    * of each token, built entirely from column expressions (no UDF).
    *
    * NOTE: this column form runs 64 interpreted higher-order passes per
    * row; the bulk path is [[simhashes]] (same values, codegen'd
    * aggregation). */
  def simhash(text: Column): Column = {
    val hashes = transform(TextFunctions.tokens(text), w => xxhash64(w))
    val n = size(hashes)
    (0 until 64).map { j =>
      val mask = 1L << j
      val ones = size(filter(hashes, h => h.bitwiseAND(lit(mask)) =!= 0L))
      when(ones * 2 > n, lit(mask)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Bulk SimHash: one (doc_id, block, sh) row per document via
    * explode(tokens) → 64 codegen'd conditional sums. Majority vote as a
    * signed sum (+1 if bit set, −1 otherwise; bit set in the result iff
    * the sum is positive) — algebraically identical to the `ones*2 > n`
    * rule of [[simhash]], but the whole computation stays inside
    * whole-stage codegen with map-side partial aggregation; the shuffle
    * carries 64 longs per document, never the tokens. */
  def simhashes(docs: DataFrame, blockCol: String,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val exploded = docs
      .select(col(idCol), col(blockCol).as("block"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .select(col(idCol), col("block"), xxhash64(col("w")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1))
        .as(s"b$j")
    }
    exploded.groupBy(col(idCol), col("block"))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), col("block"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Hamming distance between two 64-bit simhashes (popcount via bit_count). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a blocking column, at most `maxDistance`
    * differing bits, via a pairwise join — O(n²) per block. Kept ONLY as a
    * small-data oracle for [[simhashBandedPairs]]; the banded form is the
    * one that scales. */
  def simhashPairsExhaustive(docs: DataFrame, maxDistance: Int = 16,
                             blockCol: String = "source"): DataFrame = {
    val hashed = simhashes(docs, blockCol)
    val a = hashed.as("a")
    val b = hashed.as("b")
    a.join(b, col("a.block") === col("b.block") &&
             col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** SimHash near-dup pairs via banded candidate generation (the
    * Manku/Google scheme): split the 64-bit simhash into `bands` contiguous
    * bands; any pair within Hamming distance < `bands` must agree on at
    * least one whole band (pigeonhole), so the join key is
    * (band index, band value) and the only cross product is within a
    * band-value bucket. With the default 4 bands × 16 bits there are 2^16
    * bucket values per band, so bucket occupancy — and hence join cost —
    * stays bounded as the corpus grows; the exhaustive per-block join this
    * replaces was quadratic in block size.
    *
    * Output is EXACTLY equal to [[simhashPairsExhaustive]] whenever
    * `maxDistance < bands` (verified in DedupSpec); the band join is pure
    * candidate generation, the Hamming filter re-checks every candidate.
    */
  def simhashBandedPairs(docs: DataFrame, maxDistance: Int = 3,
                         bands: Int = 4,
                         blockCol: String = "source"): DataFrame = {
    require(maxDistance < bands,
      s"banded recall guarantee needs maxDistance < bands " +
        s"(got d=$maxDistance, bands=$bands)")
    val bits = 64 / bands
    val hashed = simhashes(docs, blockCol)
    // band value = bits [b*bits, (b+1)*bits) of the simhash
    def bandVal(sh: Column, b: Int): Column = {
      val shifted = shiftrightunsigned(sh, b * bits)
      if (bits >= 64) shifted
      else shifted.bitwiseAND(lit((1L << bits) - 1L))
    }
    val exploded = hashed.select(col("doc_id"), col("block"), col("sh"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandVal(col("sh"), b).as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("block"), col("sh"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
             col("a.block") === col("b.block") &&
             col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .distinct() // a pair can agree on several bands
  }
}
