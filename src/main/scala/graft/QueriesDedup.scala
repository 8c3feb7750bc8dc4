package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.CdcEnvelope
import graft.operators.{Batching, Enrichment, Filters, PartitionKeys}
import graft.functions.{Dedup, Multimodal, Similarity, TextFunctions => TF}

/** Deduplication and corpus-management entries (documents).
  *
  * One slice of the [[Queries]] catalog — registrations run at
  * trait initialization, in the linearization order [[Queries]]
  * declares, so the catalog order is identical to the pre-split
  * single file. */
private[graft] trait QueriesDedup { this: QueryDomain =>

  // ==========================================================================
  // Deduplication (documents)
  // ==========================================================================

  register("dedup_exact_docs", Some(
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  count(*) - count(DISTINCT md5(text)) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin)) { (s, dir) =>
    Dedup.exactStats(Tables.documents(s, dir), "source")
  }

  register("dedup_exact_keep", Some(
    """SELECT doc_id, source, n_chars FROM documents
      |QUALIFY row_number() OVER
      |  (PARTITION BY md5(text) ORDER BY doc_id) = 1""".stripMargin)) { (s, dir) =>
    // The materialized form of exact dedup: keep the lowest-id
    // representative per distinct content. One shuffle on the digest.
    Dedup.exact(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  register("dedup_ngram_jaccard", Some(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.source AS source,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS inter,
      |    len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams)) AS uni
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT source,
      |    CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)
      |         ELSE 0.0 END AS jac
      |  FROM p)
      |SELECT source, count(*) AS n_pairs,
      |  count(*) FILTER (WHERE jac >= 0.2) AS n_sim_pairs,
      |  CAST(SUM(CAST(jac AS DECIMAL(38,6))) AS DOUBLE) AS sum_jaccard
      |FROM j GROUP BY 1""".stripMargin)) { (s, dir) =>
    // sparse shared-ngram join — identical output to aggregating the
    // pairwise form (the oracle literally IS the pairwise form), but no
    // per-block cross product in the plan.
    Dedup.ngramJaccardStats(Tables.documents(s, dir), 3, "source",
        simThreshold = 0.2)
      .withColumnRenamed("block", "source")
  }

  register("dedup_jaccard_prefix", Some(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS inter,
      |    len(a.ngrams) + len(b.ngrams)
      |      - len(list_intersect(a.ngrams, b.ngrams)) AS uni
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT source, doc_a, doc_b,
      |  round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
      |FROM p
      |WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.02""".stripMargin)) { (s, dir) =>
    // Prefix-filtered EXACT Jaccard pairs (Bayardo/Chaudhuri all-pairs):
    // candidates come only from each doc's rarest |d|−⌈τ|d|⌉+1 shingles
    // under a global rarest-first order — provably LOSSLESS pruning
    // (unlike maxDf, which trades recall), so the entry hash-matches the
    // brute-force pairwise oracle exactly. Boilerplate shingles have
    // near-maximal df, sort to the end of every document, and never
    // reach the posting-list join — the skew hazard handled exactly
    // rather than capped (pruning power grows with τ; DedupSpec's
    // boilerplate fixture shows zero admitted candidates at τ=0.5 where
    // the posting-list form materializes the full quadratic mass).
    // τ here = 0.02, the fuzzy-dedup family's operating threshold on
    // this corpus. DedupSpec proves output identity with the
    // posting-list form across thresholds.
    Dedup.prefixJaccardPairs(Tables.documents(s, dir), 3, "source",
        minJaccard = 0.02)
      .withColumnRenamed("block", "source")
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  register("dedup_fuzzy_join", Some(
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |lg AS (SELECT doc_id AS left_id, len(ngrams) AS sza,
      |         unnest(ngrams) AS g FROM d WHERE doc_id < 50),
      |rg AS (SELECT doc_id AS right_id, len(ngrams) AS szb,
      |         unnest(ngrams) AS g FROM d WHERE doc_id >= 50),
      |p AS (SELECT left_id, right_id, max(sza) AS sza, max(szb) AS szb,
      |        count(*) AS inter
      |      FROM lg JOIN rg USING (g) GROUP BY 1, 2)
      |SELECT left_id, right_id,
      |  round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.02""".stripMargin)) { (s, dir) =>
    // FUZZY JOIN across two tables (record linkage / feed reconciliation):
    // the incoming slice (doc_id < 50) matched against the existing
    // corpus by exact shingle Jaccard, candidates through PPJoin prefix
    // filtering under ONE common rarest-first order over both sides'
    // union — lossless, so the entry hash-matches the brute posting-list
    // oracle exactly, with no cross product on either engine. DedupSpec
    // proves candidate completeness and brute-force identity.
    val docs = Tables.documents(s, dir)
    Dedup.fuzzyJoin(docs.filter(col("doc_id") < 50),
        docs.filter(col("doc_id") >= 50), n = 3, minJaccard = 0.02)
      .select(col("left_id"), col("right_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  register("dedup_containment", Some(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS inter,
      |    len(a.ngrams) AS sa, len(b.ngrams) AS sb
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ngrams, b.ngrams)) > 0),
      |c AS (
      |  SELECT source, doc_a AS inner_doc, doc_b AS outer_doc,
      |    CAST(inter AS DOUBLE) / sa AS containment FROM p
      |  UNION ALL
      |  SELECT source, doc_b, doc_a, CAST(inter AS DOUBLE) / sb FROM p)
      |SELECT source, inner_doc, outer_doc,
      |  round(containment, 6) AS containment
      |FROM c WHERE containment >= 0.3""".stripMargin)) { (s, dir) =>
    // DIRECTED containment (Broder 1997): |S_in ∩ S_out| / |S_in| — the
    // asymmetric near-dup measure Jaccard misses: a short doc quoted
    // verbatim inside a long one scores ~1.0 here while its Jaccard is
    // diluted by the long side's union. Same single posting-list shuffle
    // as dedup_ngram_jaccard (the direction split is a narrow projection);
    // the df cap ships ON and is non-binding at fixture scale, so the
    // brute-force pairwise oracle is computed against identical results.
    Dedup.containmentPairs(Tables.documents(s, dir), 3, "source",
        minContainment = 0.3, maxDf = Dedup.DefaultMaxDf)
      .withColumnRenamed("block", "source")
      .select(col("source"), col("inner_doc"), col("outer_doc"),
        round(col("containment"), 6).as("containment"))
  }

  register("corpus_ngram_novelty", Some(
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(ngrams) AS gram FROM d),
      |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
      |SELECT g.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS novelty
      |FROM g JOIN f ON g.gram = f.gram
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // Marginal-content curve: per document, the fraction of its distinct
    // trigrams NOT seen in any lower-id document — the diminishing-
    // returns measurement a curation pass reads to decide when a source
    // is mined out (novelty trending to ~0 = the crawler is re-reading
    // the same site). First-occurrence attribution is one gram-keyed
    // min() (partial-agg'd — the shuffle carries distinct grams), joined
    // back to the per-doc gram stream; no windows, no self-join, two
    // keyed shuffles at any corpus size. Hashed vs string gram identity
    // agrees absent collisions, as for every n-gram entry.
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(Dedup.ngramSet(col("text"), 3)).as("g"))
    val firstSeen = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  register("dedup_weighted_jaccard", Some(
    """WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS w
      |           FROM documents),
      |g AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(w) - 1),
      |    i -> array_to_string(w[i:i+2], ' '))) AS gram
      |  FROM t WHERE len(w) >= 3),
      |c AS (SELECT doc_id, source, gram, count(*) AS cnt
      |      FROM g GROUP BY 1, 2, 3),
      |sz AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS sz
      |       FROM c GROUP BY 1),
      |p AS (SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS inter
      |      FROM c a JOIN c b ON a.source = b.source AND a.gram = b.gram
      |        AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3)
      |SELECT p.source, p.doc_a, p.doc_b,
      |  round(CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter), 6)
      |    AS weighted_jaccard
      |FROM p
      |JOIN sz sa ON sa.doc_id = p.doc_a
      |JOIN sz sb ON sb.doc_id = p.doc_b
      |WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.02"""
      .stripMargin)) { (s, dir) =>
    // MULTISET Jaccard — the frequency-aware member of the dedup family:
    // repetition changes the score where the distinct-set form is blind
    // (a paragraph pasted 40x has set-J 1.0 against the single paragraph,
    // J_w ≈ 0.025). Occurrence-indexed posting keys (gram, k<=count) make
    // the pair co-occurrence count equal Σ min(c_a,c_b) exactly — same
    // two keyed shuffles as dedup_ngram_jaccard, never a per-pair
    // multiset. The oracle replays min/max multiset arithmetic from the
    // string n-grams; hashed vs string gram identity agrees absent
    // collisions (none on the fixtures — the same contract every other
    // n-gram entry pins).
    Dedup.weightedJaccardPairs(Tables.documents(s, dir), 3, "source",
        minSim = 0.02, maxDf = Dedup.DefaultMaxDf)
      .withColumnRenamed("block", "source")
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("weighted_jaccard"), 6).as("weighted_jaccard"))
  }

  register("dedup_edit_distance", Some(
    """WITH d AS (
      |  SELECT doc_id, source, text, length(text) AS len
      |  FROM documents WHERE length(text) >= 12),
      |g AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(1, len - 10),
      |      i -> substr(text, i, 12)))) AS gram
      |  FROM d),
      |c AS (
      |  SELECT DISTINCT a.source AS source,
      |    a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM g a JOIN g b
      |    ON a.source = b.source AND a.gram = b.gram
      |      AND a.doc_id < b.doc_id)
      |SELECT c.source, c.doc_a, c.doc_b,
      |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
      |FROM c
      |JOIN d da ON da.doc_id = c.doc_a
      |JOIN d db ON db.doc_id = c.doc_b
      |WHERE abs(da.len - db.len) <= 60
      |  AND levenshtein(da.text, db.text) <= 60""".stripMargin)) { (s, dir) =>
    // CHARACTER-level near-dup: q-gram blocking (Gravano VLDB'01) + banded
    // Levenshtein verify — catches typo-farm/template-fill/OCR variants
    // whose token SETS barely move. Candidates are the same posting-list
    // shape as the Jaccard family (lossless for docs >= q·(d+1) chars);
    // verify is Spark's thresholded levenshtein — O(d·len) per pair, not
    // O(len²). The df cap ships ON (non-binding here: max q-gram df 53 at
    // sf0.1 vs cap 256, so the oracle's uncapped replay is identical).
    Dedup.editDistancePairs(Tables.documents(s, dir), maxDist = 60, q = 12,
        blockCol = "source", maxDf = Dedup.DefaultMaxDf)
      .withColumnRenamed("block", "source")
      .select(col("source"), col("doc_a"), col("doc_b"), col("dist"))
  }

  register("dedup_group_components", Some(
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS isz,
      |    len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams)) AS usz
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
      |e AS (
      |  SELECT da AS eu, db AS ev FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02
      |  UNION
      |  SELECT db, da FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02),
      |reach(ru, rv) AS (
      |  SELECT eu, ev FROM e
      |  UNION
      |  SELECT r.ru, e2.ev FROM reach r JOIN e e2 ON e2.eu = r.rv)
      |SELECT ru AS doc_id, least(ru, min(rv)) AS group_id
      |FROM reach GROUP BY ru""".stripMargin)) { (s, dir) =>
    // Near-dup GROUPS, not just pairs: posting-list candidate edges →
    // min-label propagation. The oracle's recursive CTE computes the full
    // transitive closure (|C|² per component — fine at fixture scale,
    // exactly what the iterative form avoids at corpus scale). The df cap
    // ships ON (non-binding at fixture scale — oracle unchanged; see
    // Dedup.DefaultMaxDf for the 100 TB rationale).
    val edges = Dedup.ngramSimilarPairs(Tables.documents(s, dir), 3,
      blockCol = "source", minJaccard = 0.02, maxDf = Dedup.DefaultMaxDf)
    graft.functions.Components.connectedComponents(edges, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component").as("group_id"))
  }

  register("corpus_dedup_fuzzy", Some(
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS isz,
      |    len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams)) AS usz
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
      |e AS (
      |  SELECT da AS eu, db AS ev FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02
      |  UNION
      |  SELECT db, da FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02),
      |reach(ru, rv) AS (
      |  SELECT eu, ev FROM e
      |  UNION
      |  SELECT r.ru, e2.ev FROM reach r JOIN e e2 ON e2.eu = r.rv),
      |g AS (SELECT ru AS doc_id, least(ru, min(rv)) AS gid FROM reach GROUP BY ru)
      |SELECT d2.doc_id, d2.source FROM documents d2
      |LEFT JOIN g ON d2.doc_id = g.doc_id
      |WHERE g.doc_id IS NULL OR g.gid = d2.doc_id""".stripMargin)) { (s, dir) =>
    // The END-TO-END fuzzy dedup a pipeline actually ships (the fuzzy
    // analog of dedup_exact_keep): candidate edges → connected components
    // → keep each component's smallest doc_id plus every untouched doc.
    // The component map covers only docs with a near-dup — tiny next to
    // the corpus — so AQE promotes this join to a broadcast from its
    // observed size (no hint: a FORCED broadcast would OOM on a
    // pathological corpus where most docs have near-dups, where this
    // degrades to a shuffle join). Oracle = the group query's recursive
    // CTE, finished with the representative filter.
    val docs = Tables.documents(s, dir)
    val edges = Dedup.ngramSimilarPairs(docs, 3,
      blockCol = "source", minJaccard = 0.02, maxDf = Dedup.DefaultMaxDf)
    val comp = graft.functions.Components
      .connectedComponents(edges, "doc_a", "doc_b")
    docs.join(comp, docs("doc_id") === comp("node"), "left")
      .filter(col("node").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"), col("source"))
  }

  register("corpus_dedup_fuzzy_best", Some(
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    len(list_intersect(a.ngrams, b.ngrams)) AS isz,
      |    len(a.ngrams) + len(b.ngrams) - len(list_intersect(a.ngrams, b.ngrams)) AS usz
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id),
      |e AS (
      |  SELECT da AS eu, db AS ev FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02
      |  UNION
      |  SELECT db, da FROM p
      |  WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02),
      |reach(ru, rv) AS (
      |  SELECT eu, ev FROM e
      |  UNION
      |  SELECT r.ru, e2.ev FROM reach r JOIN e e2 ON e2.eu = r.rv),
      |g AS (SELECT ru AS doc_id, least(ru, min(rv)) AS gid FROM reach GROUP BY ru),
      |t AS (
      |  SELECT doc_id, source, length(text) AS n,
      |    len(str_split(text, ' ')) AS n_tokens,
      |    len(list_filter(str_split(text, ' '),
      |      x -> x IN ('the','a','an','of','and','to','in','is','on','for'))) AS stop_ct,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_ct,
      |    n_chars
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source, round(
      |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
      |      + least(CAST(stop_ct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0) * 0.4
      |      + (1.0 - least(CAST(punct_ct AS DOUBLE) / CAST(n AS DOUBLE) * 10.0, 1.0)) * 0.2,
      |    6) AS quality
      |  FROM t),
      |m AS (
      |  SELECT q.doc_id, q.source, q.quality,
      |    COALESCE(g.gid, q.doc_id) AS gid
      |  FROM q LEFT JOIN g ON q.doc_id = g.doc_id),
      |r AS (
      |  SELECT doc_id, source, quality, row_number() OVER (
      |    PARTITION BY gid ORDER BY quality DESC, doc_id) AS rn
      |  FROM m)
      |SELECT doc_id, source, quality FROM r WHERE rn = 1""".stripMargin)) { (s, dir) =>
    // QUALITY-AWARE fuzzy dedup: corpus_dedup_fuzzy keeps each
    // component's smallest doc_id — the arbitrary-but-deterministic
    // choice; a curation pipeline should keep the BEST copy (the
    // canonical RefinedWeb/FineWeb move: among near-dups, drop the
    // low-quality variants, not whichever crawled second). Same candidate
    // edges + connected components; the representative is argmax by
    // (6-dp-rounded quality, doc_id tiebreak). The argmax window runs
    // ONLY over component members (component map is model-sized next to
    // the corpus — AQE broadcasts both membership joins); untouched docs
    // bypass via anti-join, so no corpus-wide window exists in the plan.
    val docs = Tables.documents(s, dir)
    val edges = Dedup.ngramSimilarPairs(docs, 3,
      blockCol = "source", minJaccard = 0.02, maxDf = Dedup.DefaultMaxDf)
    val comp = graft.functions.Components
      .connectedComponents(edges, "doc_a", "doc_b")
    val scored = docs.select(col("doc_id"), col("source"),
      TF.qualityScore(col("text"), col("n_chars")).as("quality"))
    val dupBest = {
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.join(comp, scored("doc_id") === comp("node"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("source"), col("quality"))
    }
    val untouched = scored.join(comp,
      scored("doc_id") === comp("node"), "left_anti")
    untouched.unionByName(dupBest)
  }

  register("corpus_split_leakage", Some(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS b,
      |    CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END AS ngrams
      |  FROM documents),
      |s AS (SELECT doc_id,
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |    len(list_intersect(a.ngrams, b2.ngrams)) AS isz,
      |    len(a.ngrams) + len(b2.ngrams) - len(list_intersect(a.ngrams, b2.ngrams)) AS usz
      |  FROM d a JOIN d b2 ON a.source = b2.source AND a.doc_id < b2.doc_id)
      |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
      |  round(CAST(isz AS DOUBLE) / usz, 6) AS jaccard
      |FROM p JOIN s sa ON p.doc_a = sa.doc_id JOIN s sb ON p.doc_b = sb.doc_id
      |WHERE usz > 0 AND CAST(isz AS DOUBLE) / usz >= 0.02
      |  AND sa.split <> sb.split""".stripMargin)) { (s, dir) =>
    // Split-leakage audit: near-duplicate pairs that STRADDLE the
    // content-hash train/val/test boundary — the eval-contamination a
    // document-level split cannot prevent (near-dups hash apart). Pairs
    // come from the posting-list ngram join (never a cross product); the
    // split map is a scan-local md5 bucket, so the audit adds two keyed
    // joins of the (small) pair list against doc ids. Both legs are
    // engine-portable, so the whole audit is under the DuckDB oracle.
    val docs = Tables.documents(s, dir)
    val split = graft.functions.CorpusOps.withSplit(docs)
      .select(col("doc_id"), col("split"))
    Dedup.ngramSimilarPairs(docs, 3, blockCol = "source", minJaccard = 0.02,
        maxDf = Dedup.DefaultMaxDf)
      .join(split.select(col("doc_id").as("__ida"), col("split").as("split_a")),
        col("doc_a") === col("__ida"))
      .join(split.select(col("doc_id").as("__idb"), col("split").as("split_b")),
        col("doc_b") === col("__idb"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  register("dedup_minhash_lsh", None) { (s, dir) =>
    // Mega-bucket cap ships ON (non-binding at fixture scale — output
    // unchanged; see Dedup.DefaultMaxBucketSize for the 100 TB rationale).
    Dedup.minhashCandidates(Tables.documents(s, dir),
      shingleN = 3, k = 32, bands = 16, threshold = 0.2,
      maxBucketSize = Dedup.DefaultMaxBucketSize)
  }

  register("dedup_simhash", None) { (s, dir) =>
    // Banded (Manku-style) candidate generation — identical output to the
    // exhaustive pairwise form (DedupSpec proves equality on real data) but
    // with bucket-local joins instead of an O(n²) per-block cross product.
    Dedup.simhashBandedPairs(Tables.documents(s, dir),
      maxDistance = 3, bands = 4, blockCol = "source")
  }

  register("dedup_incremental_index", None) { (s, dir) =>
    // The PERSISTED dedup index — incremental fuzzy dedup across ingest
    // generations: signatures and band buckets computed once per doc and
    // stored; a delta joins its buckets against the layout (delta side
    // small → AQE broadcasts it, the index is scanned, never shuffled)
    // and appends itself for the next generation. DedupIndexSpec proves
    // write(day1) + newPairs(day2) == full-batch recompute EXACTLY,
    // estimates included. no_oracle (xxhash64 signatures, like the other
    // LSH entries).
    val docs = Tables.documents(s, dir)
    val day1 = docs.filter(col("doc_id") % 2 === 0)
    val day2 = docs.filter(col("doc_id") % 2 === 1)
    val path = s"$sinkRoot/dedup-index-${dir.replaceAll("[^0-9.]", "")}"
    graft.functions.DedupIndex.write(day1, path, shingleN = 3, k = 32,
      bands = 16)
    graft.functions.DedupIndex.newPairs(day2, path, threshold = 0.2,
      maxBucketSize = Dedup.DefaultMaxBucketSize)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  register("stream_dedup_minhash", None) { (s, dir) =>
    // Dedup-at-ingest: the documents feed replayed as a stream through the
    // bucket-keyed incremental LSH state op (each arrival probes only its
    // own band buckets — per-doc cost independent of corpus size), then the
    // distinct pair set. StreamingDedupSpec proves this equals the batch
    // operator's output exactly, including pairs across micro-batches;
    // xxhash64 signatures keep it outside the SQL oracle like the batch
    // LSH entry.
    val schema = Tables.documents(s, dir).schema
    // the fixture is one parquet FILE; the file stream source wants a
    // directory, so stream the parent with a glob pinned to this table
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    // same mega-bucket cap as the batch twin (dedup_minhash_lsh): a
    // boilerplate band bucket stops ADMITTING at the cap but keeps
    // probing, so state stays bounded while pairs against admitted docs
    // still surface (cap semantics proven in StreamingDedupSpec)
    val pairs = graft.streaming.StreamingDedup.minhashCandidates(
      stream, shingleN = 3, k = 32, bands = 16, threshold = 0.2,
      maxBucketSize = graft.functions.Dedup.DefaultMaxBucketSize)
    val sink = s"stream_dedup_${dir.replaceAll("[^0-9]", "")}"
    // bucket-membership state belongs off-heap at corpus scale: pin the
    // RocksDB provider for this query (the same default CdcPipeline
    // ships); keyed state here is KBs-MBs, so 8 fat state stores beat 32
    // per-trigger store open/commit cycles (PipelineConfig scaladoc)
    drainToMemory(s, pairs, sink, s"$sinkRoot/$sink-ckpt", "append",
        Some(graft.streaming.CdcPipeline.RocksDBProvider), Some(8))
      .groupBy(col("docA").as("doc_a"), col("docB").as("doc_b"))
      .agg(first(col("estJaccard")).as("est_jaccard"))
  }

  register("stream_ingest_day", None) { (s, dir) =>
    // The COMPOSED "one day of corpus ingest" — every stage is an operator
    // oracled/spec'd on its own elsewhere; this entry proves they STACK:
    // stream → quarantine fork (DLQ) → dedup-index gate → index append →
    // replica table → zone-mapped sink, all keyed on batchId (exactly-once
    // end-to-end; IngestDaySpec proves stream == batch-driven chain and
    // replay idempotence). Day-1 docs seed the index; day-2 streams in 2
    // micro-batches — batch 1 gates against BOTH day-1 history and batch 0,
    // so cross-batch index growth is exercised; more batches only repeat
    // the per-batch fixed costs (~15 jobs each: 5 persisted stages).
    // no_oracle (xxhash64 minhash gate), rows-only check here + the
    // spec's equivalence gates.
    import graft.streaming._
    import graft.operators.Quality
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val tag = dir.replaceAll("[^0-9.]", "")
    val base = s"$sinkRoot/stream-ingest-day-$tag"
    val docs = Tables.documents(s, dir)
    val day1 = docs.filter(col("doc_id") % 2 === 0)
    val day2 = docs.filter(col("doc_id") % 2 === 1)
    // stage day-2 as 2 flat files → 2 deterministic micro-batches
    val src = s"$base/source-2b"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$src/_STAGED"))) {
      (0 until 2).foreach { i =>
        val tmp = s"$base/stage-tmp/b$i"
        day2.filter(pmod(col("doc_id"), lit(4L)) === 2 * i + 1)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
        fs.mkdirs(new org.apache.hadoop.fs.Path(src))
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/b$i.parquet"))
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/stage-tmp"), true)
      fs.create(new org.apache.hadoop.fs.Path(s"$src/_STAGED"), true).close()
    }
    // fresh mutable state per invocation => deterministic full replay
    Seq("checkpoint", "out", "dlq", "replica", "index").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/$d"), true))
    graft.functions.DedupIndex.write(day1, s"$base/index",
      shingleN = 3, k = 32, bands = 16)
    val primary = new FileDestination(s"$base/out",
      graft.sources.OutFormat.Parquet, graft.sources.OutCompression.Snappy,
      graft.operators.KeyStrategy.Flat, zoneMapCols = Seq("doc_id"))
    val dlq = new FileDestination(s"$base/dlq",
      graft.sources.OutFormat.Parquet, graft.sources.OutCompression.Snappy,
      graft.operators.KeyStrategy.Flat)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    awaitDrained(CdcPipeline.startQuery(s, None, None) {
      IngestDay.run(stream, s"$base/index", s"$base/replica",
          primary, dlq, checks = Seq(Quality.NotNull("text"),
            Quality.InRange("n_chars", 60, 1e12)), threshold = 0.5)
        .option("checkpointLocation", s"$base/checkpoint")
        .trigger(Trigger.AvailableNow()).start()
    })
    // a destination whose every batch was empty leaves only _SUCCESS
    // markers — no parquet files to infer from; count that as 0
    def countDest(p: String): Long = {
      val parts = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$p/*/part-*"))
      if (parts == null || parts.isEmpty) 0L
      else s.read.parquet(p).count()
    }
    val landed = countDest(s"$base/out")
    val quarantined = countDest(s"$base/dlq")
    val replicaRows = ReplicaTable.read(s, s"$base/replica").count()
    val gated = day2.count() - quarantined - landed
    Seq(("landed", landed), ("quarantined", quarantined),
        ("dedup_gated", gated), ("replica_rows", replicaRows))
      .toDF("stage", "n_docs").orderBy("stage")
  }

  register("stream_token_budget", Some(
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
      |    AND text IS NOT NULL),
      |c AS (SELECT *, sum(tok) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum FROM t)
      |SELECT source, count(*) AS n_admitted,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens
      |FROM c WHERE coalesce(cum, 0) < 800 GROUP BY 1""".stripMargin)) {
    (s, dir) =>
    // Token-budget admission AT INGEST (the streaming twin of
    // corpus_sample_token_budget): each source admits documents in arrival
    // order until its budget is spent — state is one counter per source.
    // ORACLED through the runtime: the source stages as ONE file under
    // AvailableNow, so the whole corpus arrives in a single trigger and
    // arrival order IS the operator's deterministic within-trigger id
    // order — exactly the one-window-per-source prefix-sum the SQL
    // replays (admit while tokens spent BEFORE < budget). The
    // multi-trigger semantics (cross-batch saturation, the overshoot
    // bound, replay determinism) stay spec'd in StreamingQuotaSpec —
    // the oracle pins the single-trigger case end-to-end through the
    // real streaming runtime, state store included.
    val schema = Tables.documents(s, dir).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val admitted = graft.streaming.StreamingQuota
      .admitByTokenBudget(stream, tokensPerGroup = 800)
    val sink = s"stream_quota_${dir.replaceAll("[^0-9]", "")}"
    // keyed state here is KBs-MBs: 8 fat RocksDB state stores beat 32
    // per-trigger store open/commit cycles (PipelineConfig scaladoc)
    drainToMemory(s, admitted, sink, s"$sinkRoot/$sink-ckpt", "append",
        Some(graft.streaming.CdcPipeline.RocksDBProvider), Some(8))
      .groupBy(col("group").as("source"))
      .agg(count(lit(1)).as("n_admitted"), sum(col("nTokens")).as("n_tokens"))
  }

  register("corpus_clean_pipeline", Some {
    val scores = TF.langMarkers.map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(",")
      s"len(list_filter(str_split(text, ' '), x -> x IN ($inList))) AS s_$lang"
    }.mkString(",\n    ")
    val langs = TF.langMarkers.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(",")})"
    val cases = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source, lang, text,
       |    round(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
       |      + least(CAST(len(list_filter(str_split(text, ' '),
       |          x -> x IN ('the','a','an','of','and','to','in','is','on','for'))) AS DOUBLE)
       |        / CAST(len(str_split(text, ' ')) AS DOUBLE) * 5.0, 1.0) * 0.4
       |      + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |        / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2, 6) AS quality,
       |    $scores
       |  FROM documents),
       |m AS (SELECT *, $best AS m FROM t),
       |p AS (SELECT doc_id, source, lang, text, quality,
       |        CASE $cases ELSE 'und' END AS pred_lang FROM m),
       |q AS (SELECT * FROM p WHERE quality >= 0.5 AND pred_lang = lang),
       |d AS (SELECT * FROM q QUALIFY
       |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(CAST(list_sum(list_transform(str_split(text, ' '),
       |    w -> greatest(CAST(1 AS BIGINT), CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT)) AS BIGINT)
       |    AS total_bpe_tokens
       |FROM d GROUP BY 1""".stripMargin
  }) { (s, dir) =>
    // The composite cleaning pipeline every LLM corpus needs, chained from
    // the individual operators: quality gate -> language-agreement filter ->
    // exact dedup (keep lowest id per distinct text) -> per-source token
    // budget. All narrow except the dedup shuffle and the final aggregate.
    // corpus_clean_attrition below reports the same pipeline's per-stage
    // losses; its 'kept' bucket must agree with this entry's totals.
    val scored = Tables.documents(s, dir).select(
      col("doc_id"), col("source"), col("lang"), col("text"),
      TF.qualityScore(col("text"), col("n_chars")).as("quality"),
      TF.langId(col("text")).as("pred_lang"))
    val filtered = scored
      .filter(col("quality") >= 0.5 && col("pred_lang") === col("lang"))
    Dedup.exact(filtered)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.bpeTokenEstimate(col("text"))).as("total_bpe_tokens"))
  }

  register("corpus_clean_attrition", Some {
    val scores = TF.langMarkers.map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(",")
      s"len(list_filter(str_split(text, ' '), x -> x IN ($inList))) AS s_$lang"
    }.mkString(",\n    ")
    val langs = TF.langMarkers.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(",")})"
    val cases = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source, lang, text,
       |    round(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
       |      + least(CAST(len(list_filter(str_split(text, ' '),
       |          x -> x IN ('the','a','an','of','and','to','in','is','on','for'))) AS DOUBLE)
       |        / CAST(len(str_split(text, ' ')) AS DOUBLE) * 5.0, 1.0) * 0.4
       |      + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |        / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2, 6) AS quality,
       |    $scores
       |  FROM documents),
       |m AS (SELECT *, $best AS m FROM t),
       |p AS (SELECT doc_id, source, lang, text, quality,
       |        CASE $cases ELSE 'und' END AS pred_lang FROM m),
       |r AS (SELECT *, CASE
       |    WHEN quality < 0.5 THEN 'quality'
       |    WHEN pred_lang <> lang THEN 'lang'
       |    WHEN count(CASE WHEN quality >= 0.5 AND pred_lang = lang THEN 1 END)
       |           OVER (PARTITION BY md5(text) ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0
       |      THEN 'dedup'
       |    ELSE 'kept' END AS stage FROM p)
       |SELECT source, stage, count(*) AS n_docs,
       |  CAST(SUM(CAST(list_sum(list_transform(str_split(text, ' '),
       |    w -> greatest(CAST(1 AS BIGINT), CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT)) AS BIGINT)
       |    AS total_bpe_tokens
       |FROM r GROUP BY 1, 2""".stripMargin
  }) { (s, dir) =>
    // The cleaning pipeline's WATERFALL: every document attributed to the
    // first stage that drops it (quality -> lang -> dedup), kept docs in
    // 'kept' — the attrition report a curation run publishes next to its
    // output. Same stage semantics as corpus_clean_pipeline (the 'kept'
    // bucket equals that entry's corpus); one md5(text) window + one
    // partial-aggregated groupBy, everything else scan-local.
    graft.functions.CorpusOps.cleanAttrition(Tables.documents(s, dir))
  }

  register("corpus_split", Some(
    """SELECT doc_id,
      |  CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS split_bucket,
      |  CASE WHEN CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin)) { (s, dir) =>
    // deterministic content-hash train/val/test split (80/10/10)
    graft.functions.CorpusOps.withSplit(Tables.documents(s, dir))
      .select(col("doc_id"), col("split_bucket"), col("split"))
  }

  register("corpus_prepare_training", Some(
    """WITH d AS (
      |  SELECT doc_id, source, text, n_chars FROM documents
      |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |t AS (
      |  SELECT doc_id, source, text, length(text) AS n,
      |    len(str_split(text, ' ')) AS n_tokens,
      |    len(list_filter(str_split(text, ' '),
      |      x -> x IN ('the','a','an','of','and','to','in','is','on','for'))) AS stop_ct,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_ct,
      |    n_chars
      |  FROM d),
      |q AS (
      |  SELECT doc_id, source, text,
      |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
      |      + least(CAST(stop_ct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0) * 0.4
      |      + (1.0 - least(CAST(punct_ct AS DOUBLE) / CAST(n AS DOUBLE) * 10.0, 1.0)) * 0.2
      |      AS quality
      |  FROM t),
      |keep AS (
      |  SELECT doc_id, source, text FROM (
      |    SELECT doc_id, source, text, round(quality, 6) AS quality,
      |      percent_rank() OVER (PARTITION BY source
      |        ORDER BY round(quality, 6), doc_id) AS pr,
      |      count(*) OVER (PARTITION BY source) AS n_src
      |    FROM q) WHERE n_src = 1 OR pr >= 0.1),
      |tk AS (SELECT doc_id, source, str_split(text, ' ') AS toks FROM keep),
      |nn AS (SELECT doc_id, source, toks,
      |  greatest(1, CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT))
      |    AS nc FROM tk),
      |c AS (SELECT doc_id, source, toks,
      |  CAST(unnest(range(0, nc)) AS INT) AS chunk_idx FROM nn)
      |SELECT doc_id, source, chunk_idx,
      |  array_to_string(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ')
      |    AS chunk_text,
      |  CAST(len(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS INT)
      |    AS chunk_tokens
      |FROM c""".stripMargin)) { (s, dir) =>
    // The CORPUS-side composition under the FULL ORACLE (the batch
    // sibling of stream_ingest_day, which is gate-composed but
    // no_oracle): exact dedup (keep lowest-id representative) → adaptive
    // per-source quality floor (bottom decile dropped, rank-based) →
    // fixed-token chunking with overlap — three individually-oracled
    // operators STACKED, with DuckDB replaying the whole nested pipeline,
    // so stage composition itself sits under the hash gate. Plan: one
    // md5-keyed window + one source-keyed window + a scan-local explode.
    val deduped = graft.functions.Dedup.exact(Tables.documents(s, dir))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    val wn = Window.partitionBy(col("source"))
    val kept = deduped.select(col("doc_id"), col("source"), col("text"),
        TF.qualityScore(col("text"), col("n_chars")).as("quality"))
      .withColumn("__pr", percent_rank().over(w))
      .withColumn("__n", count(lit(1)).over(wn))
      .filter(col("__n") === 1 || col("__pr") >= 0.1)
      .select("doc_id", "source", "text")
    graft.functions.CorpusOps.chunkTokens(kept, chunkSize = 32, overlap = 8)
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        col("chunk_text"), col("chunk_tokens"))
  }

  register("corpus_chunk", Some(
    """WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS toks
      |           FROM documents),
      |n AS (SELECT doc_id, source, toks,
      |  greatest(1, CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT))
      |    AS nc FROM t),
      |c AS (SELECT doc_id, source, toks,
      |  CAST(unnest(range(0, nc)) AS INT) AS chunk_idx FROM n)
      |SELECT doc_id, source, chunk_idx,
      |  array_to_string(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ')
      |    AS chunk_text,
      |  CAST(len(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS INT)
      |    AS chunk_tokens
      |FROM c""".stripMargin)) { (s, dir) =>
    // Fixed-token chunking with overlap — the unit an embedding/packing
    // stage consumes. One scan-local explode per doc; chunk_idx is a
    // stable key for downstream caches.
    graft.functions.CorpusOps.chunkTokens(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        chunkSize = 32, overlap = 8)
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        col("chunk_text"), col("chunk_tokens"))
  }

  register("corpus_length_buckets", Some(
    """WITH t AS (
      |  SELECT doc_id, len(str_split(text, ' ')) AS n_tok FROM documents),
      |b AS (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN n_tok = 1 THEN 1
      |         ELSE 1 << length(printf('%b', n_tok - 1)) END AS bucket_cap
      |  FROM t WHERE n_tok >= 1),
      |g AS (SELECT CAST(max(n_tok) AS BIGINT) AS gmax FROM b)
      |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(sum(bucket_cap - n_tok) AS BIGINT) AS bucket_padding,
      |  CAST(sum(g.gmax - n_tok) AS BIGINT) AS flat_padding,
      |  round(CAST(sum(bucket_cap - n_tok) AS DOUBLE) /
      |    nullif(sum(g.gmax - n_tok), 0), 6) AS padding_ratio
      |FROM b CROSS JOIN g
      |GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin)) { (s, dir) =>
    // Sequence-length bucketing — the batching-efficiency decision
    // quantified: assign each doc its power-of-2 token-capacity bucket
    // and report, per bucket, the padding a bucketed batcher pays
    // (cap − len) against pad-to-global-max. padding_ratio IS the
    // decision number a dataloader design reads. The bucket boundary is
    // INTEGER arithmetic on both engines — smallest 2^p ≥ n via the
    // bit-length of n−1 (shiftleft here, printf('%b') in the oracle) —
    // never ceil(log2(n)): libm logs differ across engines at exact
    // powers of two and would silently shift a boundary doc one bucket.
    // One scan-local bucket assignment + one partial-aggregated groupBy
    // over ~log2(max_len) buckets; the 1-row global max broadcasts back.
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), size(TF.tokens(col("text"))).as("n_tok"))
      .filter(col("n_tok") >= 1)
    val b = toks.withColumn("bucket_cap",
      when(col("n_tok") === 1, 1L).otherwise(
        // expr form: the Scala shiftleft() signature pins numBits to a
        // literal Int; SQL's accepts the bit-length column
        expr("shiftleft(CAST(1 AS BIGINT), length(bin(n_tok - 1)))")))
    val g = b.agg(max(col("n_tok")).cast("long").as("gmax"))
    b.crossJoin(broadcast(g))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("sum_tokens"),
        sum(col("bucket_cap") - col("n_tok")).cast("long")
          .as("bucket_padding"),
        sum(col("gmax") - col("n_tok")).cast("long").as("flat_padding"))
      .withColumn("padding_ratio",
        round(col("bucket_padding").cast("double") /
          nullif(col("flat_padding"), lit(0)), 6))
      .select(col("bucket_cap"), col("n_docs"), col("sum_tokens"),
        col("bucket_padding"), col("flat_padding"), col("padding_ratio"))
      .orderBy(col("bucket_cap"))
  }

  register("corpus_pack", Some(
    """WITH t AS (SELECT doc_id, source, str_split(text, ' ') AS toks
      |           FROM documents),
      |n AS (SELECT doc_id, source, toks,
      |  greatest(1, CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT))
      |    AS nc FROM t),
      |c AS (SELECT doc_id, source,
      |  CAST(unnest(range(0, nc)) AS INT) AS chunk_idx, toks FROM n),
      |ck AS (SELECT doc_id, source, chunk_idx,
      |  CAST(len(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS INT)
      |    AS chunk_tokens FROM c),
      |r AS (SELECT *, SUM(chunk_tokens) OVER
      |  (PARTITION BY source ORDER BY doc_id, chunk_idx
      |   ROWS UNBOUNDED PRECEDING) AS e FROM ck)
      |SELECT source, CAST(FLOOR((e - chunk_tokens) / 256) AS BIGINT) AS seq_id,
      |  count(*) AS n_chunks, CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
      |FROM r GROUP BY 1, 2""".stripMargin)) { (s, dir) =>
    // Sequence packing: chunk (32 tokens, overlap 8) then pack to ~256-token
    // training sequences per source. The oracle replays the identical
    // chunk + running-sum arithmetic, so assignment matches row for row.
    val chunks = graft.functions.CorpusOps.chunkTokens(
      Tables.documents(s, dir).select("doc_id", "source", "text"),
      chunkSize = 32, overlap = 8)
    graft.functions.CorpusOps.packSequences(chunks, budget = 256)
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("n_tokens"))
  }

  register("corpus_pack_bestfit", None) { (s, dir) =>
    // Best-fit (FFD-in-cells) packing next to corpus_pack's greedy
    // contiguous form: the budget becomes a HARD bound (no overrun
    // sequence — greedy overruns by up to a chunk) and the sequence count
    // approaches ceil(Σtokens/budget). Bin packing is sequential, so the
    // corpus decomposes into capacity-bounded cells (one keyed window)
    // with exact FFD inside each, executor-side — no driver state.
    // no_oracle (the FFD loop isn't SQL); CorpusOpsSpec gates hard-budget,
    // losslessness, 11/9·LB+1 and fill ≥0.85, determinism, cell cuts.
    val chunks = graft.functions.CorpusOps.chunkTokens(
      Tables.documents(s, dir).select("doc_id", "source", "text"),
      chunkSize = 32, overlap = 8)
    graft.functions.CorpusOps.packSequencesBestFit(chunks, budget = 256)
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("n_tokens"))
  }

  register("corpus_sample_weighted", Some(
    """SELECT doc_id, source FROM documents
      |WHERE CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 <
      |  CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 50 ELSE 100 END
      |""".stripMargin)) { (s, dir) =>
    // The training-mix operator: deterministic per-source downsampling by
    // content hash (re-ingestion keeps the same sample). Narrow filter —
    // no shuffle at any scale.
    graft.functions.CorpusOps.sampleWeighted(Tables.documents(s, dir),
        Map("src0" -> 30, "src1" -> 50))
      .select(col("doc_id"), col("source"))
  }

  register("corpus_sample_weighted_k", Some(
    """WITH w AS (
      |  SELECT doc_id, source, n_chars,
      |    -ln((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) + 0.5)
      |        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT doc_id, source, n_chars, round(es_key, 6) AS es_key
      |FROM w ORDER BY es_key, doc_id LIMIT 100""".stripMargin)) { (s, dir) =>
    // Exact-k weighted sample WITHOUT replacement (Efraimidis-Spirakis):
    // precisely 100 documents with inclusion pressure proportional to
    // n_chars — the coreset/curriculum draw the rate-based sampler can't
    // express (its count only holds in expectation). Content-hash u makes
    // the draw deterministic and engine-portable; plan = scan-local key
    // projection + TakeOrdered(k), no full sort, driver state k rows.
    graft.functions.CorpusOps.sampleWeightedK(
        Tables.documents(s, dir), k = 100, weightCol = "n_chars")
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("es_key"), 6).as("es_key"))
  }

  register("stream_sample_weighted_k", Some(
    """WITH w AS (
      |  SELECT doc_id, source, n_chars,
      |    -ln((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) + 0.5)
      |        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT doc_id, source, n_chars, round(es_key, 6) AS es_key
      |FROM w ORDER BY es_key, doc_id LIMIT 100""".stripMargin)) { (s, dir) =>
    // The STREAMING leg of corpus_sample_weighted_k, under the SAME
    // oracle: the at-ingest reservoir (k-bounded mapGroupsWithState
    // state, one snapshot per trigger) must converge to EXACTLY the
    // batch draw — deterministic E-S keys make that set equality, the
    // strongest gate a streaming operator can carry. Two triggers prove
    // cross-batch displacement (an early winner evicted by a later,
    // better draw). The final ids are decorated batch-side (identity
    // re-rank of exactly those 100 rows) — the STREAM made the
    // selection.
    val tag = dir.replaceAll("[^0-9.]", "")
    val base = s"$sinkRoot/stream-wsample-$tag"
    val src = s"$base/source"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$src/_STAGED"))) {
      Tables.documents(s, dir)
        .select("doc_id", "source", "text", "n_chars")
        .repartition(4).write.mode("overwrite").json(src)
      orderPartFiles(s, src)
      markStaged(s, src)
    }
    val stream = s.readStream
      .schema("doc_id long, source string, text string, n_chars long")
      .option("maxFilesPerTrigger", "2")
      .json(src)
    val snaps = graft.streaming.StreamingSample
      .weightedK(stream, k = 100, weightCol = "n_chars")
    val qname = s"stream_wsample_${tag.replace(".", "_")}"
    val ids = drainToMemory(s, snaps, qname, s"$base/checkpoint", "update")
      .orderBy(desc("version")).limit(1)
      .select(explode(col("docIds")).as("doc_id"))
    graft.functions.CorpusOps.sampleWeightedK(
        Tables.documents(s, dir).join(ids, "doc_id"),
        k = 100, weightCol = "n_chars")
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("es_key"), 6).as("es_key"))
  }

  register("corpus_sample_stratified", Some(
    """WITH h AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) AS hv
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS pick_order
      |  FROM h)
      |SELECT doc_id, lang, pick_order FROM r WHERE pick_order <= 5""".stripMargin)) { (s, dir) =>
    // Exact-count stratified sampling: precisely 5 docs per language by
    // content-hash order — balanced-eval allocation, reproducible under
    // re-ingestion, rank-limited per stratum (never a global sort)
    graft.functions.CorpusOps.sampleStratifiedExact(
        Tables.documents(s, dir), n = 5, stratumCol = "lang")
      .select(col("doc_id"), col("lang"), col("pick_order"))
  }

  register("text_unigram_logprob", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
      |cf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS total FROM cf)
      |SELECT t.doc_id,
      |  round(CAST(-sum(CAST(ln(CAST(cf.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
      |    AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS nll
      |FROM toks t JOIN cf ON t.term = cf.term CROSS JOIN tot
      |GROUP BY t.doc_id""".stripMargin)) { (s, dir) =>
    // Corpus-LM document scoring (the CCNet-style perplexity filter, with
    // a unigram model standing in for the LM): per-token negative
    // log-likelihood under the corpus's own unigram distribution — docs of
    // rare/garbled tokens score high, boilerplate scores low. This is the
    // STATISTICS-based quality signal next to the heuristic one
    // (corpus_quality_cutoff): two keyed shuffles (term frequencies, the
    // per-doc aggregate) at any corpus size, the 1-row total broadcast.
    // Each log term is quantized to DECIMAL(38,9) before the order-free
    // decimal sum — ln() is not correctly-rounded-guaranteed across
    // engines, and the quantum absorbs the ulp while staying 1000x finer
    // than the 6-dp output tolerance.
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      explode(TF.tokens(col("text"))).as("term"))
    val cf = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = cf.agg(sum("cnt").as("total"))
    toks.join(cf, "term").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(
        -dsum(log(col("cnt").cast("double") / col("total").cast("double")), 9)
          / count(lit(1)), 6)
        .as("nll"))
  }

  register("text_bigram_logprob", Some(
    """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram, t[i] AS w1
      |  FROM toks, unnest(range(1, len(t))) AS u(i)),
      |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      |v AS (SELECT count(DISTINCT term) AS v FROM (
      |  SELECT unnest(str_split(text, ' ')) AS term FROM documents))
      |SELECT bg.doc_id,
      |  round(CAST(-sum(CAST(ln(
      |      (CAST(c2.c2 AS DOUBLE) + 0.5) /
      |      (CAST(c1.c1 AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE)))
      |    AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS nll2
      |FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
      |GROUP BY bg.doc_id""".stripMargin)) { (s, dir) =>
    // Bigram-LM document scoring — one order up from the unigram filter
    // (CCNet trains a 5-gram KenLM; the bigram is the honest step this
    // fixture's vocabulary supports): per-bigram NLL under the corpus's own
    // add-1/2-smoothed conditional P(w2|w1) = (c(w1w2)+0.5)/(c(w1·)+0.5V).
    // Repetitive/templated docs score LOW (their transitions are corpus-
    // frequent), garbled docs score HIGH — a sharper signal than unigram
    // NLL, which only sees token identity. Three keyed shuffles (bigram
    // counts, context counts, the per-doc aggregate); V is a 1-row
    // broadcast; same DECIMAL(38,9) log quantization as the unigram entry
    // so the order-free sum replays bit-identically in DuckDB. Docs with
    // fewer than two tokens have no bigrams and drop out — both engines
    // agree by construction.
    val docs = Tables.documents(s, dir)
    val bg = docs.select(col("doc_id"),
        explode(TF.tokenShingles(col("text"), 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c2 = bg.groupBy("bigram").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(TF.tokens(col("text"))).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    bg.join(c2, "bigram").join(c1, "w1").crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(round(
        -dsum(log((col("c2").cast("double") + lit(0.5)) /
          (col("c1").cast("double") + lit(0.5) * col("v").cast("double"))), 9)
          / count(lit(1)), 6)
        .as("nll2"))
  }

  register("corpus_mix_temperature", Some(
    """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |m AS (SELECT min(n) AS n_min FROM counts)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN m
      |WHERE CAST(('0x' || substring(md5(d.text), 1, 8)) AS BIGINT) % 1000000
      |  < CAST(floor(1000000.0 * sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n AS DOUBLE))) AS BIGINT)""".stripMargin)) { (s, dir) =>
    // Temperature-smoothed language mix (alpha=0.5): keep sqrt(n_min/n_l)
    // of each language — the fixture's en is ~3x the others, so this
    // genuinely rebalances (en keeps ~58%, the rest ~95-100%). Counts come
    // back as a broadcast; the keep decision is a scan-local content-hash
    // threshold — reproducible, no corpus shuffle. sqrt (not pow) so the
    // threshold replays bit-identically in DuckDB.
    graft.functions.CorpusOps.sampleTemperature(
        Tables.documents(s, dir), groupCol = "lang")
      .select(col("doc_id"), col("lang"))
  }

  register("corpus_shuffle_shard", Some(
    """WITH t AS (SELECT doc_id, md5('0:' || text) AS h FROM documents),
      |s AS (SELECT doc_id, h,
      |  CAST(CAST(('0x' || substring(h, 1, 8)) AS BIGINT) % 16 AS INT) AS shard
      |  FROM t)
      |SELECT doc_id, shard,
      |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS ord
      |FROM s""".stripMargin)) { (s, dir) =>
    // Deterministic epoch shuffle + sharding: salted content hash drives
    // both shard assignment and within-shard order — reproducible across
    // reruns/engines, one keyed exchange (the per-shard rank window),
    // shards hash-balanced by construction. Epoch 0 here; bumping the salt
    // reshuffles everything deterministically.
    graft.functions.CorpusOps.shuffleShard(Tables.documents(s, dir), nShards = 16)
      .select(col("doc_id"), col("shard"), col("ord").cast("long").as("ord"))
  }

  register("corpus_shard_manifest", Some(
    """WITH t AS (SELECT md5('0:' || text) AS h,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS tok FROM documents),
      |s AS (SELECT
      |    CAST(CAST(('0x' || substring(h, 1, 8)) AS BIGINT) % 16 AS INT)
      |      AS shard,
      |    tok, CAST(('0x' || substring(h, 17, 15)) AS BIGINT) AS dig FROM t)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens,
      |  bit_xor(dig) AS content_digest
      |FROM s GROUP BY shard""".stripMargin)) { (s, dir) =>
    // Reproducibility manifest for the epoch-0 shard layout: per-shard doc
    // and token counts plus an order-independent xor digest — a reader
    // fleet verifies a re-materialized epoch against this without touching
    // documents. Scan-local hashing, one partial-aggregated exchange.
    graft.functions.CorpusOps.shardManifest(Tables.documents(s, dir), nShards = 16)
  }

  register("corpus_decontaminate_semantic", Some(
    """WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
      |p AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, len(cv) + 1),
      |        i -> CAST(cv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE))),
      |      (a, b) -> a + b) AS dot,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS ncv,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nbv
      |  FROM c CROSS JOIN b),
      |m AS (SELECT vec_id,
      |  max(CASE WHEN ncv * nbv > 0 THEN dot / (ncv * nbv) ELSE 0.0 END)
      |    AS max_sim FROM p GROUP BY vec_id)
      |SELECT vec_id, round(max_sim, 6) AS max_sim
      |FROM m WHERE max_sim >= 0.3""".stripMargin)) { (s, dir) =>
    // Semantic decontamination: corpus rows whose embedding sits within
    // cosine 0.3 of ANY benchmark vector (vec_id < 10 plays the test set).
    // Benchmark broadcasts; corpus is scanned once through the codegen'd
    // cosine; per-doc max is a map-side partial agg. Threshold compares on
    // full precision in both engines; rounding is display-only.
    val emb = Tables.embeddings(s, dir)
    graft.functions.Similarity.decontaminateSemantic(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
        threshold = 0.3)
      .select(col("vec_id"), round(col("max_sim"), 6).as("max_sim"))
  }

  register("corpus_sample_token_budget", Some(
    """WITH t AS (SELECT doc_id, source, md5(text) AS h,
      |    CAST(len(str_split(text, ' ')) AS BIGINT) AS tok FROM documents),
      |b AS (SELECT *, CAST(('0x' || substring(h, 9, 8)) AS BIGINT) % 256
      |        AS bkt FROM t),
      |c AS (SELECT *, sum(tok) OVER (
      |    PARTITION BY source ORDER BY bkt, h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum FROM b)
      |SELECT doc_id, source, tok AS n_tokens
      |FROM c WHERE coalesce(cum, 0) < 800""".stripMargin)) { (s, dir) =>
    // Token-budget mix: keep docs per source in content-hash order until
    // 800 tokens are spent (overshoot ≤ 1 doc). The oracle replays the
    // NAIVE one-window-per-source form; the operator runs the same total
    // order as two phases — tiny per-bucket prefix sums, scan-local
    // keep/drop for interior buckets, a window over only the boundary
    // bucket — which is the shape that survives a 100 TB source.
    graft.functions.CorpusOps.sampleTokenBudget(
        Tables.documents(s, dir), tokensPerGroup = 800)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  register("corpus_snapshot_diff", Some(
    """WITH prev AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 3),
      |curr AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]'
      |             ELSE text END) AS h
      |  FROM documents WHERE doc_id % 11 <> 5)
      |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
      |  CASE WHEN p.doc_id IS NULL THEN 'added'
      |       WHEN c.doc_id IS NULL THEN 'removed'
      |       WHEN p.h = c.h THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id""".stripMargin)) { (s, dir) =>
    // Generation-over-generation corpus diff — the audit every incremental
    // pipeline needs before deciding what to re-process (re-embed/re-dedup
    // the added+changed delta only). Two fixture-derived generations: the
    // previous crawl is missing doc_id%7==3, the refresh drops doc_id%11==5
    // and revises doc_id%13==1. Each side reduces to (id, md5) in its scan;
    // the full-outer join moves digests, never documents.
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(col("doc_id") % 7 =!= 3)
    val curr = docs.filter(col("doc_id") % 11 =!= 5)
      .withColumn("text", when(col("doc_id") % 13 === 1,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    graft.functions.CorpusOps.snapshotDiff(prev, curr)
  }

  register("corpus_source_overlap", Some(
    """WITH d AS (
      |  SELECT source, unnest(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |      i -> array_to_string(str_split(text, ' ')[i:i+2], ' ')))
      |    ELSE [] END) AS g
      |  FROM documents),
      |s AS (SELECT DISTINCT source, g FROM d),
      |n AS (SELECT source, count(*) AS cnt FROM s GROUP BY 1),
      |i AS (SELECT a.source AS source_a, b.source AS source_b,
      |        count(*) AS shared
      |      FROM s a JOIN s b ON a.g = b.g AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT na.source AS source_a, nb.source AS source_b,
      |  CAST(na.cnt AS BIGINT) AS distinct_a,
      |  CAST(nb.cnt AS BIGINT) AS distinct_b,
      |  CAST(coalesce(i.shared, 0) AS BIGINT) AS distinct_shared,
      |  round(CAST(coalesce(i.shared, 0) AS DOUBLE) /
      |    (na.cnt + nb.cnt - coalesce(i.shared, 0)), 6) AS jaccard
      |FROM n na JOIN n nb ON na.source < nb.source
      |LEFT JOIN i ON i.source_a = na.source AND i.source_b = nb.source""".stripMargin)) { (s, dir) =>
    // Source-overlap matrix — the corpus card that says WHICH sources
    // mirror each other (two crawls of the same sites, a dataset shipped
    // twice under different names) BEFORE paying for pairwise dedup.
    // One theta sketch of the distinct shingle set per source at ingest;
    // every pairwise overlap question is then set algebra on the
    // model-sized sketch table (20 sources = 190 pairs of KB-scale blobs
    // — the deliberate tiny cross join), never a corpus re-scan. Exact
    // and DuckDB-oracled below 2^lgK=65536 distinct shingles per source
    // (max here: ~11 K at sf0.1); beyond that the same plan degrades to
    // ~1/sqrt(2^lgK) RSE estimates — SketchesSpec gates that regime.
    // Estimated Jaccard from exact longs, so the division is
    // deterministic on both engines.
    val sk = Tables.documents(s, dir)
      .select(col("source"), explode(TF.shingleHashes(col("text"), 3)).as("g"))
      .groupBy("source")
      .agg(graft.functions.Sketches.thetaSketch(col("g")).as("sk"))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        graft.functions.Sketches.thetaEstimate(col("a.sk"))
          .cast("long").as("distinct_a"),
        graft.functions.Sketches.thetaEstimate(col("b.sk"))
          .cast("long").as("distinct_b"),
        graft.functions.Sketches
          .thetaIntersectEstimate(col("a.sk"), col("b.sk"))
          .cast("long").as("distinct_shared"))
      .select(col("source_a"), col("source_b"), col("distinct_a"),
        col("distinct_b"), col("distinct_shared"),
        round(col("distinct_shared").cast("double") /
          (col("distinct_a") + col("distinct_b") - col("distinct_shared"))
            .cast("double"), 6).as("jaccard"))
  }

  register("corpus_cdc_chunks", None) { (s, dir) =>
    // Gear-hash content-defined chunking (FastCDC family): per source,
    // chunk count, mean chunk size, and the fraction of chunks whose hash
    // recurs corpus-wide — the storage-dedup view of duplication,
    // byte-level and ALIGNMENT-FREE (an insertion near a duplicate's
    // front re-keys every fixed window but only the chunks before CDC
    // re-synchronizes). no_oracle: the rolling gear state is not
    // SQL-replayable; TextFunctionsSpec gates losslessness (chunk bytes
    // re-sum to the document), size bounds, determinism, and the
    // shift-invariance property itself against a fixed-window strawman.
    // Plan: scan-local chunk explode, one chunk-hash frequency pass
    // (partial-aggregated), one broadcast-sized join back.
    val chunks = graft.functions.CorpusOps
      .cdcChunks(Tables.documents(s, dir), maskBits = 5, minBytes = 8,
        maxBytes = 256)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val dfreq = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("df"))
    chunks.join(dfreq, "chunk_hash")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        round(sum(col("chunk_bytes")).cast("double") / count(lit(1)), 6)
          .as("avg_chunk_bytes"),
        round(count(when(col("df") >= 2, 1)).cast("double") / count(lit(1)), 6)
          .as("dup_chunk_share"))
      .orderBy(col("source"))
  }

  register("corpus_segment_dedup", Some(
    """WITH segs AS (
      |  SELECT doc_id, unnest(range(0, greatest(CAST(ceil(len(t)/10.0) AS BIGINT), 1))) AS pos, t
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |s2 AS (
      |  SELECT doc_id, pos, array_to_string(t[(pos*10+1):(pos*10+10)], ' ') AS seg
      |  FROM segs),
      |freq AS (
      |  SELECT md5(seg) AS h FROM s2 GROUP BY 1
      |  HAVING count(DISTINCT doc_id) > 1)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN f.h IS NULL THEN seg END, ' ' ORDER BY pos), '') AS clean_text,
      |  count(CASE WHEN f.h IS NULL THEN 1 END) AS n_kept,
      |  count(*) AS n_total
      |FROM s2 LEFT JOIN freq f ON md5(s2.seg) = f.h
      |GROUP BY doc_id""".stripMargin)) { (s, dir) =>
    // C4/RefinedWeb-style repeated-passage removal: drop every 10-token
    // segment occurring in >1 distinct document, rebuild docs in order.
    // Frequency pass shuffles only (md5, doc_id) pairs; the frequent set
    // is boilerplate-sized and broadcasts; one doc-keyed rebuild shuffle.
    graft.functions.CorpusOps.dropRepeatedSegments(
      Tables.documents(s, dir), width = 10, maxDf = 1)
  }

  register("text_tfidf_topk", Some(
    """WITH toks AS (
      |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |    tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, term, tf, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rn
      |  FROM scored)
      |SELECT doc_id, term, tf, score FROM r WHERE rn <= 3""".stripMargin)) { (s, dir) =>
    // tf-idf top terms — the keyword-extraction primitive; three keyed
    // shuffles (doc-term, term, doc) at any corpus size, N broadcast
    graft.functions.CorpusOps.tfIdfTopK(Tables.documents(s, dir), k = 3)
  }

  register("text_bm25_topk", Some(
    """WITH q(query_id, query_text) AS (VALUES
      |    (1, 'hash join'), (2, 'window agg merge'), (3, 'stream vector customer')),
      |qt AS (SELECT query_id,
      |    unnest(list_distinct(str_split(query_text, ' '))) AS term FROM q),
      |toks AS (SELECT doc_id, len(str_split(text, ' ')) AS dl,
      |    unnest(str_split(text, ' ')) AS term FROM documents),
      |p AS (SELECT doc_id, term, dl, count(*) AS tf FROM toks
      |      WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
      |sc AS (SELECT count(*) AS n_docs,
      |    avg(CAST(len(str_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
      |scored AS (
      |  SELECT p.doc_id, p.term,
      |    ln(1.0 + (sc.n_docs - dft.df + 0.5) / (dft.df + 0.5)) *
      |      (p.tf * (1.2 + 1.0) / (p.tf + 1.2 *
      |        ((1.0 - 0.75) + 0.75 * p.dl / sc.avgdl))) AS term_score
      |  FROM p JOIN dft USING (term) CROSS JOIN sc),
      |pq AS (SELECT qt.query_id, s.doc_id, sum(s.term_score) AS score
      |       FROM scored s JOIN qt USING (term) GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY round(score, 6) DESC, doc_id) AS rank FROM pq)
      |SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 10""".stripMargin)) { (s, dir) =>
    // Okapi BM25 top-k retrieval — the decontamination/eval-lookup IR
    // primitive. Query terms broadcast; only matching postings shuffle;
    // the per-query ranking is WindowGroupLimit-bounded.
    import s.implicits._
    val queries = Seq(
      (1, "hash join"), (2, "window agg merge"), (3, "stream vector customer"))
      .toDF("query_id", "query_text")
    graft.functions.Search.bm25TopK(Tables.documents(s, dir), queries, k = 10)
  }

  register("corpus_dsir_weights", Some(
    """WITH d AS (SELECT doc_id, (lang = 'en') AS is_target,
      |    str_split(text, ' ') AS t FROM documents),
      |f AS (SELECT doc_id, is_target,
      |    unnest(list_transform(range(1, len(t)), i ->
      |      CAST(('0x' || substring(md5(array_to_string(t[i:i+1], ' ')), 1, 8))
      |        AS BIGINT) % 8192)) AS bkt
      |  FROM d WHERE len(t) >= 2),
      |bc AS (SELECT bkt, count(*) AS raw_n,
      |    count(*) FILTER (WHERE is_target) AS tgt_n FROM f GROUP BY 1),
      |tot AS (SELECT sum(raw_n) AS raw_total, sum(tgt_n) AS tgt_total FROM bc),
      |lr AS (SELECT bkt,
      |    ln((tgt_n + 0.5) / (tgt_total + 0.5 * 8192)) -
      |    ln((raw_n + 0.5) / (raw_total + 0.5 * 8192)) AS lr
      |  FROM bc CROSS JOIN tot),
      |w AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS dsir_weight
      |      FROM f JOIN lr USING (bkt) GROUP BY 1)
      |SELECT d.doc_id, d.is_target,
      |  coalesce(w.n_feats, 0) AS n_feats,
      |  coalesce(w.dsir_weight, 0.0) AS dsir_weight
      |FROM d LEFT JOIN w USING (doc_id)""".stripMargin)) { (s, dir) =>
    // DSIR importance weights (Xie et al. 2023): hashed-bigram likelihood
    // ratio of the English slice vs the whole corpus. One bucket-count
    // shuffle (8192-bounded), broadcast ratio table, doc-keyed sum.
    graft.functions.CorpusOps.dsirWeights(
      Tables.documents(s, dir), isTarget = col("lang") === "en")
  }

  register("corpus_dsir_resample", Some(
    """WITH d AS (SELECT doc_id, (lang = 'en') AS is_target, text,
      |    str_split(text, ' ') AS t FROM documents),
      |f AS (SELECT doc_id, is_target,
      |    unnest(list_transform(range(1, len(t)), i ->
      |      CAST(('0x' || substring(md5(array_to_string(t[i:i+1], ' ')), 1, 8))
      |        AS BIGINT) % 8192)) AS bkt
      |  FROM d WHERE len(t) >= 2),
      |bc AS (SELECT bkt, count(*) AS raw_n,
      |    count(*) FILTER (WHERE is_target) AS tgt_n FROM f GROUP BY 1),
      |tot AS (SELECT sum(raw_n) AS raw_total, sum(tgt_n) AS tgt_total FROM bc),
      |lr AS (SELECT bkt,
      |    ln((tgt_n + 0.5) / (tgt_total + 0.5 * 8192)) -
      |    ln((raw_n + 0.5) / (raw_total + 0.5 * 8192)) AS lr
      |  FROM bc CROSS JOIN tot),
      |w AS (SELECT doc_id, sum(lr) AS dsir_weight
      |      FROM f JOIN lr USING (bkt) GROUP BY 1),
      |sk AS (SELECT d.doc_id, d.is_target,
      |    coalesce(w.dsir_weight, 0.0) AS dsir_weight,
      |    coalesce(w.dsir_weight, 0.0) / 1.0 +
      |      (-ln(-ln((CAST(('0x' || substring(md5('gumbel:0:' || d.text), 1, 8))
      |        AS BIGINT) + 0.5) / 4294967296.0))) AS sample_key
      |  FROM d LEFT JOIN w USING (doc_id))
      |SELECT doc_id, is_target, dsir_weight, sample_key FROM sk
      |ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin)) { (s, dir) =>
    // the DSIR selection step: Gumbel-top-k (sample 50 docs WITHOUT
    // replacement, probability ∝ exp(weight/T)) as one k-bounded
    // TakeOrdered over a salted-hash Gumbel — deterministic, content-keyed
    val docs = Tables.documents(s, dir)
    val weighted = docs.join(
      graft.functions.CorpusOps.dsirWeights(docs, isTarget = col("lang") === "en")
        .select(col("doc_id"), col("is_target"), col("dsir_weight")),
      "doc_id")
    graft.functions.CorpusOps.dsirResample(weighted, k = 50)
      .select(col("doc_id"), col("is_target"), col("dsir_weight"),
        col("sample_key"))
  }

  register("corpus_repeated_spans", Some(
    """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(range(0, len(t) - 4)) AS pos, t
      |      FROM d WHERE len(t) >= 5),
      |g2 AS (SELECT doc_id, pos,
      |    md5(array_to_string(t[(pos + 1):(pos + 5)], ' ')) AS h FROM g),
      |rep AS (SELECT h FROM g2 GROUP BY h
      |        HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT doc_id, pos FROM g2 JOIN rep USING (h)),
      |isl AS (SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER
      |      (PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl),
      |sp AS (SELECT doc_id, island, max(pos) - min(pos) + 5 AS span_len
      |       FROM isl2 GROUP BY 1, 2),
      |agg AS (SELECT doc_id, count(*) AS n_spans,
      |    CAST(sum(span_len) AS BIGINT) AS covered_tokens,
      |    CAST(max(span_len) AS BIGINT) AS max_span_len FROM sp GROUP BY 1)
      |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
      |  coalesce(agg.n_spans, 0) AS n_spans,
      |  coalesce(agg.covered_tokens, 0) AS covered_tokens,
      |  coalesce(agg.max_span_len, 0) AS max_span_len
      |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin)) { (s, dir) =>
    // stride-1 shingle approximation of exact-substring dedup (Lee et al.
    // 2022): cross-doc repeated width-5 windows merged into maximal spans
    // (gaps-and-islands, one doc-keyed exchange). Integer-only output.
    graft.functions.CorpusOps.repeatedSpans(Tables.documents(s, dir), width = 5)
  }

  register("corpus_strip_repeated_spans", Some(
    """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(range(0, len(t) - 4)) AS pos, t
      |      FROM d WHERE len(t) >= 5),
      |g2 AS (SELECT doc_id, pos,
      |    md5(array_to_string(t[(pos + 1):(pos + 5)], ' ')) AS h FROM g),
      |rep AS (SELECT h FROM g2 GROUP BY h
      |        HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT doc_id, unnest(range(pos + 1, pos + 6)) AS tp
      |        FROM g2 JOIN rep USING (h)),
      |tk AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS tp, t FROM d),
      |tok AS (SELECT doc_id, tp, t[tp] AS token FROM tk)
      |SELECT tok.doc_id,
      |  coalesce(string_agg(CASE WHEN cov.tp IS NULL THEN tok.token END,
      |    ' ' ORDER BY tok.tp), '') AS clean_text,
      |  count(CASE WHEN cov.tp IS NULL THEN 1 END) AS n_kept,
      |  count(*) AS n_tokens
      |FROM tok LEFT JOIN cov
      |  ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp
      |GROUP BY tok.doc_id""".stripMargin)) { (s, dir) =>
    // The ACT half of corpus_repeated_spans (Lee et al. 2022 substring
    // dedup at shingle resolution): every token covered by a cross-doc
    // repeated width-5 window is stripped from every document and the
    // text rebuilt in order — catching boilerplate at ANY alignment,
    // where the fixed-grid segment dedup needs it to start on a
    // boundary. Marked windows merge to maximal islands BEFORE the
    // covered-position explode, so the blow-up is covered-tokens-bounded.
    graft.functions.CorpusOps.stripRepeatedSpans(
      Tables.documents(s, dir), width = 5)
  }

  register("corpus_decontaminate", Some(
    """WITH s AS (
      |  SELECT doc_id, unnest(CASE WHEN len(str_split(text, ' ')) >= 4 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 2),
      |        i -> array_to_string(str_split(text, ' ')[i:i+3], ' ')))
      |    ELSE [] END) AS g
      |  FROM documents),
      |b AS (SELECT DISTINCT g FROM s WHERE doc_id < 10)
      |SELECT s.doc_id, count(DISTINCT s.g) AS n_shared_shingles
      |FROM s JOIN b USING (g) WHERE s.doc_id >= 10
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // benchmark decontamination: docs sharing any 4-gram with the
    // benchmark slice (doc_id < 10) — posting-list semi-join on shingles
    val docs = Tables.documents(s, dir)
    graft.functions.CorpusOps.contaminated(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10), n = 4)
  }

  register("corpus_decontaminate_bloom", Some(
    """WITH s AS (
      |  SELECT doc_id, unnest(CASE WHEN len(str_split(text, ' ')) >= 4 THEN
      |      list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 2),
      |        i -> array_to_string(str_split(text, ' ')[i:i+3], ' ')))
      |    ELSE [] END) AS g
      |  FROM documents),
      |b AS (SELECT DISTINCT g FROM s WHERE doc_id < 10)
      |SELECT s.doc_id, count(DISTINCT s.g) AS n_shared_shingles
      |FROM s JOIN b USING (g) WHERE s.doc_id >= 10
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // the 100 TB decontamination shape: a broadcast Bloom filter over the
    // benchmark's shingles drops clean corpus shingles inside the scan
    // stage (codegen'd probe), the exact confirm join removes the fpp
    // fraction — so the oracle is the SAME SQL as corpus_decontaminate,
    // not an approximation.
    val docs = Tables.documents(s, dir)
    graft.functions.CorpusOps.contaminatedBloom(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10), n = 4)
  }

  register("dedup_embedding_neardup", Some(
    """WITH p AS (
      | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |   list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |     list_transform(range(1, len(a.embedding) + 1),
      |       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |     (x, y) -> x + y) AS dot,
      |   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |     list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |     (x, y) -> x + y)) AS nx,
      |   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |     list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |     (x, y) -> x + y)) AS ny
      | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b,
      |  round(CASE WHEN nx * ny > 0 THEN dot / (nx * ny) ELSE 0.0 END, 6) AS cos_sim
      |FROM p
      |WHERE CASE WHEN nx * ny > 0 THEN dot / (nx * ny) ELSE 0.0 END >= 0.4""".stripMargin)) { (s, dir) =>
    // Embedding-cosine near-duplicate pairs, EXACT — computed as the
    // block-partitioned pairwise equi-join (Similarity.cosineThresholdPairs):
    // identical output to the all-pairs form the oracle replays, but the
    // n²/2 scoring distributes over block-pair tasks with bounded memory
    // and NO BroadcastNestedLoopJoin (PlanAuditSpec asserts the shape).
    // LSH candidates are deliberately NOT used here: exact output at a
    // threshold the pair-cosine mass straddles needs exact enumeration
    // (see the cosineThresholdPairs scaladoc).
    Similarity.cosineThresholdPairs(Tables.embeddings(s, dir), 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }
}
