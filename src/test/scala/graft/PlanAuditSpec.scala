package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine-checked `.explain` audits: the plan SHAPES that make these
  * operators survive a 100 TB corpus — filters reaching the parquet scan,
  * column pruning, dimension broadcasts, no nested-loop/cartesian joins in
  * keyed paths — asserted, not eyeballed, so a regression in plan quality
  * fails CI like a wrong answer would. */
class PlanAuditSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // sfSmall, not sfTiny: other suites cache() sfTiny scans, and a matching
  // cached subtree would replace the parquet scan with InMemoryTableScan,
  // hiding the pushdown/pruning evidence this suite asserts on.
  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfSmall)

  test("filter queries push predicates into the parquet scan") {
    // cdc_filter_ops filters on event_type/value — both scan-pushable
    val plan = physical(run("cdc_filter_ops"))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("In(event_type") || plan.contains("IsNotNull(event_type"),
      s"event_type predicate not pushed:\n$plan")
  }

  test("projection queries prune columns at the scan (ReadSchema)") {
    // tpch_q1 touches 7 of lineitem's 11 columns; the scan must not read
    // the rest
    val plan = physical(run("tpch_q1_pricing_summary"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    assert(!readSchema.contains("l_orderkey"),
      s"q1 reads join keys it never uses: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
  }

  test("dimension joins broadcast the small side, never the fact side") {
    val q3 = physical(run("tpch_q3_shipping_priority"))
    assert(q3.contains("BroadcastHashJoin"), s"q3 lost its dim broadcast:\n$q3")
    // the lineitem⋈orders join must NOT be broadcast (both sides scale)
    val q5 = physical(run("tpch_q5_region_revenue"))
    assert(q5.contains("BroadcastHashJoin"), s"q5 lost its dim broadcast:\n$q5")
    Seq("tpch_q3_shipping_priority" -> q3, "tpch_q5_region_revenue" -> q5,
      "cdc_enrich_join" -> physical(run("cdc_enrich_join"))).foreach {
      case (n, p) =>
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$n has a nested-loop/cartesian join:\n$p")
    }
  }

  test("aggregations use partial (map-side) aggregation before the shuffle") {
    val plan = physical(run("cdc_op_counts"))
    // HashAggregate(partial) ... Exchange ... HashAggregate(final)
    val aggCount = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggCount >= 2, s"no partial aggregation visible:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"),
      s"aggregate shuffle is not hash-partitioned:\n$plan")
  }

  test("dedup and LSH joins are keyed hash joins, not cross products") {
    Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_embedding_neardup", "embed_ann_ivf", "dedup_semantic").foreach { n =>
      val plan = physical(run(n))
      assert(!plan.contains("CartesianProduct"),
        s"$n degenerated to a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$n uses a nested-loop join:\n$plan")
    }
  }

  test("fuzzy join, span removal, and drift entries keep keyed joins, no cross products") {
    Seq("dedup_fuzzy_join", "corpus_strip_repeated_spans",
        "quality_drift_ks", "quality_drift_categorical").foreach { n =>
      val plan = physical(run(n))
      assert(!plan.contains("CartesianProduct"),
        s"$n degenerated to a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$n uses a nested-loop join:\n$plan")
    }
    // the drift legs shuffle COUNT partials, never rows — and since the
    // r15 optimization round the two sides align via a zero-padded union
    // + per-key sum instead of a FULL OUTER join, so the drift plans
    // contain NO join node at all
    val ks = physical(run("quality_drift_ks"))
    assert(!ks.contains("Join"), s"drift must not join at all:\n$ks")
  }

  test("repetition signal is scan-local: no exchange, no join") {
    // top_bigram_frac is the codegen'd max-multiplicity of the row's own
    // bigram-hash array — the round-4 explode+groupBy+join form is gone
    val plan = physical(run("text_repetition"))
    assert(!plan.contains("Exchange"),
      s"text_repetition shuffles a per-document signal:\n$plan")
    assert(!plan.contains("Join"), s"text_repetition joins:\n$plan")
  }

  test("q6 pushes every predicate to the scan and aggregates without a data shuffle") {
    val plan = physical(run("tpch_q6_forecast_revenue"))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("l_shipdate") && plan.contains("l_discount"),
      s"range predicates not pushed:\n$plan")
    // only the single-row partial aggregates move: exchange must be
    // SinglePartition, never a hashpartitioning of data rows
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q6 shuffles data rows:\n$plan")
  }

  test("q10 keeps the fact-fact join shuffled, dims broadcast, top-N as TakeOrdered") {
    val df = run("tpch_q10_returned_items")
    df.collect() // finalize adaptive plan
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"degenerate join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 runs a global sort instead of TakeOrdered:\n$plan")
  }

  test("q7/q8/q14/q18/q19 broadcast every dim and never degrade to nested loops") {
    Seq("tpch_q7_volume_shipping", "tpch_q8_market_share",
        "tpch_q14_promo_revenue", "tpch_q18_large_volume_customers",
        "tpch_q19_discounted_revenue").foreach { n =>
      val df = run(n)
      df.collect() // finalize adaptive plan
      val plan = physical(df)
      assert(plan.contains("BroadcastHashJoin"), s"$n lost its dim broadcast:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$n degenerate join:\n$plan")
    }
  }

  test("q4/q22 plan EXISTS as semi and NOT EXISTS as anti hash joins") {
    val q4 = run("tpch_q4_order_priority")
    q4.collect()
    val p4 = physical(q4)
    assert(p4.contains("LeftSemi"), s"q4 EXISTS is not a semi join:\n$p4")
    assert(!p4.contains("BroadcastNestedLoopJoin") &&
      !p4.contains("CartesianProduct"), s"q4 degenerate join:\n$p4")
    val q22 = run("tpch_q22_global_sales_opportunity")
    q22.collect()
    val p22 = physical(q22)
    assert(p22.contains("LeftAnti"), s"q22 NOT EXISTS is not an anti join:\n$p22")
    // the scalar-subquery cross join must be the 1-row broadcast, nothing else
    assert(!p22.contains("CartesianProduct"), s"q22 degenerate join:\n$p22")
  }

  test("q13/q17/q21 keep keyed hash joins; correlated aggregates decorrelate") {
    Seq("tpch_q13_customer_distribution", "tpch_q17_small_quantity_revenue",
        "tpch_q21_waiting_suppliers", "tpch_q12_priority_shipping").foreach { n =>
      val df = run(n)
      df.collect() // finalize adaptive plan
      val plan = physical(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$n degenerate join:\n$plan")
    }
  }

  test("derived-partsupp queries (q2/q9/q11/q16/q20) broadcast dims, no nested loops") {
    Seq("tpch_q2_min_cost_supplier", "tpch_q9_product_type_profit",
        "tpch_q11_important_stock", "tpch_q16_supplier_part_counts",
        "tpch_q20_part_promotion").foreach { n =>
      val df = run(n)
      df.collect() // finalize adaptive plan
      val plan = physical(df)
      assert(plan.contains("BroadcastHashJoin"), s"$n lost its dim broadcast:\n$plan")
      // q11's scalar threshold is a deliberate 1-row broadcast cross join
      // (how Catalyst runs scalar subqueries) — BNLJ is correct there.
      if (n != "tpch_q11_important_stock")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n degenerate join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n degenerate join:\n$plan")
    }
    // q2's LIMIT must be a TakeOrdered, not a global sort
    val q2 = run("tpch_q2_min_cost_supplier"); q2.collect()
    assert(physical(q2).contains("TakeOrderedAndProject"),
      s"q2 top-100 runs a global sort:\n${physical(q2)}")
    // q16's NOT IN must plan as an anti join
    val q16 = run("tpch_q16_supplier_part_counts"); q16.collect()
    assert(physical(q16).contains("LeftAnti"),
      s"q16 NOT IN is not an anti join:\n${physical(q16)}")
    // q20's two IN filters must both plan as semi joins
    val q20 = run("tpch_q20_part_promotion"); q20.collect()
    assert(physical(q20).contains("LeftSemi"),
      s"q20 IN is not a semi join:\n${physical(q20)}")
  }

  test("q15 computes the quarter aggregate once and joins the max as one row") {
    val df = run("tpch_q15_top_supplier")
    df.collect()
    val plan = physical(df)
    assert(!plan.contains("Window"), s"q15 should not need a window:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"degenerate join:\n$plan")
  }

  test("bucketed co-located join: the only exchange is the final aggregate") {
    val df = run("sink_bucketed_colocated_join")
    df.collect() // finalize adaptive plan
    val plan = physical(df)
    assert(plan.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"bucketed join fell back to broadcast:\n$plan")
    // AQE's toString repeats operators under "== Initial Plan ==" — count
    // exchanges in the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(finalPlan).size
    assert(exchanges === 1,
      s"expected exactly the aggregate's exchange, got $exchanges:\n$finalPlan")
  }

  test("as-of join plans a single keyed window, no join operator") {
    val plan = physical(run("join_asof_last_click"))
    assert(!plan.contains("Join"), s"as-of materialized a join:\n$plan")
    assert(plan.contains("hashpartitioning(__key"),
      s"as-of window not keyed:\n$plan")
  }

  test("range join is a hash join on (user, bucket), not a nested loop") {
    val df = run("join_range_purchases_after_signup")
    df.collect()
    val plan = physical(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("windowed operators partition by their keys (no global single-partition sort)") {
    val plan = physical(run("window_top_orders"))
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    assert(plan.contains("hashpartitioning(o_custkey"),
      s"window not keyed by o_custkey:\n$plan")
  }

  test("segment dedup broadcasts the frequent set; membership test never shuffles the corpus") {
    val df = run("corpus_segment_dedup")
    df.collect() // finalize the adaptive plan
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"frequent-set membership is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      s"corpus-side shuffle or cross product in the membership join:\n$plan")
  }

  test("temperature mix: counts broadcast back, keep decision is scan-local") {
    val df = run("corpus_mix_temperature")
    df.collect()
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"source counts not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled to join 20 source counts:\n$plan")
  }

  test("agg_topk_per_group is a partial-aggregated heap, no window, no sort of the input") {
    val plan = physical(run("agg_topk_per_group"))
    assert(plan.contains("collect_top_k"), s"no collect_top_k aggregate:\n$plan")
    // partial (map-side) heap before the o_custkey exchange: only <=k rows
    // per customer per map task cross the wire
    assert(plan.contains("partial_collect_top_k"),
      s"collect_top_k not partially aggregated map-side:\n$plan")
    assert(!plan.contains("Window"), s"fell back to a window plan:\n$plan")
    assert(!plan.contains("Sort "), s"input sorted despite heap aggregate:\n$plan")
  }

  test("TPC-H dim-driven shape (Q17/Q20 class) plans through the bloom " +
    "rule: files skipped, dim broadcast, answer exact") {
    // the engine's flagship suite running through its own optimizer tier:
    // a brand-filtered part dimension joined to a bloom-indexed lineitem
    // layout on l_partkey — the star-join point-lookup shape at 100 TB
    val path = s"$outRoot/test-out/planaudit-bloom-lineitem"
    Tables.lineitem(spark, sfSmall)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .repartition(16, col("l_partkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.BloomIndex.write(spark, path, Seq("l_partkey"),
      expectedItemsPerFile = 200000, fpp = 0.01)
    graft.plans.BloomJoins.register(graft.plans.BloomJoins.Layout(
      path, "l_partkey"))
    graft.plans.BloomJoins.install(spark)
    try {
      def q: DataFrame = {
        val l = spark.read.parquet(path)
        // the 5 priciest Brand#4 parts: a POINT-ish dim (file skipping is
        // the sparse-key regime; a whole brand touches every fact file by
        // pigeonhole). The ordering includes the join key, so the Limit
        // carve-out certifies the collected key set.
        val part = Tables.part(spark, sfSmall)
          .where(col("p_brand") === "Brand#4")
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
          .limit(5)
          .select("p_partkey")
        l.join(part, l("l_partkey") === part("p_partkey"))
          .agg(sum(col("l_extendedprice")).as("rev"),
            count(lit(1)).as("n"))
      }
      val planned = q
      val files = planned.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation
                if f.location.rootPaths.exists(
                  _.toString.contains("planaudit-bloom-lineitem")) =>
              f.location.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
      assert(files > 0 && files < 16,
        s"the Q17-class dim join must skip fact files ($files of 16):\n${
          planned.queryExecution.optimizedPlan}")
      // the dim still broadcasts over the pruned scan — no shuffle added
      val phys = physical(planned)
      assert(phys.contains("BroadcastHashJoin"), phys)
      assert(!phys.contains("CartesianProduct") &&
        !phys.contains("BroadcastNestedLoopJoin"), phys)
      // double sums are fold-order-sensitive (the pruned scan reads fewer
      // files, so partial-sum order differs) — compare at 1e-3, count exact
      val got = planned.collect().head
      graft.plans.BloomJoins.uninstall(spark)
      val exp = q.collect().head
      assert(math.abs(got.getDouble(0) - exp.getDouble(0)) < 1e-3,
        s"pruned and plain revenue must agree: $got vs $exp")
      assert(got.getLong(1) === exp.getLong(1),
        "pruned and plain counts must agree exactly")
    } finally {
      graft.plans.BloomJoins.uninstall(spark)
      graft.plans.BloomJoins.unregister(path)
    }
  }

  test("whole-stage codegen covers the relational hot paths") {
    Seq("tpch_q1_pricing_summary", "cdc_filter_ops", "cdc_group_by_collection")
      .foreach { n =>
        val df = run(n)
        df.collect() // finalize the adaptive plan — codegen nodes only
                     // materialize in the executed plan under AQE
        val plan = physical(df)
        // codegen'd stages render as "*(n) Operator" in the compact plan
        assert(plan.contains("WholeStageCodegen") ||
          plan.linesIterator.exists(_.trim.matches("^(\\+- |: *)?\\*\\(\\d+\\).*")),
          s"$n runs outside whole-stage codegen:\n$plan")
      }
  }

  test("text analytics stay scan-local (zero exchanges)") {
    Seq("text_stats", "text_quality", "text_langid", "text_fingerprint",
        "corpus_chunk", "corpus_sample_weighted", "text_pii_redact")
      .foreach { n =>
        val plan = physical(run(n))
        assert(!plan.contains("Exchange"),
          s"$n shuffles a narrow per-document computation:\n$plan")
      }
  }

  test("grouping sets run one Expand + one shuffle, not three scans") {
    val plan = physical(run("agg_grouping_sets"))
    assert(plan.contains("Expand"), s"no Expand — grains split?\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"grouping sets re-scans the fact table:\n$plan")
  }

  test("lag window partitions by its key") {
    val plan = physical(run("window_lag_delta"))
    assert(plan.contains("hashpartitioning(user_id"),
      s"lag window not keyed:\n$plan")
  }

  test("session windows shuffle once on the session key, nothing global") {
    val plan = physical(run("agg_session_windows"))
    assert(plan.contains("hashpartitioning(user_id"),
      s"sessions not keyed by user_id:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"sessionization fell back to a global repartition:\n$plan")
  }

  test("shuffle-shard runs ONE keyed exchange (the per-shard rank window)") {
    val plan = physical(run("corpus_shuffle_shard"))
    assert(plan.contains("hashpartitioning(shard"),
      s"rank window not keyed by shard:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"epoch shuffle should cost exactly one exchange, found $exchanges:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"global sort crept into the shard layout:\n$plan")
  }

  test("semantic decontamination broadcasts the benchmark, never the corpus") {
    val df = run("corpus_decontaminate_semantic")
    df.collect() // finalize the adaptive plan
    val plan = physical(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus shuffled or crossed for a broadcast-sized benchmark:\n$plan")
    // per-doc max collapses map-side before the only corpus exchange
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"per-doc max not partially aggregated:\n$plan")
  }

  test("token-budget sampling: windows only over (group, bucket) slices, prefix frame broadcasts") {
    val df = run("corpus_sample_token_budget")
    df.collect()
    val plan = physical(df)
    // the document-side window is keyed by (source, bucket) — never by
    // source alone, which would sort whole groups in single tasks
    assert(plan.contains("hashpartitioning(source"),
      s"boundary window not keyed:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global sort in the budget scan:\n$plan")
    // the per-bucket prefix frame joins back as a broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"prefix frame not broadcast:\n$plan")
  }

  test("bm25: query-side frames broadcast, postings never shuffle-join") {
    val df = run("text_bm25_topk")
    df.collect()
    val plan = physical(df)
    // query terms, df, and scalars all join the postings as broadcasts;
    // a SortMergeJoin would mean the corpus-sized side shuffled for a
    // dimension-sized one
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"postings shuffle-joined a broadcast-sized side:\n$plan")
    // the final ranking is k-bounded (WindowGroupLimit), not a full sort
    assert(plan.contains("WindowGroupLimit"),
      s"top-k window not rank-limited:\n$plan")
  }

  test("dsir: ratio table broadcasts; per-doc sum partial-aggregates") {
    val df = run("corpus_dsir_weights")
    df.collect()
    val plan = physical(df)
    // the nBuckets-bounded log-ratio table joins the features broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // bucket counts and doc weights both partial-aggregate map-side
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"missing partial aggregation:\n$plan")
  }

  test("dsir resample: the Gumbel-top-k draw is a k-bounded TakeOrdered") {
    val df = run("corpus_dsir_resample")
    df.collect()
    val plan = physical(df)
    // sampling-without-replacement must not pay a global sort: the only
    // ordering operator is TakeOrderedAndProject (k rows per task, k at
    // the driver); the one SinglePartition exchange in this plan is the
    // 8192-row totals aggregate inside dsirWeights, not a data sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"draw not k-bounded:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in the draw:\n$plan")
  }

  test("repeated spans: islands windows key by doc, one exchange pair, no global sort") {
    val df = run("corpus_repeated_spans")
    df.collect()
    val plan = physical(df)
    // the lag + running-sum island windows share one doc-keyed exchange
    assert(plan.contains("hashpartitioning(doc_id"),
      s"island windows not doc-keyed:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global sort in the span merge:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in the span path:\n$plan")
  }

  test("attrition waterfall: one text-keyed window, partial aggregation, no joins") {
    val df = run("corpus_clean_attrition")
    val plan = physical(df)
    // the whole report is scoring (scan-local) + ONE window over
    // md5(text) + one aggregate: no join may appear, and both shuffles
    // are hash exchanges (never a global sort/single partition)
    assert(!plan.contains("Join"), s"attrition grew a join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window [")) === 1,
      s"attrition should have exactly one window:\n$plan")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"attrition aggregate not partial-aggregated:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global exchange in the attrition path:\n$plan")
  }

  test("prefix jaccard: every join keyed, no cartesian, prefix window doc-keyed") {
    val df = run("dedup_jaccard_prefix")
    df.collect()
    val plan = physical(df)
    // the candidate stage is an equi-join on (block, shingle); the verify
    // stage joins on doc ids — nothing may degrade to a nested loop or a
    // cross product, whatever the threshold does to candidate counts
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix jaccard has an unkeyed join:\n$plan")
    // the prefix cut is one keyed window per (block, doc), never global
    assert(plan.contains("hashpartitioning(block"),
      s"prefix window not (block, doc)-keyed:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global exchange in the prefix path:\n$plan")
  }

  test("PQ/ADC: queries broadcast onto the code stream; re-rank joins keyed") {
    val df = run("embed_ann_pq")
    df.collect()
    val plan = physical(df)
    // the ADC pass must stream the corpus codes with the query LUTs
    // broadcast — never a shuffled or nested-loop pairing of the big side
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"ADC pass lost the query broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"PQ search degraded to a cartesian product:\n$plan")
    assert(!plan.contains("SortMergeJoin") ||
      plan.linesIterator.count(_.contains("SortMergeJoin")) === 0,
      s"corpus-sized side shuffled for the candidate pairing:\n$plan")
  }

  test("skew profile: partial-aggregated count + TakeOrdered, no global sort") {
    val df = run("events_skew_profile")
    val plan = physical(df)
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"key count not partial-aggregated:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N not a bounded TakeOrdered:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in the profile path:\n$plan")
  }

  test("containment/edit-distance/dhash pair joins stay keyed, never cross") {
    Seq("dedup_containment", "dedup_edit_distance", "mm_dhash_neardup")
      .foreach { n =>
        val plan = physical(run(n))
        assert(!plan.contains("CartesianProduct"),
          s"$n degenerated to a cartesian product:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$n uses a nested-loop join:\n$plan")
      }
  }

  test("edit-distance verify is the banded threshold form on candidates only") {
    val plan = physical(run("dedup_edit_distance"))
    // the O(d·len) banded kernel, not the O(len²) full matrix: the
    // threshold argument must appear inside the levenshtein call
    assert(plan.contains("levenshtein") && plan.contains("Some(60)"),
      s"thresholded levenshtein missing from the verify stage:\n$plan")
    // candidate dedup happens BEFORE the text join: a distinct
    // (HashAggregate on the pair keys) must exist upstream of the verify
    assert(plan.contains("HashAggregate"),
      s"no candidate-distinct stage:\n$plan")
  }

  test("snapshot diff joins digests, not documents") {
    val plan = physical(run("corpus_snapshot_diff"))
    assert(plan.contains("FullOuter"), s"diff must be a full-outer join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-keyed join:\n$plan")
    // the join operator's output must carry md5 digests, never `text`:
    // each side reduces to (id, md5(text)) inside its own scan stage
    val joinLine = plan.linesIterator.find(_.contains("FullOuter")).get
    assert(!joinLine.contains("text"),
      s"document payloads cross the diff join: $joinLine")
  }

  test("completeness audit partial-aggregates the hour sets map-side") {
    val plan = physical(run("events_completeness_audit"))
    assert(plan.contains("partial_"),
      s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in an aggregate-only audit:\n$plan")
  }

  test("quality profiler: both scans prune to the profiled columns") {
    val plan = physical(run("quality_profile_columns"))
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size === 2, s"expected 2 pruned scans:\n$plan")
    schemas.foreach { rs =>
      assert(!rs.contains("l_extendedprice") && !rs.contains("l_suppkey"),
        s"profiler reads columns it never profiles: $rs")
    }
    assert(!plan.contains("Expand"),
      s"multi-distinct expand fallback crept back in:\n$plan")
  }

  test("margin mining has no cartesian: blocked equi-join + bounded-heap top-k") {
    val plan = physical(run("embed_bitext_margin"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"margin mining fell back to a cross product:\n$plan")
    assert(plan.contains("collect_top_k"),
      s"neighbourhood means must ride the bounded-heap aggregate:\n$plan")
  }

  test("weighted jaccard: keyed shuffles only, no cross join, partial aggs") {
    val plan = physical(run("dedup_weighted_jaccard"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"weighted jaccard has a cross product:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"posting aggregation lost its map-side combine:\n$plan")
  }

  test("markov transitions: single scan, one sequence window, no join") {
    val plan = physical(run("events_markov_transitions"))
    // ONE scan — the normalizer windows the aggregated counts instead of
    // joining a separately-derived total table (which would recompute the
    // lead-window lineage: two scans, two sequence sorts)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"events scanned more than once:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window [lead")) === 1,
      s"expected exactly one sequence window:\n$plan")
    assert(!plan.contains("Join"), s"normalizer join crept back:\n$plan")
  }

  test("capped dedup-index ingest scans the stored entries, never shuffles them") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = run("dedup_incremental_index")
    df.collect() // finalize the adaptive plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(nodes)
    }
    def scansEntries(p: SparkPlan): Boolean = nodes(p).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains("/entries"))
      case _ => false
    }
    val shuffles = nodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    // the capped path's contract: the persisted index is pruned via
    // BROADCAST semi-joins and streamed into the pair join — the only
    // things allowed across a shuffle downstream of the entries scan are
    // count partials and finished pairs, never the entries themselves
    // (their `sig` column is the marker)
    shuffles.filter(scansEntries).foreach { e =>
      assert(!e.child.output.exists(_.name == "sig"),
        s"stored index entries crossed a shuffle:\n${e.treeString}")
    }
    assert(shuffles.nonEmpty, "expected count/pair exchanges in the plan")
  }

  test("interval lookup has NO join operator; only the aggregate exchanges") {
    val df = run("join_interval_lookup")
    df.collect() // finalize the adaptive plan — codegen markers
    val plan = physical(df)
    assert(!plan.contains("Join"),
      s"interval lookup materialized a join operator:\n$plan")
    assert(plan.contains("interval_index"),
      s"binary-search kernel missing from the plan:\n$plan")
    // the fact scan stays in whole-stage codegen up to the aggregate
    assert(plan.linesIterator.exists(l =>
      l.contains("interval_index") && l.trim.matches("^(\\+- |: *)?\\*\\(\\d+\\).*|.*\\*\\(\\d+\\).*")),
      s"interval expression fell out of codegen:\n$plan")
  }

  test("unigram token counts are scan-local (zero exchanges)") {
    val docs = Tables.documents(spark, sfSmall)
    val vocab = graft.functions.Unigram.trainFromDict(
      Seq(("the", 50L), ("and", 30L), ("data", 20L)), vocabSize = 20)
    val plan = physical(docs.select(col("doc_id"),
      graft.functions.Unigram.tokenCount(col("text"), vocab).as("n")))
    assert(!plan.contains("Exchange"),
      s"unigram application must be a narrow scan-local pass:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("unigram_token_count") && l.trim.startsWith("*(")),
      s"unigram expression fell out of codegen:\n$plan")
  }

  test("wordpiece token counts are scan-local (zero exchanges)") {
    val docs = Tables.documents(spark, sfSmall)
    val vocab = graft.functions.WordPiece.learnFromDict(
      Seq(("the", 50L), ("and", 30L), ("data", 20L)), nMerges = 10)
    val plan = physical(docs.select(col("doc_id"),
      graft.functions.WordPiece.tokenCount(col("text"), vocab).as("n")))
    assert(!plan.contains("Exchange"),
      s"WordPiece application must be a narrow scan-local pass:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("wordpiece_token_count") && l.trim.startsWith("*(")),
      s"WordPiece expression fell out of codegen:\n$plan")
  }

  test("bpe token counts are scan-local (zero exchanges)") {
    val docs = Tables.documents(spark, sfSmall)
    val merges = graft.functions.Bpe.learnFromDict(
      Seq(("the", 50L), ("and", 30L), ("data", 20L)), nMerges = 10)
    val plan = physical(docs.select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), merges).as("n")))
    assert(!plan.contains("Exchange"),
      s"BPE application must be a narrow scan-local pass:\n$plan")
    // the `*(n)` prefix is executedPlan.toString's whole-stage-codegen
    // marker — the projection carrying bpe_token_count must be inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("bpe_token_count") && l.trim.startsWith("*(")),
      s"BPE expression fell out of codegen:\n$plan")
  }
}
