package graft

/** Every registered catalog query must EXECUTE against the tiny fixtures —
  * the round-1 lesson: two queries compiled fine and crashed at runtime
  * (ANSI overflow), which a single run-everything smoke test would have
  * caught. Row-count expectations stay loose (exact values are the DuckDB
  * oracle's job); what this gate asserts is "runs, yields a sane schema,
  * and is non-empty unless emptiness is the correct answer".
  */
class QueriesSmokeSpec extends SparkSpec {

  // empty results ARE correct for these on the tiny fixture:
  //  - anti join: every customer has orders at this scale
  private val mayBeEmpty = Set(
    "join_anti_customers_without_orders", "dedup_simhash", "dedup_minhash_lsh")

  for ((name, fn) <- SparkEntry.queries) {
    test(s"query $name executes on sf0.001") {
      val df = fn(spark, sfTiny)
      val n = df.count()
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name: returned 0 rows")
      val left = spark.experimental.extraOptimizations.filter(r =>
        graft.plans.PlanShapes.rules.exists(_._1.isInstance(r)))
      assert(left.isEmpty, s"$name: left rules installed: ${left.map(_.ruleName)}")
    }
  }

  test("rule-proof entries start from and leave no rule registrations") {
    import graft.plans.{BloomJoins, SummaryViews}
    // one entry per rule: bloom/zone pruning, manifest serving, summary views
    for (name <- Seq("layout_bloom_auto_pointlookup", "agg_meta_profile",
        "agg_mv_rewrite")) {
      // stale registrations an earlier caller left behind
      BloomJoins.register(BloomJoins.Layout(s"$outRoot/stale-fact", "k"))
      SummaryViews.register(SummaryViews.View(s"$outRoot/stale-base",
        s"$outRoot/stale-state", Seq("k"), Set.empty, None))
      assert(SparkEntry.queries(name)(spark, sfTiny).count() > 0)
      assert(BloomJoins.isEmpty && SummaryViews.isEmpty,
        s"$name left rule registrations behind")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key refers to a registered query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("events.ts normalizes to a session-zoned timestamp at every scale") {
    // the round-6 lesson: the driver regenerated the fixture with a
    // different physical timestamp encoding (nanos-as-long became µs NTZ)
    // and every events query crashed. Tables.events owns that variance;
    // whatever the parquet says, downstream code must see TimestampType.
    import org.apache.spark.sql.types.TimestampType
    Seq(sfTiny, sfSmall).foreach { dir =>
      val t = Tables.events(spark, dir).schema("ts").dataType
      assert(t === TimestampType, s"$dir events.ts read as $t")
    }
  }

  test("documents/embeddings read with canonical key-column types") {
    // same robustness class as events.ts, proactively: whatever physical
    // widths the next fixture regeneration picks, downstream hashing,
    // encoders and codegen'd vector math see these exact types
    Seq(sfTiny, sfSmall).foreach { dir =>
      val d = Tables.documents(spark, dir).schema
      assert(d("doc_id").dataType.simpleString === "bigint")
      assert(d("n_chars").dataType.simpleString === "bigint")
      val e = Tables.embeddings(spark, dir).schema
      assert(e("vec_id").dataType.simpleString === "bigint")
      assert(e("embedding").dataType.simpleString === "array<float>")
      assert(e("label").dataType.simpleString === "int")
    }
  }
}
