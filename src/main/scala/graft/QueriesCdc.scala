package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.CdcEnvelope
import graft.operators.{Batching, Enrichment, Filters, PartitionKeys}
import graft.functions.{Dedup, Multimodal, Similarity, TextFunctions => TF}
import graft.plans.{RewriteToBloomPrunedJoin, RewriteToSummary}

/** CDC / reference-surface operators (SURVEY §2).
  *
  * One slice of the [[Queries]] catalog — registrations run at
  * trait initialization, in the linearization order [[Queries]]
  * declares, so the catalog order is identical to the pre-split
  * single file. */
private[graft] trait QueriesCdc { this: QueryDomain =>

  // ==========================================================================
  // CDC / reference-surface operators (SURVEY §2)
  // ==========================================================================

  register("cdc_envelope_project", Some(
    """SELECT event_type AS operation, 'testdb' AS "database",
      |  'c_' || CAST(user_id % 8 AS VARCHAR) AS collection,
      |  ts AS cluster_time,
      |  '{"_id":' || CAST(event_id AS VARCHAR) || '}' AS document_key,
      |  props AS full_document,
      |  '{"_data":' || CAST(event_id AS VARCHAR) || '}' AS resume_token
      |FROM events""".stripMargin)) { (s, dir) =>
    CdcEnvelope.envelopeOnly(envelope(s, dir))
  }

  register("cdc_filter_ops", Some(
    """SELECT event_type AS operation,
      |  'c_' || CAST(user_id % 8 AS VARCHAR) AS collection,
      |  ts AS cluster_time, event_id, value
      |FROM events
      |WHERE event_type IN ('purchase','signup') AND value >= 100""".stripMargin)) { (s, dir) =>
    Filters.byOperations(envelope(s, dir), Seq("purchase", "signup"))
      .filter(col("value") >= 100)
      .select(col("operation"), col("collection"), col("cluster_time"),
        col("event_id"), col("value"))
  }

  register("cdc_filter_json_field", Some(
    """SELECT event_id, event_type AS operation,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50""".stripMargin)) { (s, dir) =>
    Filters.byJsonField(envelope(s, dir), "full_document", "$.k",
        v => v.cast("long") >= 50)
      .select(col("event_id"), col("operation"),
        get_json_object(col("full_document"), "$.k").cast("long").as("k"))
  }

  register("cdc_op_counts", Some(
    """SELECT event_type AS operation, count(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin)) { (s, dir) =>
    Batching.perOpCounts(envelope(s, dir))
  }

  register("cdc_partition_keys_hive", Some(
    """SELECT 'c_' || CAST(user_id % 8 AS VARCHAR) AS collection,
      |  CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
      |  CAST(day(ts) AS INT) AS day, CAST(hour(ts) AS INT) AS hour,
      |  count(*) AS n_events
      |FROM events GROUP BY 1,2,3,4,5""".stripMargin)) { (s, dir) =>
    PartitionKeys.withTimeColumns(envelope(s, dir))
      .groupBy("collection", "year", "month", "day", "hour")
      .agg(count(lit(1)).as("n_events"))
  }

  register("cdc_group_by_collection", Some(
    """SELECT 'c_' || CAST(user_id % 8 AS VARCHAR) AS collection,
      |  count(*) AS n_events, min(ts) AS first_time, max(ts) AS last_time,
      |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin)) { (s, dir) =>
    Batching.groupByCollection(envelope(s, dir))
  }

  register("cdc_dedup_latest", Some(
    """SELECT user_id, event_type AS operation, ts AS cluster_time, event_id, value
      |FROM events
      |QUALIFY row_number() OVER
      |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)) { (s, dir) =>
    Batching.dedupLatestByKey(envelope(s, dir), Seq("user_id"))
      .select(col("user_id"), col("operation"), col("cluster_time"),
        col("event_id"), col("value"))
  }

  register("cdc_scd2_history", Some(
    """SELECT user_id, event_type AS operation, value,
      |  ts AS effective_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
      |  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM events""".stripMargin)) { (s, dir) =>
    // SCD2 history materialization from the change stream: every change
    // becomes a validity interval [effective_from, effective_to), the open
    // interval marking the current version — what a warehouse keeps so
    // point-in-time joins ("state as of T") stay a range lookup instead of
    // a log replay. One window keyed by the document key (a single
    // user-keyed shuffle at any scale); (ts, event_id) makes the version
    // order total.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cluster_time"), col("event_id"))
    envelope(s, dir).select(
      col("user_id"), col("operation"), col("value"),
      col("cluster_time").as("effective_from"),
      lead(col("cluster_time"), 1).over(w).as("effective_to"),
      when(lead(col("cluster_time"), 1).over(w).isNull, lit(1))
        .otherwise(lit(0)).as("is_current"))
  }

  register("cdc_materialize_state", Some(
    """SELECT user_id, operation, cluster_time, event_id, value FROM (
      |  SELECT user_id, event_type AS operation, ts AS cluster_time,
      |    event_id, value,
      |    row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 AND operation <> 'error'""".stripMargin)) { (s, dir) =>
    // CDC table materialization, batch form (the oracled twin of
    // streaming.Materializer): replaying the op log leaves each key's
    // LATEST row, and a key whose latest op is delete-class ('error'
    // plays that role on the synthetic feed) is ABSENT from the final
    // state — not merely deprioritized. One shuffle keyed by document
    // key; the delete filter runs after the keyed window, since an
    // earlier delete must not resurrect an older row.
    Batching.dedupLatestByKey(envelope(s, dir), Seq("user_id"))
      .filter(col("operation") =!= "error")
      .select(col("user_id"), col("operation"), col("cluster_time"),
        col("event_id"), col("value"))
  }

  register("cdc_batch_time_windows", Some(
    """SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin)) { (s, dir) =>
    Batching.timeWindows(envelope(s, dir), "1 hour")
  }

  register("cdc_batch_count", Some(
    """SELECT batch_id, count(*) AS n_events,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM (
      |  SELECT event_id, CAST(FLOOR((row_number() OVER (ORDER BY ts, event_id) - 1) / 500) AS BIGINT) AS batch_id
      |  FROM events)
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    Batching.countBatches(envelope(s, dir), 500)
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
  }

  register("cdc_enrich_join", Some(
    """SELECT c.c_mktsegment AS mktsegment, count(*) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  CAST(SUM(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    Enrichment.enrich(envelope(s, dir), Tables.customer(s, dir),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
  }

  register("cdc_order_by_time", Some(
    """SELECT event_id, ts AS cluster_time, event_type AS operation
      |FROM events ORDER BY ts, event_id LIMIT 100""".stripMargin)) { (s, dir) =>
    envelope(s, dir)
      .orderBy(col("cluster_time"), col("event_id"))
      .limit(100)
      .select(col("event_id"), col("cluster_time"), col("operation"))
  }

  register("cdc_json_roundtrip", Some(
    """SELECT event_id, event_type AS operation, value FROM events""".stripMargin)) { (s, dir) =>
    // T1 serialize → parse back: proves the JSON-lines envelope round-trips
    // losslessly (reference: serde_json JSONL, s3/destination.rs:194-208).
    // from_json parses each line ONCE into a struct; the earlier
    // 3×get_json_object form re-parsed the same line per extracted field.
    val line = to_json(struct(col("event_id"), col("operation"), col("value")))
    envelope(s, dir)
      .select(line.as("json"))
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id bigint, operation string, value double")).as("r"))
      .select(col("r.event_id").as("event_id"),
        col("r.operation").as("operation"), col("r.value").as("value"))
  }

  register("cdc_invalidate_split", Some(
    """SELECT 'c_' || CAST(user_id % 8 AS VARCHAR) AS collection, count(*) AS n_invalidate
      |FROM events WHERE event_type = 'error' GROUP BY 1""".stripMargin)) { (s, dir) =>
    val (_, invalidations) = Filters.splitInvalidate(envelope(s, dir), Seq("error"))
    invalidations.groupBy("collection").agg(count(lit(1)).as("n_invalidate"))
  }

  register("cdc_event_size", Some(
    """SELECT event_id,
      |  'testdb.c_' || CAST(user_id % 8 AS VARCHAR) AS full_name,
      |  CAST(octet_length(encode(event_type)) + octet_length(encode('testdb'))
      |    + octet_length(encode('c_' || CAST(user_id % 8 AS VARCHAR)))
      |    + octet_length(encode('{"_id":' || CAST(event_id AS VARCHAR) || '}'))
      |    + octet_length(encode(props))
      |    + octet_length(encode('{"_data":' || CAST(event_id AS VARCHAR) || '}'))
      |    + 50 AS BIGINT) AS est_size_bytes
      |FROM events""".stripMargin)) { (s, dir) =>
    // §1.1 helpers: full_name (event.rs:196-200) + batching size estimate
    // (event.rs:397-432) — the per-event inputs of size-based batching.
    envelope(s, dir).select(
      col("event_id"),
      CdcEnvelope.fullName().as("full_name"),
      CdcEnvelope.estimatedSizeBytes().as("est_size_bytes"))
  }

  register("cdc_update_description", Some(
    """SELECT event_id, props AS updated_fields,
      |  'legacy_field' AS removed_fields,
      |  CAST(event_id % 10 AS INT) AS trunc_new_size
      |FROM events WHERE event_type = 'purchase'""".stripMargin)) { (s, dir) =>
    // update_description envelope completeness (event.rs:206-230): flatten
    // the struct back to scalars so the oracle can check every component.
    envelope(s, dir)
      .filter(col("update_description").isNotNull)
      .select(
        col("event_id"),
        col("update_description.updatedFields").as("updated_fields"),
        array_join(col("update_description.removedFields"), ",")
          .as("removed_fields"),
        element_at(col("update_description.truncatedArrays"), 1)
          .getField("newSize").as("trunc_new_size"))
  }

  register("cdc_variant_extract", Some(
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |  count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // Spark 4's VariantType path for the schemaless document body (SURVEY
    // §1.2): parse_json ONCE into a binary variant, then typed
    // variant_get extractions — the modern alternative to repeated
    // get_json_object string re-parses for multi-field access.
    envelope(s, dir)
      .select(parse_json(col("full_document")).as("v"), col("value"))
      .select(variant_get(col("v"), "$.k", "bigint").as("k"), col("value"))
      .filter(col("k") >= 50)
      .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  register("cdc_preimage_diff", Some(
    """SELECT event_id,
      |  props AS full_document,
      |  '{"k": ' || CAST((CAST(json_extract_string(props, '$.k') AS BIGINT) * 7
      |      + event_id) % 100 AS VARCHAR) || '}' AS full_document_before,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT)
      |    - (CAST(json_extract_string(props, '$.k') AS BIGINT) * 7
      |      + event_id) % 100 AS k_delta
      |FROM events WHERE event_type = 'purchase'""".stripMargin)) { (s, dir) =>
    // S6 pre-images (full_document_before_change, stream.rs:483-501): the
    // consumer-facing use case — compute per-field diffs from the
    // before/after document pair. Scan-local: two JSON extracts, no shuffle.
    CdcEnvelope.fromEvents(Tables.events(s, dir), preImages = true)
      .filter(col(CdcEnvelope.preImageColumn).isNotNull)
      .select(
        col("event_id"),
        col("full_document"),
        col(CdcEnvelope.preImageColumn),
        (get_json_object(col("full_document"), "$.k").cast("long") -
          get_json_object(col(CdcEnvelope.preImageColumn), "$.k").cast("long"))
          .as("k_delta"))
  }

  register("cdc_replica_table", Some(
    """SELECT user_id, operation, cluster_time, event_id, value FROM (
      |  SELECT user_id, event_type AS operation, ts AS cluster_time,
      |    event_id, value,
      |    row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 AND operation <> 'error'""".stripMargin)) {
    (s, dir) =>
      // The PERSISTED replica: "apply the change stream to a lake table".
      // Three delta batches fold through ReplicaTable.applyBatch — and the
      // chunks are split by event_id % 3, i.e. NOT in time order, so the
      // versioned last-writer-wins merge (not arrival order) must decide
      // every key, with retained tombstones keeping delete-class wins
      // dead across batches. The oracle is the one-shot latest-per-key
      // replay (same as cdc_materialize_state): incremental == one-shot
      // is the replica-correctness claim under the hash gate. State is
      // hash-bucketed parquet: the first batch writes the base, the next
      // two append generations, and the read merges base ∪ generations.
      val env = envelope(s, dir).select(col("user_id"), col("operation"),
        col("cluster_time"), col("event_id"), col("value"))
      val path = s"$sinkRoot/cdc_replica_table-${
        dir.replaceAll("[^0-9.]", "")}"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      (0L to 2L).foreach { i =>
        graft.streaming.ReplicaTable.applyBatch(s, path,
          env.filter(pmod(col("event_id"), lit(3)) === i),
          keyCols = Seq("user_id"),
          versionCols = Seq("cluster_time", "event_id"),
          deleteWhen = col("operation") === "error",
          nBuckets = 8, batchId = i)
      }
      graft.streaming.ReplicaTable.read(s, path)
        .select(col("user_id"), col("operation"), col("cluster_time"),
          col("event_id"), col("value"))
  }

  register("cdc_incremental_agg", Some(
    """WITH d AS (
      |  SELECT user_id, event_type, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type <> 'error'),
      |x AS (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'purchase'
      |         THEN k - (k * 7 + event_id) % 100
      |         ELSE k END AS dk,
      |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS dn
      |  FROM d)
      |SELECT user_id, CAST(sum(dn) AS BIGINT) AS n_docs,
      |  CAST(sum(dk) AS BIGINT) AS sum_k
      |FROM x GROUP BY 1""".stripMargin)) { (s, dir) =>
    // Incremental materialized-aggregate maintenance: the per-user
    // (n_docs, sum_k) view is built by folding THREE successive delta
    // batches through IncrementalAgg.applyDelta — insert-class ops
    // contribute (+1, +k), the update-class op (purchase) contributes
    // (0, k_new − k_old) from its PRE-IMAGE — and the oracle recomputes
    // the same view from the full history in one shot: incremental ==
    // one-shot is exactly the IVM correctness claim, here under the hash
    // gate. State is hash-bucketed parquet; each application prunes to
    // and dynamically overwrites only the buckets its batch touches
    // (IncrementalAggSpec proves untouched bucket dirs stay byte-still).
    val env = CdcEnvelope.fromEvents(Tables.events(s, dir), preImages = true)
      .filter(col("user_id").isNotNull && col("operation") =!= "error")
    val k = get_json_object(col("full_document"), "$.k").cast("long")
    val kOld = get_json_object(col(CdcEnvelope.preImageColumn), "$.k")
      .cast("long")
    val deltas = env.select(col("user_id"),
      when(col("operation") === "purchase", k - kOld).otherwise(k)
        .as("sum_k"),
      when(col("operation") === "purchase", 0L).otherwise(1L).as("n_docs"),
      pmod(col("event_id"), lit(3)).as("__chunk"))
    val path = s"$sinkRoot/cdc_incremental_agg-${
      dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("user_id"), sumCols = Seq("sum_k", "n_docs"),
        nBuckets = 8, batchId = i)
    }
    graft.streaming.IncrementalAgg.read(s, path)
      .select(col("user_id"), col("n_docs"), col("sum_k"))
  }

  register("agg_mv_rewrite", Some(
    """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(*) AS n_docs
      |FROM documents WHERE source <> 'web' GROUP BY 1""".stripMargin)) { (s, dir) =>
    // Materialized-view REWRITE, proven end-to-end: an IncrementalAgg
    // summary keyed (lang, source) is maintained from three delta batches;
    // SummaryViews.register + install then make a plain GROUP BY over the
    // BASE parquet silently re-plan onto the summary — a COARSER roll-up
    // (lang ⊂ keys, sums of sums) under a key-column filter (source <>
    // 'web', pushed onto the summary scan). The entry REQUIRES the rewrite
    // to have fired (the optimized plan must read the state dir, asserted
    // below) and materializes the result while the rule is installed, so
    // the rows the driver hashes against DuckDB-over-the-raw-table came
    // from the summary: exactness of maintenance + rewrite + roll-up in
    // one gate. At 100 TB the query pays O(distinct lang×source), not a
    // base scan.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite-${dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs"),
      pmod(col("doc_id"), lit(3)).as("__chunk"))
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_chars", "n_docs"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set("n_chars"), Some("n_docs")))
      val q = s.read.parquet(base)
        .where(col("source") =!= "web")
        .groupBy("lang")
        .agg(sum(col("n_chars")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
      require(readsState(q, "agg_mv_rewrite"),
        "agg_mv_rewrite: the summary rewrite did not fire — the optimized " +
          "plan still reads the base table")
      // eager: the hashed rows are computed NOW, under the installed rule
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_avg", Some(
    """SELECT source, avg(n_chars) AS avg_chars,
      |  count(n_chars) AS n_vals
      |FROM documents WHERE lang <> 'en' GROUP BY 1""".stripMargin)) { (s, dir) =>
    // The extended MV-rewrite shapes: AVG(col) re-planned as
    // SUM(sums)/SUM(non-null counts) and COUNT(col) as SUM(non-null
    // counts), over a summary keyed (lang, source) — here rolled up to
    // source under a key filter on lang (the OTHER key than agg_mv_rewrite
    // exercises). The maintained nn column is SUM(IF(n_chars IS NULL,0,1))
    // per key; the entry requires the rewrite to have fired and hashes the
    // summary-served rows against DuckDB over the raw table.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_avg-${dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs"),
      when(col("n_chars").isNotNull, 1L).otherwise(0L).as("n_chars_nn"),
      pmod(col("doc_id"), lit(3)).as("__chunk"))
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"),
        sumCols = Seq("n_chars", "n_docs", "n_chars_nn"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set("n_chars"), Some("n_docs"),
        nnCounts = Map("n_chars" -> "n_chars_nn")))
      val q = s.read.parquet(base)
        .where(col("lang") =!= "en")
        .groupBy("source")
        .agg(avg(col("n_chars")).as("avg_chars"),
          count(col("n_chars")).as("n_vals"))
      require(readsState(q, "agg_mv_rewrite_avg"),
        "agg_mv_rewrite_avg: the AVG/COUNT(col) rewrite did not fire — " +
          "the optimized plan still reads the base table")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_avg_decimal", Some(
    """SELECT source,
      |  CAST(avg(CAST(n_chars AS DECIMAL(12,2))) AS DOUBLE) AS avg_price,
      |  CAST(sum(CAST(n_chars AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM documents WHERE lang <> 'en' GROUP BY 1""".stripMargin)) { (s, dir) =>
    // DECIMAL AVG through the MV rewrite — the type the money columns
    // actually have at 100 TB. The rewrite replicates Spark's own decimal
    // Average formula over the re-summed partials (DecimalDivideWith-
    // OverflowCheck into decimal(p+4,s+4) — SummaryViews.decimalAvg), so
    // the served value is bit-equal to the base query's. Both output
    // columns are CAST(agg AS DOUBLE) — CollapseProject folds those casts
    // into the Aggregate's own output list, so this entry also gates the
    // Alias(Cast(agg)) serving shape. The base is an owned COPY of
    // `documents` with the decimal column materialized (same rows, so the
    // DuckDB oracle over the raw table still matches).
    val tag = dir.replaceAll("[^0-9.]", "")
    val baseCopy = s"$sinkRoot/agg_mv_avg_dec_base-$tag"
    val path = s"$sinkRoot/agg_mv_avg_dec_state-$tag"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("decimal(12,2)").as("price"))
      .write.mode("overwrite").parquet(baseCopy)
    // decimal deltas pre-widened to precision 28 (IncrementalAgg's stable
    // decimal(38,s) fold contract); nn column enables the AVG divisor
    val deltas = s.read.parquet(baseCopy).select(col("lang"), col("source"),
      col("price").cast("decimal(28,2)").as("price"), lit(1L).as("n_docs"),
      when(col("price").isNotNull, 1L).otherwise(0L).as("price_nn"),
      pmod(col("doc_id"), lit(3)).as("__chunk"))
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"),
        sumCols = Seq("price", "n_docs", "price_nn"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        baseCopy, path, Seq("lang", "source"), Set("price"), Some("n_docs"),
        nnCounts = Map("price" -> "price_nn")))
      val q = s.read.parquet(baseCopy)
        .where(col("lang") =!= "en")
        .groupBy("source")
        .agg(avg(col("price")).cast("double").as("avg_price"),
          sum(col("price")).cast("double").as("sum_price"))
      require(readsState(q, "agg_mv_avg_dec_state"),
        "agg_mv_rewrite_avg_decimal: the decimal-AVG rewrite did not " +
          "fire — the optimized plan still reads the base table")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_minmax", Some(
    """SELECT lang, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE source <> 'web' GROUP BY 1""".stripMargin)) { (s, dir) =>
    // MIN/MAX through the MV rewrite (append-only contract): per-key
    // extrema maintained by IncrementalAgg's re-min/re-max merge, rolled
    // up to lang under a key filter — mins of mins alongside a SUM in the
    // same rewritten Aggregate. The entry requires the rewrite fired and
    // hashes the summary-served rows against DuckDB over the raw table.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_minmax-${dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"),
      col("n_chars").cast("long").as("n_chars_min"),
      col("n_chars").cast("long").as("n_chars_max"),
      pmod(col("doc_id"), lit(3)).as("__chunk"))
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_chars"),
        nBuckets = 8, batchId = i,
        minCols = Seq("n_chars_min"), maxCols = Seq("n_chars_max"))
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set("n_chars"), None,
        minCols = Map("n_chars" -> "n_chars_min"),
        maxCols = Map("n_chars" -> "n_chars_max")))
      val q = s.read.parquet(base)
        .where(col("source") =!= "web")
        .groupBy("lang")
        .agg(min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
      require(readsState(q, "agg_mv_rewrite_minmax"),
        "agg_mv_rewrite_minmax: the MIN/MAX rewrite did not fire — the " +
          "optimized plan still reads the base table")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_distinct", Some(
    """SELECT lang, count(DISTINCT source) AS n_sources,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin)) { (s, dir) =>
    // COUNT(DISTINCT key-col) through the MV rewrite: each LIVE summary
    // row is one distinct (lang, source) combination, so distinct sources
    // per lang = distinct summary key values among rows whose maintained
    // count is positive. The liveness filter is load-bearing and this
    // entry proves it: batches 3-4 insert then fully DELETE a synthetic
    // ('zz','ghost') group, leaving a net-zero state row that a naive
    // rewrite would resurrect as a ghost group (and a ghost distinct
    // source) — the raw-table oracle has no 'zz' rows, so the hash gate
    // fails unless emptied groups are excluded. At 100 TB the distinct
    // count costs O(lang×source) summary rows, zero base I/O.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_distinct-${
      dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      lit(1L).as("n_docs"), pmod(col("doc_id"), lit(3)).as("__chunk"))
    (0L to 2L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_docs"),
        nBuckets = 8, batchId = i)
    }
    // insert 5 ghost rows, then delete all 5: net count 0, row persists
    val ghost = s.range(5).select(lit("zz").as("lang"),
      lit("ghost").as("source"), lit(1L).as("n_docs"))
    graft.streaming.IncrementalAgg.applyDelta(s, path, ghost,
      keyCols = Seq("lang", "source"), sumCols = Seq("n_docs"),
      nBuckets = 8, batchId = 3L)
    graft.streaming.IncrementalAgg.applyDelta(s, path,
      ghost.withColumn("n_docs", lit(-1L)),
      keyCols = Seq("lang", "source"), sumCols = Seq("n_docs"),
      nBuckets = 8, batchId = 4L)
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set.empty, Some("n_docs")))
      val q = s.read.parquet(base)
        .groupBy("lang")
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"))
      require(readsState(q, "agg_mv_rewrite_distinct"),
        "agg_mv_rewrite_distinct: the summary rewrite did not fire — the " +
          "optimized plan still reads the base table")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_expr", Some(
    """SELECT upper(lang) AS lang_uc, substring(source, 1, 2) AS src2,
      |  count(*) AS n_docs, count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY 1, 2""".stripMargin)) { (s, dir) =>
    // MV rewrite under KEY-DERIVED grouping expressions — the dashboard
    // shape (`GROUP BY date_trunc('day', k)` / `substring(k, …)`): a
    // deterministic expression whose references are all key columns
    // evaluates over the summary's key VALUES to exactly its value over
    // the base rows of that key, so the rewrite merges summary groups
    // under the derived values and still answers exactly (the hash gate
    // runs the same expressions over the RAW table in DuckDB). The
    // rewrite firing is REQUIREd; refusal paths (non-key references,
    // non-determinism) are pinned in SummaryViewsSpec. At 100 TB the
    // query reads O(lang×source) summary rows, zero base I/O.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_expr-${
      dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      lit(1L).as("n_docs"), pmod(col("doc_id"), lit(2)).as("__chunk"))
    (0L to 1L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_docs"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set.empty, Some("n_docs")))
      val q = s.read.parquet(base)
        .groupBy(upper(col("lang")).as("lang_uc"),
          substring(col("source"), 1, 2).as("src2"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
      require(readsState(q, "agg_mv_rewrite_expr"),
        "agg_mv_rewrite_expr: the summary rewrite did not fire on the " +
          "expression-grouped query — the optimized plan still reads the " +
          "base table")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_join", Some(
    """WITH dim AS (SELECT DISTINCT lang AS d_lang,
      |  substring(lang, 1, 1) AS tier FROM documents)
      |SELECT d.tier, CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
      |  count(*) AS n_docs
      |FROM documents f JOIN dim d ON f.lang = d.d_lang
      |WHERE f.source <> 'web'
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // STAR-SCHEMA MV rewrite, end-to-end: an aggregate over
    // `fact ⋈ dim` grouped by a DIM attribute is served from
    // `Join(summary, dim)` — exact because every fact-side reference
    // (join key, WHERE, groupings) resolves to view KEY columns, so all
    // rows of a key group pass the join together and the summary row
    // stands in for the group (N:M-safe; see SummaryViews scaladoc). The
    // dim here is itself a DISTINCT over the base — served by the
    // single-base rewrite — so the REQUIRE below demands the optimized
    // plan read the summary state and NOT touch the base table at all:
    // two rewrite tiers compose in one plan, and the driver hashes the
    // result against DuckDB over the raw table. At 100 TB the dashboard
    // join pays O(keys), zero base I/O.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_join-${
      dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs"),
      pmod(col("doc_id"), lit(2)).as("__chunk"))
    (0L to 1L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_chars", "n_docs"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set("n_chars"), Some("n_docs")))
      val f = s.read.parquet(base)
      val dim = s.read.parquet(base)
        .select(col("lang").as("d_lang"),
          substring(col("lang"), 1, 1).as("tier"))
        .distinct()
      val q = f.where(col("source") =!= "web")
        .join(dim, f("lang") === dim("d_lang"))
        .groupBy("tier")
        .agg(sum(col("n_chars")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
      require(readsState(q, "agg_mv_rewrite_join"),
        "agg_mv_rewrite_join: the star-schema rewrite did not fire")
      require(!scans(q).exists(_.roots.exists(_.contains("documents"))),
        "agg_mv_rewrite_join: the plan still reads the BASE table — " +
          "both rewrite tiers must compose to summary-only I/O")
      q.localCheckpoint()
    }
  }

  register("agg_mv_rewrite_star", Some(
    """WITH d1 AS (SELECT DISTINCT lang AS d_lang,
      |  substring(lang, 1, 1) AS tier FROM documents),
      |d2 AS (SELECT DISTINCT source AS d_src,
      |  upper(source) AS src_u FROM documents)
      |SELECT d1.tier, d2.src_u,
      |  CAST(sum(f.n_chars) AS BIGINT) AS sum_chars, count(*) AS n_docs
      |FROM documents f
      |JOIN d1 ON f.lang = d1.d_lang
      |JOIN d2 ON f.source = d2.d_src
      |GROUP BY 1, 2""".stripMargin)) { (s, dir) =>
    // MULTI-DIM star rewrite end-to-end: an aggregate over
    // fact ⋈ dim1 ⋈ dim2 grouped by both dims' attributes — the NESTED
    // join tree (column-pruning Projects between the join nodes included)
    // is served with the fact leg replaced by the summary and both dim
    // subtrees verbatim. Both dims here are DISTINCTs over the base, each
    // served by the single-base rewrite, so the REQUIRE demands the final
    // plan read summary state and NO base table anywhere: three rewrite
    // firings compose in one plan, hashed against DuckDB over raw tables.
    val base = Tables.path(dir, "documents")
    val path = s"$sinkRoot/agg_mv_rewrite_star-${
      dir.replaceAll("[^0-9.]", "")}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val deltas = s.read.parquet(base).select(col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"), lit(1L).as("n_docs"),
      pmod(col("doc_id"), lit(2)).as("__chunk"))
    (0L to 1L).foreach { i =>
      graft.streaming.IncrementalAgg.applyDelta(s, path,
        deltas.filter(col("__chunk") === i).drop("__chunk"),
        keyCols = Seq("lang", "source"), sumCols = Seq("n_chars", "n_docs"),
        nBuckets = 8, batchId = i)
    }
    withRule(s, classOf[RewriteToSummary]) {
      graft.plans.SummaryViews.register(graft.plans.SummaryViews.View(
        base, path, Seq("lang", "source"), Set("n_chars"), Some("n_docs")))
      val f = s.read.parquet(base)
      val d1 = s.read.parquet(base)
        .select(col("lang").as("d_lang"),
          substring(col("lang"), 1, 1).as("tier")).distinct()
      val d2 = s.read.parquet(base)
        .select(col("source").as("d_src"),
          upper(col("source")).as("src_u")).distinct()
      val q = f.join(d1, f("lang") === d1("d_lang"))
        .join(d2, f("source") === d2("d_src"))
        .groupBy("tier", "src_u")
        .agg(sum(col("n_chars")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
      require(readsState(q, "agg_mv_rewrite_star"),
        "agg_mv_rewrite_star: the multi-dim star rewrite did not fire")
      require(!scans(q).exists(_.roots.exists(_.contains("documents"))),
        "agg_mv_rewrite_star: the plan still reads the BASE table — " +
          "all three rewrite firings must compose to summary-only I/O")
      q.localCheckpoint()
    }
  }

  register("join_bloom_pruned", Some(
    """SELECT l.l_returnflag, count(*) AS n_items,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (SELECT o_orderkey FROM orders
      |                       ORDER BY o_totalprice DESC, o_orderkey
      |                       LIMIT 5)
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // Dim-driven fact FILE skipping under the oracle: lineitem persists
    // key-bucketed (repartition by l_orderkey — one order's items land in
    // one file, but key RANGES still overlap across every file, so a zone
    // map stays blind) with per-file Bloom filters on l_orderkey; the
    // dim's distinct keys (the 5 biggest orders, deterministic tie-break)
    // probe the manifest and the join scans only firing files. The oracle
    // recomputes the plain join on the raw tables — skipping must be
    // invisible. The entry REQUIRES pruning to have engaged (the fact side
    // lists fewer files than the layout holds: ≤5 key files + fpp noise of
    // 16). At 100 TB this is the star-join point-lookup shape: a filtered
    // dimension touches a sliver of fact files, scan cost follows the
    // sliver, the model-sized dim broadcasts — no shuffle anywhere.
    val path = s"$sinkRoot/join_bloom_pruned-${dir.replaceAll("[^0-9.]", "")}"
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.BloomIndex.write(s, path, Seq("l_orderkey"),
      expectedItemsPerFile = 200000, fpp = 0.01)
    val dim = Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).select("o_orderkey")
    val joined = graft.sources.BloomIndex.prunedJoin(
      s, path, "l_orderkey", dim, "o_orderkey")
    val totalFiles = s.read.parquet(s"$path/_bloomindex").count()
    val factFiles = scans(joined).filter(_.roots.exists(
      _.contains("join_bloom_pruned"))).map(_.roots.length.toLong).sum
    require(factFiles > 0 && factFiles < totalFiles,
      s"join_bloom_pruned: expected file skipping to engage " +
        s"($factFiles of $totalFiles files)")
    joined.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
  }

  register("join_bloom_pruned_auto", Some(
    """SELECT l.l_returnflag, count(*) AS n_items,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (SELECT o_orderkey FROM orders
      |                       ORDER BY o_totalprice DESC, o_orderkey
      |                       LIMIT 5)
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // The OPTIMIZER-tier sibling of join_bloom_pruned: the user writes a
    // PLAIN join — no BloomIndex API in sight — and the registered
    // graft.plans.BloomJoins rule routes the fact scan through the
    // manifest probe (same move SummaryViews makes for IncrementalAgg).
    // Same layout, same oracle; the entry REQUIRES that the optimized
    // plan's fact side reads fewer files than the layout holds.
    val path = s"$sinkRoot/join_bloom_pruned_auto-${
      dir.replaceAll("[^0-9.]", "")}"
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.BloomIndex.write(s, path, Seq("l_orderkey"),
      expectedItemsPerFile = 200000, fpp = 0.01)
    withRule(s, classOf[RewriteToBloomPrunedJoin]) {
      graft.plans.BloomJoins.register(graft.plans.BloomJoins.Layout(
        path, "l_orderkey"))
      val fact = s.read.parquet(path)
      val dim = Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5).select("o_orderkey")
      val joined = fact.join(dim,
        fact("l_orderkey") === dim("o_orderkey")) // the PLAIN spelling
      val totalFiles = s.read.parquet(s"$path/_bloomindex").count()
      val factFiles = filesRead(joined, "join_bloom_pruned_auto")
      require(factFiles > 0 && factFiles < totalFiles,
        s"join_bloom_pruned_auto: expected the RULE to skip files " +
          s"($factFiles of $totalFiles)")
      joined.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"))
        .localCheckpoint()
    }
  }

  register("join_bloom_pruned_composite", Some(
    """SELECT l.l_returnflag, count(*) AS n_items,
      |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN (SELECT l_orderkey AS k1, l_partkey AS k2 FROM lineitem
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_partkey
      |      LIMIT 5) d
      |  ON l.l_orderkey = d.k1 AND l.l_partkey = d.k2
      |GROUP BY 1""".stripMargin)) { (s, dir) =>
    // COMPOSITE-key bloom pruning under the oracle: the layout carries
    // per-file filters on BOTH join columns, the two-key equi-join probes
    // each and INTERSECTS the candidate sets (each set is a superset of
    // the files holding its column's matches, so the intersection is a
    // superset of the files holding rows matching both — sound). The dim
    // is a top-5 whose ordering includes both keys — the Limit carve-out
    // certifies each collected key set. REQUIREs fewer files read than
    // the layout holds.
    val path = s"$sinkRoot/join_bloom_composite-${
      dir.replaceAll("[^0-9.]", "")}"
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_returnflag",
        "l_extendedprice", "l_discount")
      .repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(path)
    graft.sources.BloomIndex.write(s, path,
      Seq("l_orderkey", "l_partkey"),
      expectedItemsPerFile = 200000, fpp = 0.01)
    withRule(s, classOf[RewriteToBloomPrunedJoin]) {
      graft.plans.BloomJoins.register(graft.plans.BloomJoins.Layout(
        path, "l_orderkey"))
      graft.plans.BloomJoins.register(graft.plans.BloomJoins.Layout(
        path, "l_partkey"))
      val fact = s.read.parquet(path)
      val dim = Tables.lineitem(s, dir)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_partkey"))
        .limit(5)
        .select(col("l_orderkey").as("k1"), col("l_partkey").as("k2"))
      val joined = fact.join(dim,
        fact("l_orderkey") === dim("k1") &&
          fact("l_partkey") === dim("k2")) // the PLAIN two-key spelling
      val totalFiles = s.read.parquet(s"$path/_bloomindex").count()
      val factFiles = filesRead(joined, "join_bloom_composite")
      require(factFiles > 0 && factFiles < totalFiles,
        s"join_bloom_pruned_composite: expected the two-key RULE to skip " +
          s"files ($factFiles of $totalFiles)")
      joined.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"))
        .localCheckpoint()
    }
  }

  register("join_zone_pruned_range", Some(
    """SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      |WHERE d.doc_id IN (SELECT doc_id FROM documents
      |                   ORDER BY doc_id LIMIT 8)
      |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    // ZONE-driven join pruning — no bloom index anywhere: the fact is
    // range-CLUSTERED on the join key and carries only the cheap zone
    // manifest; the dim-driven semi-join probes with the dim's
    // [min, max] and scans only the files whose zone intersects. This is
    // the natural 100 TB plan for time-bucketed / id-sorted layouts,
    // where building per-file blooms on the clustering key would be
    // wasted bytes. The top-8 dim is a Limit above a Sort ON the key —
    // the certified limit shape. REQUIREs file skipping; rows hash
    // against DuckDB over the raw table.
    val path = s"$sinkRoot/join_zone_pruned-${dir.replaceAll("[^0-9.]", "")}"
    val docs = Tables.table(s, dir, "documents")
    docs.select("doc_id", "lang", "n_chars")
      .repartitionByRange(16, col("doc_id"))
      .write.mode("overwrite").parquet(path)
    graft.sources.ZoneMap.write(s, path, Seq("doc_id"))
    // registration arrives via the writer's self-description + discovery
    withRule(s, classOf[RewriteToBloomPrunedJoin]) {
      val f = s.read.parquet(path)
      val dim = docs.orderBy(col("doc_id")).limit(8)
        .select(col("doc_id").as("id"))
      val q = f.join(dim, f("doc_id") === dim("id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
      val totalFiles = s.read.parquet(s"$path/_zonemap").count()
      val factFiles = filesRead(q, "join_zone_pruned")
      require(factFiles > 0 && factFiles < totalFiles,
        s"join_zone_pruned_range: expected the dim [min,max] to zone-skip " +
          s"files ($factFiles of $totalFiles)")
      q.localCheckpoint()
    }
  }

  register("join_bloom_zone_composed", Some(
    """SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      |WHERE d.n_chars >= 300
      |  AND d.doc_id IN (SELECT doc_id FROM documents
      |                   ORDER BY n_chars DESC, doc_id LIMIT 5)
      |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    // The two pruning tiers COMPOSED on one scan: the fact carries BOTH a
    // bloom index on doc_id (hash-spread — only membership skips) and a
    // zone map on n_chars (range-clustered — only zones skip); the query
    // is a dim-driven semi-join AND a plain range filter, and the rule
    // intersects the two candidate sets before swapping the scan — files
    // outside the range are skipped even when their bloom filter fires,
    // and in-range files without the keys are skipped even though the
    // zone intersects. The top-5 dim is a Limit above a Sort whose
    // ordering includes the KEY (n_chars DESC, doc_id), the one limit
    // shape the determinism contract certifies. REQUIREs file skipping;
    // rows hash against DuckDB over the raw table.
    val path = s"$sinkRoot/join_bloom_zone-${dir.replaceAll("[^0-9.]", "")}"
    val docs = Tables.table(s, dir, "documents")
    docs.select("doc_id", "lang", "n_chars")
      .repartitionByRange(16, col("n_chars"), col("doc_id"))
      .write.mode("overwrite").parquet(path)
    graft.sources.BloomIndex.write(s, path, Seq("doc_id"),
      expectedItemsPerFile = 100000, fpp = 0.01)
    graft.sources.ZoneMap.write(s, path, Seq("n_chars"))
    // registrations arrive via the writers' self-description: clear the
    // registries to the fresh-session state and let DISCOVERY fill them
    withRule(s, classOf[RewriteToBloomPrunedJoin]) {
      val f = s.read.parquet(path).where(col("n_chars") >= 300L)
      // the dim reads the ORIGINAL table (same rows), so the file-count
      // REQUIRE below measures the fact layout alone
      val dim = docs
        .orderBy(col("n_chars").desc, col("doc_id"))
        .limit(5).select(col("doc_id").as("id"))
      val q = f.join(dim, f("doc_id") === dim("id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
      val totalFiles = s.read.parquet(s"$path/_zonemap").count()
      val factFiles = filesRead(q, "join_bloom_zone")
      require(factFiles > 0 && factFiles < totalFiles,
        s"join_bloom_zone_composed: expected the composed rule to skip " +
          s"files ($factFiles of $totalFiles)")
      q.localCheckpoint()
    }
  }
}
