package graft.streaming

import graft.{SparkSpec, Tables}
import graft.cdc.CdcEnvelope
import graft.operators.KeyStrategy
import graft.sources.{OutCompression, OutFormat}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Streaming-runtime semantics: checkpointed resume (S5/O4), exactly-once
  * via idempotent batch dirs, count batching (A1), retry/backoff (O3),
  * restart loop (O5), graceful shutdown (O8/A3), metrics (§2.11/O9),
  * watch-level orchestration (S4/O1) — the reference's
  * pipeline_integration_test.rs scenarios on Structured Streaming. */
class StreamingSpec extends SparkSpec {

  private val root = "/root/repo/target/test-out/streaming"

  private val envDDL =
    "operation string, database string, collection string, " +
      "cluster_time timestamp, document_key string, full_document string, " +
      "resume_token string, event_id long, user_id long, value double"

  /** The envelope split into N jsonl files under `dir` (the "change feed"). */
  private def stageSource(dir: String, parts: Int, filter: DataFrame => DataFrame = identity): Long = {
    val env = filter(CdcEnvelope.fromEvents(Tables.events(spark, sfTiny)))
      .drop("update_description")
    env.repartition(parts).write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(dir)
    env.count()
  }

  private def fresh(name: String): (String, String, String) = {
    val base = s"$root/$name"
    val p = Paths.get(base)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    (s"$base/source", s"$base/checkpoint", s"$base/out")
  }

  private def cfg(src: String, ckpt: String, name: String): PipelineConfig =
    PipelineConfig(sourceDir = src, schemaDDL = envDDL, checkpointDir = ckpt,
      queryName = name, triggerInterval = None) // AvailableNow

  test("end-to-end: stream -> foreachBatch file destination is lossless") {
    val (src, ckpt, out) = fresh("e2e")
    val n = stageSource(src, parts = 4)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased)
    val q = CdcPipeline.start(spark, cfg(src, ckpt, "e2e"), dest)
    q.awaitTermination(120000)
    val back = dest.readBack(spark, Some(envDDL))
    assert(back.count() === n)
    assert(back.select(sum(col("event_id"))).head.getLong(0) ===
      CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
        .select(sum(col("event_id"))).head.getLong(0))
  }

  test("dead-letter fork: quarantined rows route to the DLQ, clean rows to the sink") {
    import graft.operators.Quality
    val (src, ckpt, out) = fresh("dlq")
    val n = stageSource(src, parts = 3)
    // gate: value must sit in [0, 150] — the synthetic feed has plenty of
    // rows outside, so both legs carry real mass
    val checks = Seq(Quality.InRange("value", 0, 150))
    val primary = new FileDestination(s"$out/clean", OutFormat.Jsonl,
      OutCompression.None, KeyStrategy.CollectionBased)
    val dlq = new FileDestination(s"$out/dead", OutFormat.Jsonl,
      OutCompression.None, KeyStrategy.Flat)
    val q = CdcPipeline.start(spark,
      cfg(src, ckpt, "dlq").copy(
        transform = df => Quality.quarantine(df, checks)),
      new DeadLetterDestination(primary, dlq))
    q.awaitTermination(120000)
    val cleanDDL = envDDL
    val deadDDL = envDDL + ", quarantine_reason string"
    val clean = primary.readBack(spark, Some(cleanDDL))
    val dead = dlq.readBack(spark, Some(deadDDL))
    val wantDead = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .filter(col("value") < 0 || col("value") > 150).count()
    assert(dead.count() === wantDead && wantDead > 0)
    assert(clean.count() === n - wantDead && clean.count() > 0)
    // the clean leg's schema carries NO quarantine column; the DLQ leg
    // carries the machine-readable reason on every row
    assert(!clean.columns.contains("quarantine_reason"))
    assert(dead.filter(col("quarantine_reason") =!=
      "range:value[0.0,150.0]").count() === 0)
    // nothing lost, nothing duplicated across the fork
    assert(clean.select("event_id").union(dead.select("event_id"))
      .distinct().count() === n)
  }

  test("file destination maintains a zone map as it writes; pruned reads exact") {
    import graft.sources.ZoneMap
    val (src, ckpt, out) = fresh("zonemap-sink")
    val n = stageSource(src, parts = 4)
    val dest = new FileDestination(out, OutFormat.Parquet,
      OutCompression.Snappy, KeyStrategy.CollectionBased,
      zoneMapCols = Seq("value"))
    val q = CdcPipeline.start(spark,
      cfg(src, ckpt, "zonemap-sink").copy(maxFilesPerTrigger = Some(2)),
      dest)
    q.awaitTermination(120000)
    // every data file the sink wrote is in the manifest — across the
    // multiple micro-batch dirs maxFilesPerTrigger forced
    val manifest = spark.read.parquet(s"$out/_zonemap")
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) dataFiles(f) else Seq(f)
      }
    val onDisk = dataFiles(new java.io.File(out)).map(_.getName).toSet
    val indexed = manifest.select("file").collect()
      .map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) })
      .toSet
    assert(indexed === onDisk && onDisk.nonEmpty)
    assert(manifest.select(sum(col("n_rows"))).head().getLong(0) === n)
    // a value-band query through the manifest answers exactly
    val got = ZoneMap.prunedRead(spark, out, "value", 100.0, 200.0).count()
    val want = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .filter(col("value") >= 100.0 && col("value") <= 200.0).count()
    assert(got === want && want > 0)
    // the manifest is current: a follow-up update is a no-op
    assert(ZoneMap.update(spark, out, Seq("value")) === ZoneMap.UpdateDelta(0, 0))
  }

  test("file destination maintains the SKETCH tier at ingest; a replayed " +
      "batch re-sketches its files without ghosts") {
    import graft.sources.ZoneMap
    val (src, ckpt, out) = fresh("sketch-sink")
    val n = stageSource(src, parts = 4)
    val dest = new FileDestination(out, OutFormat.Parquet,
      OutCompression.Snappy, KeyStrategy.CollectionBased,
      zoneMapCols = Seq("value"), sketchCols = Seq("value", "user_id"))
    val q = CdcPipeline.start(spark,
      cfg(src, ckpt, "sketch-sink").copy(maxFilesPerTrigger = Some(2)),
      dest)
    q.awaitTermination(120000)
    val env = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
    // a FRESH session's approx profile works with zero offline rebuild —
    // gated against exact answers: n_rows exact, KLL rank within 2ε,
    // HLL within 5%
    def gate(): Unit = {
      val prof = ZoneMap.metaApproxProfile(spark, out,
        Seq("value", "user_id"), Seq(0.5)).head()
      val mid = prof.getAs[Double]("value_p50")
      val du = prof.getAs[Long]("user_id_approx_distinct")
      val ex = env.agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("du"),
        (count(when(col("value") <= mid, 1)) / count(col("value")))
          .as("r")).head()
      assert(prof.getAs[Long]("n_rows") === ex.getAs[Long]("n"))
      assert(math.abs(ex.getAs[Double]("r") - 0.5) <= 0.033,
        s"KLL rank contract violated at ingest: ${ex.getAs[Double]("r")}")
      assert(math.abs(du - ex.getAs[Long]("du")).toDouble /
          ex.getAs[Long]("du") <= 0.05,
        s"HLL estimate off: $du vs ${ex.getAs[Long]("du")}")
      // the ingest-maintained frequent-items blobs too: the tiny feed's
      // distinct user count sits far below saturation, so the manifest
      // top-3 must equal the exact (count desc, user asc) top-3
      val top = ZoneMap.metaApproxProfile(spark, out, Seq("user_id"),
          Seq(0.5), topK = 3).head()
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("user_id_topk")
        .map(h => (h.getLong(0), h.getLong(1)))
      val exactTop = env.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id").asc).limit(3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(top === exactTop,
        s"ingest-built heavy hitters must be exact below saturation: " +
          s"$top vs $exactTop")
    }
    gate()
    val manifestRows =
      spark.read.parquet(s"$out/_zonemap").count()
    // REPLAY batch 0 under the same batchId (foreachBatch's at-least-once
    // contract): the overwritten dir's fresh UUID files re-index WITH
    // their blobs, the stale rows reap in the same tick — totals, blobs
    // and file accounting identical to a single clean run
    val batch0 = spark.read.parquet(f"$out/batch_id=${0L}%06d")
    new FileDestination(out, OutFormat.Parquet, OutCompression.Snappy,
      KeyStrategy.CollectionBased, zoneMapCols = Seq("value"),
      sketchCols = Seq("value", "user_id"))
      .writeBatch(batch0, 0L)
    gate()
    val manifest = spark.read.parquet(s"$out/_zonemap")
    assert(manifest.count() === manifestRows, "reap must drop stale rows")
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) dataFiles(f) else Seq(f)
      }
    val onDisk = dataFiles(new java.io.File(out)).map(_.getName).toSet
    val indexed = manifest.select("file").collect()
      .map(r => graft.sources.Manifests.baseName(r.getString(0))).toSet
    assert(indexed === onDisk && onDisk.nonEmpty,
      "no ghost manifest rows, no unindexed files after the replay")
  }

  test("file destination maintains a bloom index as it writes; compaction composes; point reads exact") {
    import graft.sources.{BloomIndex, Compaction, OutFormat => OF, ZoneMap}
    val (src, ckpt, out) = fresh("bloom-sink")
    val n = stageSource(src, parts = 4)
    // filesPerKeyHint fragments each collection dir (3 files per batch) —
    // the layout shape Compaction exists for
    val dest = new FileDestination(out, OutFormat.Parquet,
      OutCompression.Snappy, KeyStrategy.CollectionBased,
      bloomIndexCols = Seq("event_id"), bloomExpectedItemsPerFile = 2000,
      filesPerKeyHint = Some(3))
    val q = CdcPipeline.start(spark,
      cfg(src, ckpt, "bloom-sink").copy(maxFilesPerTrigger = Some(2)), dest)
    q.awaitTermination(120000)
    // every data file the sink wrote is in the manifest
    val manifest = spark.read.parquet(s"$out/_bloomindex")
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) dataFiles(f) else Seq(f)
      }
    val onDisk = dataFiles(new java.io.File(out)).map(_.getName).toSet
    val indexed = manifest.select("file").collect()
      .map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) })
      .toSet
    assert(indexed === onDisk && onDisk.nonEmpty)
    assert(manifest.select(sum(col("n_rows"))).head().getLong(0) === n)
    // point lookups through the index answer exactly; manifest is current
    val ids = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .select("event_id").orderBy("event_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(BloomIndex.prunedRead(spark, out, "event_id", ids)
      .count() === ids.length.toLong)
    assert(BloomIndex.update(spark, out, Seq("event_id"),
      expectedItemsPerFile = 2000) === ZoneMap.UpdateDelta(0, 0))
    // compact the fragmented sink layout: the bloom manifest follows the
    // rewrite by itself — zero manual updates, lookups stay exact
    val fsOut = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = math.max(1L, fsOut.getContentSummary(
      new org.apache.hadoop.fs.Path(out)).getLength)
    val report = Compaction.compact(spark, out, OF.Parquet,
      OutCompression.Snappy, targetFileBytes = target)
    assert(report.filter(col("compacted")).count() > 0, "fixture must compact")
    assert(BloomIndex.update(spark, out, Seq("event_id"),
      expectedItemsPerFile = 2000) === ZoneMap.UpdateDelta(0, 0),
      "compaction must leave the bloom manifest current")
    assert(BloomIndex.prunedRead(spark, out, "event_id", ids)
      .count() === ids.length.toLong)
    // the sink SELF-DESCRIBED: the catalog it wrote at first batch lets a
    // FRESH session's plain IN-query prune this layout with zero
    // register() calls (GraftCatalog discovery; registries + discovery
    // memory cleared = the state a new JVM starts from)
    graft.plans.BloomJoins.clear()
    graft.plans.GraftCatalog.clearCache()
    graft.plans.BloomJoins.install(spark)
    try {
      val q = spark.read.parquet(out).where(col("event_id").isin(ids: _*))
      val files = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation
                if f.location.rootPaths.exists(
                  _.toString.contains("bloom-sink")) =>
              f.location.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
      val total = spark.read.parquet(s"$out/_bloomindex").count()
      assert(files > 0 && files < total,
        s"fresh-session discovery must prune the sink layout " +
          s"($files of $total)")
      assert(q.count() === ids.length.toLong)
    } finally {
      graft.plans.BloomJoins.uninstall(spark)
      graft.plans.BloomJoins.clear()
      graft.plans.GraftCatalog.clearCache()
    }
  }

  test("checkpoint resume processes only new files, exactly once (S5/O4)") {
    val (src, ckpt, out) = fresh("resume")
    val staging = s"$root/resume/staging"
    // stage the full feed, then reveal it in two steps
    stageSource(staging, parts = 6)
    val files = Files.list(Paths.get(staging)).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    Files.createDirectories(Paths.get(src))
    def reveal(fs: Seq[Path]): Unit = fs.foreach { f =>
      Files.copy(f, Paths.get(src, f.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased)

    reveal(files.take(3))
    val q1 = CdcPipeline.start(spark, cfg(src, ckpt, "resume"), dest)
    q1.awaitTermination(120000)
    val afterFirst = dest.readBack(spark, Some(envDDL)).count()

    reveal(files.drop(3)) // new arrivals while "down"
    val q2 = CdcPipeline.start(spark, cfg(src, ckpt, "resume"), dest)
    q2.awaitTermination(120000)

    val back = dest.readBack(spark, Some(envDDL))
    val total = spark.read.schema(envDDL)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(staging).count()
    assert(afterFirst > 0 && afterFirst < total, "first run should be partial")
    assert(back.count() === total, "resume lost or duplicated events")
    assert(back.select(countDistinct(col("event_id"))).head.getLong(0) === total,
      "duplicate event_ids after resume — not exactly-once")
  }

  test("maxFilesPerTrigger bounds each micro-batch (A1 count batching)") {
    val (src, ckpt, out) = fresh("countbatch")
    stageSource(src, parts = 6)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "countbatch").copy(maxFilesPerTrigger = Some(2))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    assert(dest.batchesWritten === 3, s"expected 3 batches of <=2 files, got ${dest.batchesWritten}")
    // batch dirs are the idempotence keys
    val dirs = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("batch_id=")).toSeq
    assert(dirs.size === 3)
  }

  test("transient write failures are retried with backoff, batch lands once (O3)") {
    GraftMetrics.reset()
    val (src, ckpt, _) = fresh("retry")
    val n = stageSource(src, parts = 2)
    val mock = new MockDestination(failNextWrites = 2)
    val c = cfg(src, ckpt, "retry")
      .copy(retry = Retry.Policy(maxRetries = 5, initialDelayMs = 1, maxDelayMs = 5))
    val q = CdcPipeline.start(spark, c, mock)
    q.awaitTermination(120000)
    assert(mock.attempts === 3, s"2 failures + 1 success, got ${mock.attempts}")
    assert(mock.batches.map(_._2).sum === n)
    assert(GraftMetrics.counterTotal(GraftMetrics.Retries) === 2)
    assert(GraftMetrics.counterTotal(GraftMetrics.BatchesWritten) === 1)
  }

  test("non-retryable errors fail the batch immediately and are not retried") {
    val (src, ckpt, _) = fresh("fatal")
    stageSource(src, parts = 1)
    val mock = new MockDestination(failNextWrites = 1,
      failWith = new DestinationError.Validation("bad schema"))
    val c = cfg(src, ckpt, "fatal")
      .copy(retry = Retry.Policy(maxRetries = 5, initialDelayMs = 1, maxDelayMs = 5))
    val q = CdcPipeline.start(spark, c, mock)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert(mock.attempts === 1, "validation error must not be retried")
    assert(err.getMessage.contains("bad schema") ||
      Option(err.getCause).exists(_.getMessage.contains("bad schema")))
  }

  test("restart loop recovers from a failing batch via checkpoint (O5)") {
    val (src, ckpt, _) = fresh("restart")
    val n = stageSource(src, parts = 2)
    // every in-batch retry exhausted twice -> query dies twice -> third
    // start succeeds from the same checkpoint
    val mock = new MockDestination(failNextWrites = 2)
    val c = cfg(src, ckpt, "restart")
      .copy(retry = Retry.Policy(maxRetries = 0, initialDelayMs = 1, maxDelayMs = 2))
    val starts = CdcPipeline.runWithRestart(spark, c, mock, maxAttempts = 5,
      sleep = _ => ())
    assert(starts === 3, s"expected 3 starts, got $starts")
    assert(mock.batches.map(_._2).sum === n, "restart lost events")
  }

  test("graceful stop drains the in-flight batch; restart completes the feed (O8/A3)") {
    val (src, ckpt, out) = fresh("stop")
    val n = stageSource(src, parts = 8)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "stop").copy(
      maxFilesPerTrigger = Some(1),
      triggerInterval = Some("50 milliseconds"))
    val q = CdcPipeline.start(spark, c, dest)
    // let a few micro-batches through, then stop mid-stream
    val deadline = System.nanoTime() + 60e9.toLong
    while (dest.batchesWritten < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    CdcPipeline.stopGracefully(q)
    val partial = dest.readBack(spark, Some(envDDL)).count()
    assert(partial > 0, "nothing processed before stop")
    // finish with an AvailableNow run on the same checkpoint
    val q2 = CdcPipeline.start(spark, cfg(src, ckpt, "stop"), dest)
    q2.awaitTermination(120000)
    val back = dest.readBack(spark, Some(envDDL))
    assert(back.count() === n)
    assert(back.select(countDistinct(col("event_id"))).head.getLong(0) === n,
      "graceful stop + resume duplicated events")
  }

  test("metrics listener publishes reference metric names (§2.11/O9)") {
    GraftMetrics.reset()
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      val (src, ckpt, out) = fresh("metrics")
      val n = stageSource(src, parts = 2)
      val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
        KeyStrategy.Flat)
      // maxFilesPerTrigger=1: two batches, so batch 0 ends with a known
      // 1-file backlog — the batch_queue_size signal
      val q = CdcPipeline.start(spark,
        cfg(src, ckpt, "metrics-q").copy(maxFilesPerTrigger = Some(1)), dest)
      q.awaitTermination(120000)
      // listener events are async — give the bus a moment
      val deadline = System.nanoTime() + 30e9.toLong
      while (GraftMetrics.counter(GraftMetrics.EventsProcessed,
        "query" -> "metrics-q") < n && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(GraftMetrics.counter(GraftMetrics.EventsProcessed,
        "query" -> "metrics-q") === n)
      assert(GraftMetrics.histogramCount(GraftMetrics.BatchSize,
        "query" -> "metrics-q") >= 1)
      assert(GraftMetrics.histogramSum(GraftMetrics.WriteBytes,
        "destination_type" -> "file") > 0.0, "write bytes not observed")
      // change_stream_lag_seconds: fed per batch from the newest event time
      // the batch carried (fixture events are in 2024, so lag >> 0)
      assert(GraftMetrics.histogramCount(GraftMetrics.StreamLag,
        "query" -> "metrics-q") >= 1, "stream lag not observed")
      assert(GraftMetrics.histogramSum(GraftMetrics.StreamLag,
        "query" -> "metrics-q") > 0.0)
      // batch_queue_size: the earlier batch must have reported backlog > 0,
      // the drained stream's final gauge reads 0
      assert(GraftMetrics.histogramSum(GraftMetrics.BatchQueueSize,
        "query" -> "metrics-q") > 0.0, "no backlog ever observed")
      assert(GraftMetrics.gauge(GraftMetrics.BatchQueueSize,
        "query" -> "metrics-q") === 0.0, "drained stream still shows backlog")
      // pipeline_status must return to 0 under the SAME label it was set
      // to 1 (terminated events only carry the run id)
      val gaugeDeadline = System.nanoTime() + 30e9.toLong
      while (GraftMetrics.gauge(GraftMetrics.PipelineStatus,
        "query" -> "metrics-q") != 0.0 && System.nanoTime() < gaugeDeadline)
        Thread.sleep(100)
      assert(GraftMetrics.gauge(GraftMetrics.PipelineStatus,
        "query" -> "metrics-q") === 0.0, "status gauge stuck at running")
      val rendered = GraftMetrics.render()
      assert(rendered.contains("rigatoni_events_processed_total"))
      assert(rendered.contains("rigatoni_batches_written_total"))
      assert(rendered.contains("rigatoni_destination_write_bytes"))
      assert(rendered.contains("rigatoni_change_stream_lag_seconds"))
      assert(rendered.contains("rigatoni_batch_queue_size"))
      // every line is a valid exposition sample `name{k="v",...} value`:
      // histogram suffixes sit before the label set, and label values
      // escape backslash, double quote and newline
      GraftMetrics.observe(GraftMetrics.BatchSize, 2.0,
        "query" -> "say \"hi\"\\\n")
      val exposition = GraftMetrics.render()
      val pair = """[a-zA-Z_][a-zA-Z0-9_]*="(?:[^"\\\n]|\\[\\"n])*""""
      val sample = ("""[a-zA-Z_:][a-zA-Z0-9_:]*""" +
        s"""(?:\\{$pair(?:,$pair)*\\})?""" +
        """ (?:[-+]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][-+]?\d+)?|NaN|[-+]Inf)""").r
      val bad = exposition.split("\n").filter(_.nonEmpty)
        .filterNot(sample.matches)
      assert(bad.isEmpty, bad.mkString("invalid exposition lines:\n", "\n", ""))
      assert(exposition.linesIterator.contains(
        """rigatoni_batch_size_count{query="say \"hi\"\\\n"} 1"""),
        exposition)
      assert(exposition.contains("""rigatoni_batch_size_count{query="metrics-q"} """))
    } finally spark.streams.removeListener(listener)
  }

  test("terminal write failure feeds events_failed_total and error status (§2.11)") {
    GraftMetrics.reset()
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      val (src, ckpt, _) = fresh("efail")
      val n = stageSource(src, parts = 1)
      val mock = new MockDestination(failNextWrites = 99)
      val c = cfg(src, ckpt, "efail-q")
        .copy(retry = Retry.Policy(maxRetries = 1, initialDelayMs = 1, maxDelayMs = 2))
      val q = CdcPipeline.start(spark, c, mock)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000)
      }
      assert(GraftMetrics.counter(GraftMetrics.EventsFailed,
        "query" -> "efail-q") === n,
        "failed batch's rows not counted in events_failed_total")
      // error status lands under the query NAME, not the run id
      val deadline = System.nanoTime() + 30e9.toLong
      while (GraftMetrics.gauge(GraftMetrics.PipelineStatus,
        "query" -> "efail-q") != 2.0 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(GraftMetrics.gauge(GraftMetrics.PipelineStatus,
        "query" -> "efail-q") === 2.0)
    } finally spark.streams.removeListener(listener)
  }

  test("orchestrator runs one query per collection and aggregates stats (S4/O1)") {
    GraftMetrics.reset()
    val (srcRoot, ckpt, out) = fresh("orch")
    val collections = Seq("c_0", "c_1")
    var total = 0L
    collections.foreach { cName =>
      total += stageSource(s"$srcRoot/$cName", parts = 2,
        filter = df => df.filter(col("collection") === cName))
    }
    val dests = scala.collection.mutable.Map.empty[String, FileDestination]
    val orch = new Orchestrator(spark, srcRoot,
      WatchLevel.Collection(collections), ckpt, envDDL,
      destinationFor = name => {
        val d = new FileDestination(s"$out/$name", OutFormat.Jsonl,
          OutCompression.None, KeyStrategy.Flat)
        dests(name) = d; d
      },
      configure = _.copy(triggerInterval = None))
    val qs = orch.start()
    assert(qs.size === 2)
    assert(GraftMetrics.gauge(GraftMetrics.ActiveCollections) === 2.0)
    orch.awaitTermination()
    val got = collections.map(n => dests(n).readBack(spark, Some(envDDL)).count()).sum
    assert(got === total)
    val stats = orch.stats()
    assert(stats.batchesWritten === 2)
    assert(stats.writeErrors === 0)
    orch.stop()
    assert(GraftMetrics.gauge(GraftMetrics.ActiveCollections) === 0.0)
    // destinations are closed: further writes must fail (D5)
    val err = intercept[DestinationError.Closed] {
      dests("c_0").writeBatch(Tables.events(spark, sfTiny).limit(1), 99L)
    }
    assert(err.errorType === "closed")
  }

  test("/metrics endpoint serves all 13 reference names while a pipeline runs") {
    GraftMetrics.reset()
    val (srcRoot, ckpt, out) = fresh("metrics-http")
    val n = stageSource(s"$srcRoot/c_0", parts = 2,
      filter = df => df.filter(col("collection") === "c_0"))
    assert(n > 0)
    val orch = new Orchestrator(spark, srcRoot,
      WatchLevel.Collection(Seq("c_0")), ckpt, envDDL,
      destinationFor = name => new FileDestination(s"$out/$name",
        OutFormat.Jsonl, OutCompression.None, KeyStrategy.Flat),
      configure = _.copy(triggerInterval = None),
      metricsPort = Some(0)) // ephemeral port
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      orch.start()
      val port = orch.metricsServer.get.port
      orch.awaitTermination()
      def scrape(): (Int, String, String) = {
        val url = java.net.URI.create(s"http://127.0.0.1:$port/metrics").toURL
        val conn = url.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val ctype = conn.getContentType
        val body = scala.io.Source.fromInputStream(conn.getInputStream,
          "UTF-8").mkString
        conn.disconnect()
        (code, ctype, body)
      }
      val (code, ctype, body) = scrape()
      assert(code === 200)
      assert(ctype.startsWith("text/plain"), s"content type: $ctype")
      // the full reference metric surface (metrics.rs:112-227) is visible
      // in one scrape — names seeded at server start, live series from
      // the run layered on top
      val names = Seq(GraftMetrics.EventsProcessed, GraftMetrics.EventsFailed,
        GraftMetrics.Retries, GraftMetrics.BatchesWritten,
        GraftMetrics.WriteErrors, GraftMetrics.BatchSize,
        GraftMetrics.BatchDuration, GraftMetrics.WriteDuration,
        GraftMetrics.WriteBytes, GraftMetrics.StreamLag,
        GraftMetrics.ActiveCollections, GraftMetrics.PipelineStatus,
        GraftMetrics.BatchQueueSize)
      names.foreach(m => assert(body.contains(m), s"scrape missing $m:\n$body"))
      // and the scrape reflects the run, not just the seeds
      assert(body.linesIterator.exists(l =>
        l.startsWith(s"${GraftMetrics.BatchesWritten}{") && !l.endsWith(" 0")),
        s"no live batches_written series:\n$body")
      orch.stop()
      // the endpoint dies with the orchestrator
      intercept[java.io.IOException](scrape())
    } finally {
      spark.streams.removeListener(listener)
      orch.stop()
    }
  }

  test("database watch level reads the whole tree through one glob query (S2)") {
    val (srcRoot, ckpt, out) = fresh("dblevel")
    var total = 0L
    Seq("c_2", "c_3").foreach { cName =>
      total += stageSource(s"$srcRoot/$cName", parts = 1,
        filter = df => df.filter(col("collection") === cName))
    }
    val paths = CdcPipeline.sourcePath(srcRoot, WatchLevel.Database)
    assert(paths === Seq(s"$srcRoot/*"))
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased)
    val c = cfg(paths.head, ckpt, "dblevel")
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    assert(dest.readBack(spark, Some(envDDL)).count() === total)
  }

  test("invalidate event flushes live rows then terminates the stream fatally (F3)") {
    val (src, ckpt, out) = fresh("invalidate")
    val n = stageSource(src, parts = 1)
    val nErrors = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .filter(col("operation") === "error").count()
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "invalidate").copy(
      invalidateOps = Seq("error"),
      retry = Retry.Policy(maxRetries = 3, initialDelayMs = 1, maxDelayMs = 2))
    val q = CdcPipeline.start(spark, c, dest)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.isInstanceOf[DestinationError.Invalidated]),
      s"expected Invalidated in cause chain: $ex")
    // live (non-invalidate) rows of the batch were flushed before closing
    val back = dest.readBack(spark, Some(envDDL))
    assert(back.count() === n - nErrors)
    assert(back.filter(col("operation") === "error").count() === 0)
    // the final flush WORKED: it must count as a written batch, and the
    // invalidation must not masquerade as a destination failure or feed
    // the live rows into events_failed_total
    import GraftMetrics._
    assert(counter(BatchesWritten, "query" -> "invalidate") >= 1,
      "invalidated batch's successful flush not counted as written")
    assert(counter(WriteErrors, "query" -> "invalidate",
      "error_type" -> "invalidate") === 0,
      "successful final flush counted as a write error")
    assert(counter(EventsFailed, "query" -> "invalidate") === 0,
      "flushed live rows counted as failed events")
  }

  test("materializer tombstone: late events older than a delete stay dead; newer ones revive") {
    import spark.implicits._
    val (src, ckpt, _) = fresh("tombstone")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    val ddl = "key long, clusterTime timestamp, eventId long, " +
      "operation string, value double"
    def wave(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      rows.toDF("key", "clusterTime", "eventId", "operation", "value")
        .repartition(1).write.mode("append")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
      Thread.sleep(1100) // distinct mod-times => deterministic batch order
    }
    wave(Seq((1L, ts(10), 1L, "insert", 1.0), (1L, ts(20), 2L, "delete", 0.0),
      (2L, ts(10), 3L, "insert", 2.0)))
    wave(Seq((1L, ts(15), 4L, "update", 9.9))) // LATE: older than the delete
    wave(Seq((2L, ts(30), 5L, "update", 2.5))) // in-order upsert control
    val stream = spark.readStream.schema(ddl)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("maxFilesPerTrigger", 1).json(src).as[KeyedEvent]
    val q = Materializer.latestByKey(stream, dropOps = Set("delete")).toDF()
      .writeStream.queryName("tombstone_mat").format("memory")
      .outputMode("update").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("tombstone_mat").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    // key 1: the wave-0 insert emitted, then deleted; the LATE update must
    // NOT resurrect it (the old clear-state form re-emitted eventId 4)
    assert(!emitted.contains((1L, 4L)),
      s"late pre-delete event resurrected the deleted key: $emitted")
    // key 2 keeps materializing normally across batches
    assert(emitted.contains((2L, 5L)))
  }

  test("state stores: CRUD + durability + reference key scheme (ST1-ST3)") {
    val mem = new MemoryStateStore
    val key = StateStore.collectionKey("testdb", "users")
    assert(key === "resume_token:testdb:users")
    assert(StateStore.databaseKey("testdb") === "resume_token:database:testdb")
    mem.saveToken(key, """{"_data":"tok1"}""")
    assert(mem.getToken(key).contains("""{"_data":"tok1"}"""))
    mem.saveToken(key, """{"_data":"tok2"}""") // overwrite = latest wins
    assert(mem.getToken(key).contains("""{"_data":"tok2"}"""))
    assert(mem.listTokens() === Map(key -> """{"_data":"tok2"}"""))
    mem.deleteToken(key)
    assert(mem.getToken(key).isEmpty)

    val dir = s"$root/statestore"
    val f1 = new FileStateStore(dir)
    f1.saveToken(key, "tokA")
    f1.saveToken(StateStore.deploymentKey, "tokB")
    f1.close()
    // a NEW store over the same directory sees the tokens (durability —
    // the property MemoryStore lacks and Redis provides in the reference)
    val f2 = new FileStateStore(dir)
    assert(f2.getToken(key).contains("tokA"))
    assert(f2.listTokens().size === 2)
    f2.deleteToken(key)
    assert(new FileStateStore(dir).listTokens() ===
      Map(StateStore.deploymentKey -> "tokB"))
  }

  test("token TTL: expired tokens invisible and reaped, fresh survive (ST3)") {
    // Redis SET EX parity (redis.rs:597-612): store-level ttl stamps every
    // save; expiry is enforced lazily. Clock is injected — no sleeps.
    var clock = 1000L
    val ttl = java.time.Duration.ofSeconds(60)
    val dir = s"$root/statestore-ttl"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    val fs = new FileStateStore(dir, Some(ttl), () => clock)
    val k1 = StateStore.collectionKey("testdb", "users")
    val k2 = StateStore.collectionKey("testdb", "orders")
    fs.saveToken(k1, "tokOld")
    clock += 50000 // t=51s: still live
    assert(fs.getToken(k1).contains("tokOld"))
    fs.saveToken(k2, "tokFresh") // expires at t=111s
    clock += 20000 // t=71s: k1 expired (61s), k2 live
    assert(fs.getToken(k1).isEmpty, "expired token visible")
    assert(fs.listTokens() === Map(k2 -> "tokFresh"))
    // the expired file was reaped on first touch — a new store over the
    // same dir (no ttl of its own, same clock) no longer sees it either
    assert(new FileStateStore(dir, None, () => clock).listTokens() ===
      Map(k2 -> "tokFresh"))
    // a re-save renews the expiry (latest SET wins, as in Redis)
    fs.saveToken(k1, "tokNew")
    clock += 59000 // t=130s: k1 live (expires 131s), k2 expired (111s)
    assert(fs.getToken(k1).contains("tokNew"))
    assert(fs.getToken(k2).isEmpty)

    // same contract on the in-memory store
    var mClock = 0L
    val mem = new MemoryStateStore(Some(ttl), () => mClock)
    mem.saveToken(k1, "m1")
    mClock = 59999
    assert(mem.getToken(k1).contains("m1"))
    mClock = 60001
    assert(mem.getToken(k1).isEmpty)
    assert(mem.listTokens() === Map.empty)
    // no-ttl stores never expire
    val forever = new MemoryStateStore()
    forever.saveToken(k1, "f")
    assert(forever.getToken(k1).contains("f"))
  }

  test("token-save-after-write through foreachBatch (O4 protocol)") {
    // the reference's at-least-once contract: the external cursor commits
    // only AFTER a successful destination flush — a failed flush must
    // leave the token unchanged
    val (src, ckpt, _) = fresh("tokensave")
    stageSource(src, parts = 1)
    val store = new MemoryStateStore
    val key = StateStore.collectionKey("testdb", "events")
    val failing = new MockDestination(failNextWrites = 1,
      failWith = new DestinationError.Permission("denied"))
    val tokenDest = new Destination {
      override def writeBatch(df: DataFrame, batchId: Long): Unit = {
        failing.writeBatch(df, batchId)
        store.saveToken(key, s"""{"batch":$batchId}""") // only after success
      }
      override def metadata: DestinationMetadata = failing.metadata
    }
    val c1 = cfg(src, ckpt, "tokensave")
      .copy(retry = Retry.Policy(maxRetries = 0, initialDelayMs = 1, maxDelayMs = 1))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcPipeline.start(spark, c1, tokenDest).awaitTermination(120000)
    }
    assert(store.getToken(key).isEmpty, "token saved despite failed write")
    // restart: same checkpoint, destination healthy now -> token commits
    CdcPipeline.start(spark, c1, tokenDest).awaitTermination(120000)
    assert(store.getToken(key).contains("""{"batch":0}"""))
  }

  test("source options plumb through to the file source (S6)") {
    val (src, ckpt, out) = fresh("srcopts")
    val n = stageSource(src, parts = 3)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "srcopts").copy(
      sourceOptions = Map("latestFirst" -> "true", "maxFileAge" -> "30d"))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    assert(dest.readBack(spark, Some(envDDL)).count() === n)
  }

  test("stream-stream interval join emits exactly the batch join's matches") {
    import spark.implicits._
    val base = s"$root/ssjoin"
    val p = Paths.get(base)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    // clicks: u1@0, u1@40, u2@5; purchases: u1@8 (matches @0),
    // u1@47 (matches @40), u2@30 (outside the 10-min window: no match)
    val clicks = Seq((1L, ts(0)), (1L, ts(40)), (2L, ts(5)))
      .toDF("c_user", "click_time")
    val buys = Seq((1L, ts(8)), (1L, ts(47)), (2L, ts(30)))
      .toDF("b_user", "buy_time")
    clicks.repartition(1).write.option("timestampFormat", fmt).json(s"$base/clicks")
    buys.repartition(1).write.option("timestampFormat", fmt).json(s"$base/buys")
    val cS = spark.readStream.schema("c_user long, click_time timestamp")
      .option("timestampFormat", fmt).json(s"$base/clicks")
      .withWatermark("click_time", "0 seconds")
    val bS = spark.readStream.schema("b_user long, buy_time timestamp")
      .option("timestampFormat", fmt).json(s"$base/buys")
      .withWatermark("buy_time", "0 seconds")
    // attribution join: purchase within 10 min AFTER the click. Both sides
    // watermarked + the interval bound = bounded state on both sides (the
    // engine evicts rows once the watermark passes the join range) — the
    // shape that survives unbounded streams.
    val joined = cS.join(bS, expr(
      """c_user = b_user AND
        |buy_time >= click_time AND
        |buy_time <= click_time + INTERVAL 10 MINUTES""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssjoin_out")
      .select("c_user", "click_time", "buy_time").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val batch = clicks.join(buys, expr(
      """c_user = b_user AND
        |buy_time >= click_time AND
        |buy_time <= click_time + INTERVAL 10 MINUTES""".stripMargin))
      .select("c_user", "click_time", "buy_time").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got === batch)
    assert(got === Set((1L, ts(0), ts(8)), (1L, ts(40), ts(47))))
  }

  test("streaming session windows close via watermark, exact boundaries (A2)") {
    import spark.implicits._
    val (src, ckpt, out) = fresh("sessions")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    // user 1: t0, t0+5 merge (gap < 10); t0+30 starts a new session.
    // user 2: a single event. user -1 is the watermark sentinel: its event
    // 3 h out closes every real session; its own never closes (self-
    // excluding, same trick as stream_windowed_counts).
    Seq((1L, ts(0)), (1L, ts(5)), (1L, ts(30)), (2L, ts(2)), (-1L, ts(180)))
      .toDF("user_id", "cluster_time")
      .repartition(1).write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = PipelineConfig(sourceDir = src,
      schemaDDL = "user_id long, cluster_time timestamp",
      checkpointDir = ckpt, queryName = "sessions-q", triggerInterval = None,
      transform = df => df
        .withWatermark("cluster_time", "0 seconds")
        .groupBy(col("user_id"),
          session_window(col("cluster_time"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events")))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val got = dest.readBack(spark, Some("user_id long, " +
        "session_start timestamp, session_end timestamp, n_events long"))
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    // session end = last event + gap (the session_window contract)
    assert(got === Set(
      (1L, ts(0), ts(15), 2L),  // t0..t0+5, ends 5+10
      (1L, ts(30), ts(40), 1L),
      (2L, ts(2), ts(12), 1L)))
  }

  test("streaming sliding windows equal the batch aggregation (A2)") {
    import spark.implicits._
    val (src, ckpt, out) = fresh("sliding")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    // events across 3 hours; sentinel 12 h out closes every real window
    val rows = Seq((1L, ts(10), 1.0), (2L, ts(70), 2.0), (3L, ts(100), 3.0),
      (4L, ts(170), 4.0), (-1L, ts(720), 0.0))
    rows.toDF("event_id", "cluster_time", "value")
      .repartition(1).write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = PipelineConfig(sourceDir = src,
      schemaDDL = "event_id long, cluster_time timestamp, value double",
      checkpointDir = ckpt, queryName = "sliding-q", triggerInterval = None,
      transform = df => df
        .withWatermark("cluster_time", "0 seconds")
        .groupBy(window(col("cluster_time"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("n_events"),
          col("sum_value")))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val got = dest.readBack(spark,
        Some("window_start timestamp, n_events long, sum_value double"))
      .filter(col("window_start") < ts(600)) // drop the sentinel's windows
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin over the same (non-sentinel) rows: identical windows
    val batch = rows.filter(_._1 >= 0)
      .toDF("event_id", "cluster_time", "value")
      .groupBy(window(col("cluster_time"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch)
    // every event appears in exactly width/slide = 2 windows
    assert(got.toSeq.map(_._2).sum === 2L * rows.count(_._1 >= 0))
  }

  test("corpus cleaning runs at ingest: stream transform equals the batch pass") {
    // The training-data operators are scan-local column expressions, so
    // the SAME transform plugs into PipelineConfig.transform unchanged —
    // quality-score, language-id and token-count happen per micro-batch at
    // ingest, no state, no second pass over the corpus.
    import graft.functions.{TextFunctions => TF}
    val (src, ckpt, out) = fresh("corpusclean")
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text", "lang", "n_chars")
    docs.repartition(3).write.mode("overwrite").json(src)
    def clean(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), col("lang"),
      TF.langId(col("text")).as("lang_guess"),
      round(TF.qualityScore(col("text"), col("n_chars")), 6).as("quality"),
      TF.tokenCount(col("text")).as("n_tokens"))
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = PipelineConfig(sourceDir = src,
      schemaDDL = "doc_id long, text string, lang string, n_chars long",
      checkpointDir = ckpt, queryName = "corpusclean-q",
      triggerInterval = None, transform = clean)
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val got = dest.readBack(spark, Some(
        "doc_id long, lang string, lang_guess string, quality double, n_tokens int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getInt(4))).toSet
    val batch = clean(docs).collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getDouble(3), r.getInt(4))).toSet
    assert(got === batch)
    assert(got.size === docs.count())
  }

  test("pre-image pair flows through the pipeline; diffs computable per batch (S6)") {
    // full_document_before_change (stream.rs:483-501): the envelope carries
    // the before-document for update-class events; a consumer computes
    // per-field diffs inside the stream transform.
    val (src, ckpt, out) = fresh("preimage")
    val env = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny),
      preImages = true).drop("update_description")
    env.repartition(3).write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
    val preDDL = envDDL.replace("full_document string",
      "full_document string, full_document_before string")
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val diffDDL = preDDL + ", k_delta long"
    val c = cfg(src, ckpt, "preimage").copy(schemaDDL = preDDL,
      transform = df => df.withColumn("k_delta",
        get_json_object(col("full_document"), "$.k").cast("long") -
          get_json_object(col(CdcEnvelope.preImageColumn), "$.k").cast("long")))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val back = dest.readBack(spark, Some(diffDDL))
    val purchases = env.filter(col("operation") === "purchase").count()
    // pre-image (and thus the diff) exists exactly for update-class rows
    assert(back.filter(col(CdcEnvelope.preImageColumn).isNotNull).count() ===
      purchases)
    assert(back.filter(col("k_delta").isNotNull).count() === purchases)
    assert(back.filter(col(CdcEnvelope.preImageColumn).isNotNull &&
      col("operation") =!= "purchase").count() === 0)
  }

  test("stateful materialization folds the stream to latest-per-key across batches") {
    import spark.implicits._
    val (src, ckpt, _) = fresh("materialize")
    stageSource(src, parts = 6)
    val qn = "materialize_latest"
    val stream = spark.readStream.schema(envDDL)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("maxFilesPerTrigger", 2) // several micro-batches -> state must persist
      .json(src)
      .select(col("user_id").as("key"), col("cluster_time").as("clusterTime"),
        col("event_id").as("eventId"), col("operation"), col("value"))
      .as[KeyedEvent]
    val q = Materializer.latestByKey(stream).toDF()
      .writeStream.queryName(qn).format("memory").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // update-mode deltas: the LAST emission per key is the materialized row
    val emitted = spark.table(qn)
    val matRows = emitted
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy(col("clusterTime").desc, col("eventId").desc)))
      .filter(col("__rn") === 1)
      .select(col("key"), col("eventId"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.Batching
      .dedupLatestByKey(CdcEnvelope.fromEvents(Tables.events(spark, sfTiny)),
        Seq("user_id"))
      .select(col("user_id"), col("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matRows === want,
      "materialized state diverges from batch latest-per-key")
    // several batches ran, so state really crossed batch boundaries
    assert(emitted.count() >= want.size)
  }

  test("stream-static enrichment joins the dimension as a broadcast (§2.5)") {
    val (src, ckpt, out) = fresh("enrich")
    stageSource(src, parts = 2)
    val dim = Tables.customer(spark, sfTiny)
      .select(col("c_custkey"), col("c_mktsegment"))
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "enrich").copy(
      transform = df => df.join(broadcast(dim),
        df("user_id") === dim("c_custkey"), "inner"))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val enrichedDDL = envDDL + ", c_custkey long, c_mktsegment string"
    val back = dest.readBack(spark, Some(enrichedDDL))
    val want = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .join(dim, col("user_id") === col("c_custkey")).count()
    assert(back.count() === want)
    assert(back.filter(col("c_mktsegment").isNull).count() === 0)
  }

  test("deployment watch level covers db/collection trees via one glob (S3)") {
    val (srcRoot, ckpt, out) = fresh("deploy")
    var total = 0L
    for (db <- Seq("db1", "db2"); cName <- Seq("c_4", "c_5")) {
      total += stageSource(s"$srcRoot/$db/$cName", parts = 1,
        filter = df => df.filter(col("collection") === cName))
    }
    val paths = CdcPipeline.sourcePath(srcRoot, WatchLevel.Deployment)
    assert(paths === Seq(s"$srcRoot/*/*"))
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased)
    val q = CdcPipeline.start(spark, cfg(paths.head, ckpt, "deploy"), dest)
    q.awaitTermination(120000)
    assert(dest.readBack(spark, Some(envDDL)).count() === total)
  }

  test("destination error taxonomy and retryability match the reference") {
    assert(DestinationError.isRetryable(new DestinationError.Timeout("t")))
    assert(DestinationError.isRetryable(new DestinationError.Capacity("c", 0.95, 100)))
    assert(!DestinationError.isRetryable(new DestinationError.Permission("p")))
    assert(!DestinationError.isRetryable(new DestinationError.Validation("v")))
    assert(DestinationError.errorType(new RuntimeException("x")) === "unknown")
    val cap = new DestinationError.Capacity("over", 0.97, 250)
    assert(cap.utilization === 0.97 && cap.retryAfterMs === 250)
  }

  test("streaming dedup drops duplicate document keys within the watermark (A6)") {
    val (src, ckpt, out) = fresh("streamdedup")
    // duplicate the whole feed: every event arrives twice
    val env = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny))
      .drop("update_description")
    val n = env.count()
    env.union(env).repartition(4).write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val c = cfg(src, ckpt, "streamdedup").copy(
      transform = df => df
        .withWatermark("cluster_time", "1 hour")
        .dropDuplicatesWithinWatermark("document_key"))
    val q = CdcPipeline.start(spark, c, dest)
    q.awaitTermination(120000)
    val back = dest.readBack(spark, Some(envDDL))
    assert(back.count() === n, "stream dedup kept duplicates or dropped uniques")
    assert(back.select(countDistinct(col("event_id"))).head.getLong(0) === n)
  }

  test("capacity retry_after hint stretches the backoff sleep (O7)") {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    Retry.withBackoff(
      Retry.Policy(maxRetries = 3, initialDelayMs = 10, maxDelayMs = 100, jitter = 0.0),
      sleep = slept += _) {
      calls += 1
      if (calls <= 2)
        throw new DestinationError.Capacity("buffer full", 0.99, retryAfterMs = 5000)
      "ok"
    }
    assert(calls === 3)
    assert(slept.forall(_ >= 5000), s"retry_after hint ignored: $slept")
  }

  test("count+timeout batcher flushes at N events or after max-wait (A1+A2 state op)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (_, ckpt, _) = fresh("batcher")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[BatchInput]
    val q = CountTimeoutBatcher.assemble(input.toDS(), maxEvents = 5, maxWaitMs = 2000)
      .writeStream.queryName("batcher_out").format("memory").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    // NOTE: with an armed state timeout the engine keeps scheduling no-data
    // micro-batches, so processAllAvailable() never quiesces — poll the sink.
    def emitted(): Array[AssembledBatch] =
      spark.table("batcher_out").as[AssembledBatch].collect()
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 90000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      // 12 events for c_0 (two count flushes of 5, 2 left open) + 3 for c_1 (open)
      input.addData((1 to 12).map(i => BatchInput("c_0", i.toLong, 1.0)) ++
        (1 to 3).map(i => BatchInput("c_1", 100L + i, 2.0)))
      waitFor("two count flushes")(
        emitted().count(b => b.collection == "c_0" && b.flushReason == "count") == 2)
      val afterCount = emitted()
      val c0count = afterCount.filter(b => b.collection == "c_0" && b.flushReason == "count")
      assert(c0count.forall(_.nEvents === 5))
      assert(c0count.map(_.batchSeq).sorted.toSeq === Seq(0L, 1L))
      assert(!afterCount.exists(_.collection == "c_1"), "partial batch must stay open")
      // the partial batches flush on their own once max-wait expires
      waitFor("timeout flushes for c_0 and c_1")(
        emitted().exists(_.collection == "c_1") &&
          emitted().exists(b => b.collection == "c_0" && b.flushReason == "timeout"))
      val all = emitted()
      val c1t = all.filter(_.collection == "c_1")
      assert(c1t.length === 1 && c1t.head.flushReason === "timeout" &&
        c1t.head.nEvents === 3 && c1t.head.sumValue === 6.0 &&
        c1t.head.minEventId === 101L && c1t.head.maxEventId === 103L)
      val c0t = all.filter(b => b.collection == "c_0" && b.flushReason == "timeout")
      assert(c0t.length === 1 && c0t.head.nEvents === 2 && c0t.head.batchSeq === 2L)
      // conservation: every c_0 event landed in exactly one flushed batch
      val c0all = all.filter(_.collection == "c_0")
      assert(c0all.map(_.nEvents).sum === 12L)
      assert(c0all.map(_.sumValue).sum === 12.0)
      // the sequence is dense ACROSS flushes: a third wave after the
      // timeout flush continues at seq 3 (c_0) / seq 1 (c_1), not at 0
      input.addData((1 to 5).map(i => BatchInput("c_0", 200L + i, 1.0)) ++
        (1 to 5).map(i => BatchInput("c_1", 300L + i, 1.0)))
      waitFor("post-timeout count flushes")(
        emitted().exists(b => b.collection == "c_0" && b.batchSeq == 3L) &&
          emitted().exists(b => b.collection == "c_1" && b.batchSeq == 1L))
      val wave3 = emitted()
      assert(wave3.filter(_.collection == "c_0").map(_.batchSeq).sorted.toSeq ===
        Seq(0L, 1L, 2L, 3L), "c_0 batchSeq must stay dense across flushes")
      assert(wave3.filter(_.collection == "c_1").map(_.batchSeq).sorted.toSeq ===
        Seq(0L, 1L), "c_1 batchSeq must stay dense across flushes")
    } finally q.stop()
  }

  test("batcher max-wait counts from the FIRST event: a trickle cannot starve the flush") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (_, ckpt, _) = fresh("batcher_trickle")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[BatchInput]
    // count threshold unreachable: only the max-wait path can flush
    val q = CountTimeoutBatcher.assemble(input.toDS(), maxEvents = 1000,
      maxWaitMs = 2500)
      .writeStream.queryName("batcher_trickle_out").format("memory")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def flushed(): Array[AssembledBatch] =
      spark.table("batcher_trickle_out").as[AssembledBatch].collect()
    try {
      // keep events arriving every ~600 ms < maxWait: re-arming the full
      // duration per trigger would push the deadline out forever; counting
      // from the first event flushes at ~2.5 s regardless
      var sent = 0L
      val deadline = System.currentTimeMillis + 60000
      while (flushed().isEmpty && System.currentTimeMillis < deadline) {
        sent += 1
        input.addData(BatchInput("t_0", sent, 1.0))
        Thread.sleep(600)
      }
      val got = flushed()
      assert(got.nonEmpty, "timeout flush starved by steady sub-max-wait trickle")
      assert(got.head.flushReason === "timeout")
      assert(got.head.nEvents >= 2,
        s"flush should have accumulated the trickle (got ${got.head.nEvents})")
    } finally q.stop()
  }

  test("statePartitions sizes the state store layout and does not leak into the session") {
    import spark.implicits._
    val (src, ckpt, out) = fresh("state-partitions")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t0), (2L, t0), (3L, t0),
        (-1L, new java.sql.Timestamp(t0.getTime + 10800000L)))
      .toDF("user_id", "cluster_time").repartition(1)
      .write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)
    val cfg = PipelineConfig(
      sourceDir = src, schemaDDL = "user_id long, cluster_time timestamp",
      checkpointDir = ckpt, queryName = "state-parts-q",
      triggerInterval = None,
      statePartitions = Some(3),
      transform = df => df
        .withWatermark("cluster_time", "0 seconds")
        .groupBy(col("user_id"),
          window(col("cluster_time"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("window_start"),
          col("n_events")))
    val dest = new FileDestination(out, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    CdcPipeline.start(spark, cfg, dest).awaitTermination(120000)
    // the knob is start-scoped: the session's own shuffle default is
    // untouched after the query starts
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "statePartitions leaked into the session conf")
    // the state layout has exactly the configured operator partitions —
    // checkpoint dirs are state/<operator>/<partition>/
    val stateRoot = Paths.get(ckpt, "state", "0")
    assert(Files.exists(stateRoot), "no state directory")
    val parts = Files.list(stateRoot).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toInt).toSeq.sorted
    assert(parts === Seq(0, 1, 2),
      s"state partition layout should be exactly 0..2, got $parts")
    assert(dest.readBack(spark,
        Some("user_id long, window_start timestamp, n_events long"))
      .filter(col("user_id") >= 0).count() === 3)
  }

  test("stateful pipeline state lands in RocksDB by default; None keeps the heap store") {
    import spark.implicits._
    def windowedCfg(src: String, ckpt: String, name: String) = PipelineConfig(
      sourceDir = src, schemaDDL = "user_id long, cluster_time timestamp",
      checkpointDir = ckpt, queryName = name, triggerInterval = None,
      transform = df => df
        .withWatermark("cluster_time", "0 seconds")
        .groupBy(col("user_id"),
          window(col("cluster_time"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("window_start"),
          col("n_events")))
    def stateFiles(ckpt: String): Seq[String] = {
      val p = Paths.get(ckpt, "state")
      assert(Files.exists(p), "stateful query left no state directory")
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
    }
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def stage(src: String): Unit =
      Seq((1L, t0), (2L, t0),
          (-1L, new java.sql.Timestamp(t0.getTime + 10800000L)))
        .toDF("user_id", "cluster_time").repartition(1)
        .write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(src)

    // default (RocksDB): snapshots upload as <version>.zip, never .delta.
    // The session conf pre-pins RocksDB for the whole test JVM, so UNSET it
    // here — otherwise this scenario would pass even if the
    // PipelineConfig.stateStoreProvider default regressed to None (the
    // assertion must exercise the LIBRARY default, not the test session's).
    val (src1, ckpt1, out1) = fresh("rocksdb-default")
    stage(src1)
    val d1 = new FileDestination(out1, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val pinned = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    try CdcPipeline.start(spark, windowedCfg(src1, ckpt1, "rocksdb-q"), d1)
      .awaitTermination(120000)
    finally pinned.foreach(
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    val rocksFiles = stateFiles(ckpt1)
    // with changelog checkpointing (the library default alongside RocksDB)
    // each commit uploads a <version>.changelog delta — a file only the
    // RocksDB provider ever writes; full .zip snapshots happen on the
    // engine's async maintenance cadence and may not exist yet when a
    // short AvailableNow run terminates
    assert(rocksFiles.exists(f =>
        f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB changelog/snapshot in state dir: $rocksFiles")
    assert(!rocksFiles.exists(_.endsWith(".delta")),
      "HDFS-store .delta files under a RocksDB-backed query")
    assert(d1.readBack(spark,
      Some("user_id long, window_start timestamp, n_events long"))
      .filter(col("user_id") >= 0).count() === 2)

    // provider = None: the engine default heap store writes .delta files
    val (src2, ckpt2, out2) = fresh("heapstore-optout")
    stage(src2)
    val d2 = new FileDestination(out2, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.Flat)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    try CdcPipeline.start(spark,
        windowedCfg(src2, ckpt2, "heap-q").copy(stateStoreProvider = None), d2)
      .awaitTermination(120000)
    finally prev.foreach(
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    assert(stateFiles(ckpt2).exists(_.endsWith(".delta")),
      "opt-out config should fall back to the engine's heap store")
  }

  test("crash mid-batch: redelivery window is exactly one batch; idempotent dest restores exactly-once") {
    // The reference acks PER EVENT (stream.rs:359-438): after a crash it
    // redelivers only un-acked events. This engine commits offsets PER
    // MICRO-BATCH (SURVEY §7.3): a crash between the destination write and
    // the offset commit redelivers the WHOLE in-flight batch — never more.
    // This scenario pins that window down: an append-only (non-idempotent)
    // destination sees exactly the crashed batch's rows twice and every
    // other row once; the shipped batchId-keyed FileDestination overwrites
    // its own batch directory on replay and lands exactly-once.
    val (src, ckpt, _) = fresh("crashwindow")
    stageSource(src, parts = 6)

    // append-only log destination, the reference's at-least-once shape:
    // rows are durably "written" BEFORE the simulated crash, so the replay
    // appends them a second time
    class AppendLogDestination(crashAtBatch: Long) extends Destination {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val perBatch = scala.collection.mutable.Map.empty[Long, Seq[Long]]
      @volatile var crashed = false
      override def writeBatch(df: DataFrame, batchId: Long): Unit = synchronized {
        val batchIds = df.select(col("event_id")).collect().map(_.getLong(0)).toSeq
        ids ++= batchIds
        perBatch(batchId) = batchIds
        if (batchId == crashAtBatch && !crashed) {
          crashed = true
          throw new DestinationError.Connection(
            "simulated crash after write, before offset commit")
        }
      }
      override def metadata: DestinationMetadata =
        DestinationMetadata("append-log", supportsTransactions = false)
    }

    val appendDest = new AppendLogDestination(crashAtBatch = 1L)
    // maxRetries = 0: the injected failure kills the query (a crash), it is
    // not absorbed by the in-batch retry loop
    val c = cfg(src, ckpt, "crashwindow-q").copy(
      maxFilesPerTrigger = Some(2), retry = Retry.Policy(maxRetries = 0))
    intercept[Exception] {
      CdcPipeline.start(spark, c, appendDest).awaitTermination(120000)
    }
    assert(appendDest.crashed, "injected crash never fired")
    val redelivered = CdcPipeline.start(spark, c, appendDest)
    redelivered.awaitTermination(120000)

    val crashedBatch = appendDest.perBatch(1L).toSet
    val copies = appendDest.ids.groupBy(identity).view.mapValues(_.size).toMap
    val total = CdcEnvelope.fromEvents(Tables.events(spark, sfTiny)).count()
    assert(appendDest.ids.size === total + crashedBatch.size,
      "append destination should hold exactly one extra copy of the crashed batch")
    copies.foreach { case (id, n) =>
      if (crashedBatch(id))
        assert(n === 2, s"crashed-batch event $id delivered $n times, want 2")
      else
        assert(n === 1, s"event $id outside the crashed batch delivered $n times")
    }

    // same crash against the batchId-keyed FileDestination: the replayed
    // batch overwrites batch_id=000001/, so the log holds each event once
    val (src2, ckpt2, out2) = fresh("crashwindow-idem")
    stageSource(src2, parts = 6)
    class CrashingFileDestination(dir: String) extends Destination {
      val inner = new FileDestination(dir, OutFormat.Jsonl,
        OutCompression.None, KeyStrategy.Flat)
      @volatile var crashed = false
      override def writeBatch(df: DataFrame, batchId: Long): Unit = {
        inner.writeBatch(df, batchId)
        if (batchId == 1L && !crashed) {
          crashed = true
          throw new DestinationError.Connection("crash after durable write")
        }
      }
      override def metadata: DestinationMetadata = inner.metadata
    }
    val fileDest = new CrashingFileDestination(out2)
    val c2 = cfg(src2, ckpt2, "crashwindow-idem-q").copy(
      maxFilesPerTrigger = Some(2), retry = Retry.Policy(maxRetries = 0))
    intercept[Exception] {
      CdcPipeline.start(spark, c2, fileDest).awaitTermination(120000)
    }
    CdcPipeline.start(spark, c2, fileDest).awaitTermination(120000)
    val back = fileDest.inner.readBack(spark, Some(envDDL))
    assert(back.count() === total, "idempotent destination duplicated rows")
    assert(back.select(countDistinct(col("event_id"))).head.getLong(0) === total,
      "batchId-keyed overwrite should restore exactly-once")
  }

  test("backoff policy: exponential growth, cap, bounded jitter") {
    val p = Retry.Policy(maxRetries = 8, initialDelayMs = 100,
      maxDelayMs = 2000, jitter = 0.1)
    val delays = (1 to 8).map(p.delayMs(_, seed = 1))
    // within ±10% of 100·2^(n-1), capped at 2000
    delays.zipWithIndex.foreach { case (d, i) =>
      val base = math.min(100 * math.pow(2, i), 2000)
      assert(d >= (base * 0.9).toLong - 1 && d <= (base * 1.1).toLong + 1,
        s"attempt ${i + 1}: $d not within 10% of $base")
    }
    assert(delays.last <= 2200)
    intercept[IllegalArgumentException] {
      Retry.Policy(initialDelayMs = 500, maxDelayMs = 100)
    }
  }

  test("summary destination: the stream maintains an incremental aggregate " +
    "and the MV rewrite serves it (IVM e2e)") {
    import graft.plans.SummaryViews
    val (src, ckpt, out) = fresh("mv-sink")
    val n = stageSource(src, parts = 4)
    val statePath = s"$out/summary"
    // deltas: every envelope row contributes (+event_id, +1) to its user —
    // integral sums, so the stream-maintained summary is BIT-exact vs the
    // one-shot aggregate regardless of fold order
    val dest = new SummaryDestination(statePath,
      keyCols = Seq("user_id"), sumCols = Seq("event_id", "n_rows"),
      deltas = df => df.select(col("user_id"), col("event_id"),
        lit(1L).as("n_rows")))
    val q = CdcPipeline.start(spark,
      cfg(src, ckpt, "mv-sink").copy(maxFilesPerTrigger = Some(2)), dest)
    q.awaitTermination(120000)
    assert(n > 0)
    // dashboards never heard of the state dir: a plain GROUP BY over the
    // staged base re-plans onto the stream-maintained summary
    SummaryViews.register(SummaryViews.View(
      src, statePath, Seq("user_id"), Set("event_id"), Some("n_rows")))
    SummaryViews.install(spark)
    try {
      // the staged base is JSON — the rewrite matches any HadoopFsRelation
      // by root path, not just parquet bases
      def query = spark.read.schema(envDDL)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(src).groupBy("user_id")
        .agg(sum("event_id").as("s"), count(lit(1)).as("n"))
      val served = query
      val readsState = served.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.exists(_.toString.endsWith("summary/state"))
            case _ => false
          }
      }.exists(identity)
      assert(readsState, served.queryExecution.optimizedPlan.toString)
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Any, Long, Long)] =
        df.collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
      val got = rows(served)
      SummaryViews.uninstall(spark)
      val want = rows(query)
      assert(got === want && got.nonEmpty)
      assert(got.toSeq.map(_._3).sum === n)
      // writes after close must fail (D5 holds for this sink too)
      dest.close()
      intercept[DestinationError.Closed] {
        dest.writeBatch(query.limit(1), 999L)
      }
    } finally {
      SummaryViews.uninstall(spark)
      SummaryViews.unregister(src)
    }
  }
}
