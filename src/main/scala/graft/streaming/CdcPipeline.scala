package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Pipeline configuration, mirroring PipelineConfigBuilder's validated
  * surface (pipeline.rs:554-635). Count/time batching (A1/A2) map to the
  * micro-batch engine's admission control: `maxFilesPerTrigger` bounds a
  * batch, the trigger interval is the batch timeout. */
final case class PipelineConfig(
    sourceDir: String,
    schemaDDL: String,
    checkpointDir: String,
    queryName: String = "graft-cdc",
    maxFilesPerTrigger: Option[Int] = None,          // A1 (count batching)
    triggerInterval: Option[String] = Some("5 seconds"), // A2; None => AvailableNow
    retry: Retry.Policy = Retry.Policy(),
    /** S6 — extra source options (latestFirst, maxFileAge, …), the
      * `full_document`/`batch_size` knob surface of stream.rs:473-501. */
    sourceOptions: Map[String, String] = Map.empty,
    /** F3 — operations that invalidate the stream: the batch's live rows
      * are flushed, then the query terminates fatally (no retry). */
    invalidateOps: Seq[String] = Seq.empty,
    /** State-store backend for stateful transforms (windowed aggs,
      * dropDuplicates, flatMapGroupsWithState). Defaults to RocksDB — the
      * reference keeps dedup/session state in Redis precisely because it
      * outgrows worker memory (SURVEY §3.4); the Spark analogue is state
      * that spills to executor-local RocksDB instead of living on the JVM
      * heap, which is the only shape that survives 100 TB-scale keyed
      * state. `None` keeps the engine default (HDFS-backed heap store).
      * Stateless pipelines are unaffected either way. Spark pins the
      * provider into the checkpoint's offset-log metadata, so resuming a
      * pre-existing checkpoint keeps whatever provider created it. */
    stateStoreProvider: Option[String] = Some(CdcPipeline.RocksDBProvider),
    /** State-store PARTITION COUNT for this query's stateful operators —
      * `spark.sql.shuffle.partitions` as captured by the streaming engine
      * at query start (then pinned in the checkpoint metadata for the
      * query's lifetime). This is a deliberately separate knob from the
      * session's batch-shuffle default: state partitioning should be sized
      * to STATE volume and store-instance overhead (each partition carries
      * a state-store instance doing per-trigger open/commit/snapshot work),
      * not to scan parallelism. A feed whose keyed state is MBs wants few,
      * fat stores; a 100 TB feed raises this into the thousands. `None`
      * keeps the session default. */
    statePartitions: Option[Int] = None,
    transform: DataFrame => DataFrame = identity) {
  require(maxFilesPerTrigger.forall(n => n >= 1 && n <= 10000),
    "batch size must be in [1, 10000]") // pipeline.rs:562-571
}

/** Final statistics (PipelineStats, pipeline.rs:639-651). */
final case class PipelineStats(
    eventsProcessed: Long, batchesWritten: Long,
    writeErrors: Long, retries: Long)

/** The streaming runtime (SURVEY §3.1 restated on Structured Streaming):
  * file-source `readStream` over a CDC event directory → declarative
  * transform → `foreachBatch` destination with retry — with the engine
  * supplying what the reference hand-builds:
  *
  *  - resume tokens / state store (S5, ST1-ST3, O4): the checkpoint
  *    directory's offset WAL + commit log. Offsets commit only after the
  *    batch function returns, which is exactly token-save-after-write —
  *    at-least-once; an idempotent (batchId-keyed) destination makes it
  *    exactly-once. Two queries can't share a checkpoint (the lock the
  *    reference takes in Redis, O6, for free).
  *  - worker loop (O2): the micro-batch engine itself.
  *  - back-pressure (O7): `maxFilesPerTrigger` admission control.
  *  - graceful shutdown (O8/A3): `query.stop()` finishes the in-flight
  *    batch, then offsets are committed; nothing buffered is lost.
  */
object CdcPipeline {

  /** Executor-local disk-backed state store (ships with Spark; rocksdbjni
    * is on the runtime classpath). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderConfKey = "spark.sql.streaming.stateStore.providerClass"
  private val startLock = new Object

  /** RocksDB changelog checkpointing: commit per-trigger DELTAS to the
    * checkpoint instead of a full store snapshot every commit — the
    * difference between O(changed keys) and O(state size) of I/O per
    * trigger, which is what makes large keyed state sustainable (snapshots
    * still happen, asynchronously, for bounded replay). Applied whenever a
    * query pins the RocksDB provider. */
  private val ChangelogConfKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private val PartitionsConfKey = "spark.sql.shuffle.partitions"

  /** Start a streaming query with the given session confs pinned for THIS
    * query only. The streaming engine clones the session inside `start()`
    * (and then persists state-relevant confs in the checkpoint's offset-log
    * metadata), so the confs are set just around the start call and
    * restored after — the lock serializes concurrent starts on the same
    * session so queries can't observe each other's settings. */
  def startWithConfs(spark: SparkSession, confs: Map[String, String])(
      doStart: => StreamingQuery): StreamingQuery = startLock.synchronized {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try doStart
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** [[startWithConfs]] specialized to the state-store provider (plus
    * changelog checkpointing when that provider is RocksDB). */
  def startWithProvider(spark: SparkSession, provider: Option[String])(
      doStart: => StreamingQuery): StreamingQuery =
    startWithConfs(spark, providerConfs(provider))(doStart)

  private def providerConfs(provider: Option[String]): Map[String, String] =
    provider match {
      case Some(p) if p == RocksDBProvider =>
        Map(ProviderConfKey -> p, ChangelogConfKey -> "true")
      case Some(p) => Map(ProviderConfKey -> p)
      case None    => Map.empty
    }

  /** S1/S2/S3 — the bounded-source scan levels become path shapes: a
    * collection is a directory, a database a glob of collections, a
    * deployment a glob of databases (watch_level.rs:91-187). */
  def sourcePath(root: String, level: WatchLevel): Seq[String] = level match {
    case WatchLevel.Collection(names) => names.map(n => s"$root/$n")
    case WatchLevel.Database          => Seq(s"$root/*")
    case WatchLevel.Deployment        => Seq(s"$root/*/*")
  }

  /** Open the streaming source (S1 + S6 options). Timestamp format matches
    * [[graft.sources.Writers]] so µs precision survives the JSONL hop. */
  def source(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val r = spark.readStream.schema(cfg.schemaDDL)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    cfg.sourceOptions.foreach { case (k, v) => r.option(k, v) }
    cfg.maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(cfg.sourceDir)
  }

  /** batch_queue_size (metrics.rs:165): files staged under the source path
    * that the engine has not yet admitted to a batch. Spark 4.1's file
    * source keeps its `unreadFiles` backlog private (no SourceProgress
    * metrics map, `reportLatestOffset` = null), so the pipeline computes it
    * from what it controls: a glob listing of the source minus the admitted
    * entries in the checkpoint's source metadata log. Driver-local small
    * I/O, same order of work the source's own per-trigger listing does.
    *
    * UNIT DEVIATION from the reference: rigatoni gauges buffered EVENTS per
    * collection (incremented on receive, decremented around flush); this
    * build's unit of admission is the FILE, so the gauge counts unadmitted
    * source files per query. Dashboards ported from the reference must
    * rescale by events-per-file (or treat it as a relative backlog signal —
    * zero still means "drained" in both systems). */
  private def stagedFileCount(spark: SparkSession, pattern: String): Long = {
    val path = new org.apache.hadoop.fs.Path(pattern)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    Option(fs.globStatus(path)).getOrElse(Array.empty).map { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath)
          .count(f => f.isFile && visible(f.getPath.getName)).toLong
      else if (visible(st.getPath.getName)) 1L else 0L
    }.sum
  }

  /** Files admitted so far = entries in the file source's metadata log
    * (`sources/0`). Compaction-aware: a `<N>.compact` file carries ALL
    * entries through N, deltas after it add one line per file. Immutable
    * once written, so per-file line counts are cached across batches. */
  private def admittedFileCount(
      spark: SparkSession, checkpointDir: String,
      cache: java.util.concurrent.ConcurrentHashMap[String, Long]): Long = {
    val dir = new org.apache.hadoop.fs.Path(s"$checkpointDir/sources/0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val logs = fs.listStatus(dir).filter(_.isFile).flatMap { st =>
      val n = st.getPath.getName
      n.stripSuffix(".compact").toLongOption
        .map(id => (id, n.endsWith(".compact"), st.getPath))
    }
    val lastCompact = logs.filter(_._2).sortBy(_._1).lastOption
    val base = lastCompact.map(_._1).getOrElse(-1L)
    val relevant = lastCompact.toSeq ++ logs.filter(e => !e._2 && e._1 > base)
    relevant.map { case (_, _, p) =>
      cache.computeIfAbsent(p.getName, _ => {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().count(_.startsWith("{"))
        finally in.close()
      })
    }.sum
  }

  /** Wire source → transform → destination and start the query.
    * The foreachBatch body is the flush path (pipeline.rs:1721-1786):
    * write with retry/backoff, then metrics; offset commit (the "save
    * resume token" step) happens in the engine after this returns. */
  def start(spark: SparkSession, cfg: PipelineConfig,
            destination: Destination): StreamingQuery = {
    import GraftMetrics._
    val logLineCache =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val transformed = cfg.transform(source(spark, cfg))
    // lag gating: a watermarked transform already feeds StreamLag through
    // MetricsListener (progress.eventTime), so the pipeline-path sample
    // would double-count every batch — observe here only when no
    // EventTimeWatermark node is in the plan
    val hasWatermark = transformed.queryExecution.analyzed.exists {
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark]
    }
    val writer = transformed.writeStream
      .queryName(cfg.queryName)
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, count, lit, max,
          unix_micros, when}
        val t0 = System.nanoTime()
        // ONE observed plan carries everything the metrics need — the
        // invalidation-marker count and the newest event time ride the
        // write job itself (CollectMetrics above the live filter), so
        // invalidation detection costs ZERO extra source scans where the
        // old form re-read the whole batch per trigger just to test for
        // markers
        val isInvalidate =
          if (cfg.invalidateOps.isEmpty) lit(false)
          else org.apache.spark.sql.functions
            .coalesce(col("operation").isin(cfg.invalidateOps: _*), lit(false))
        val hasTime = batch.columns.contains("cluster_time")
        val obs = new org.apache.spark.sql.Observation()
        val metricCols =
          (if (hasTime)
            Seq(unix_micros(max(col("cluster_time"))).as("max_event_us"))
          else Nil) ++ Seq(
            // count (not sum): an empty batch must read as 0, never NULL
            count(when(isInvalidate, lit(1))).as("n_invalidate"),
            count(lit(1)).as("n_total"))
        val observed = batch.observe(obs, metricCols.head, metricCols.tail: _*)
        val live =
          if (cfg.invalidateOps.isEmpty) observed else observed.filter(!isInvalidate)
        try {
          // isRetryable walks the cause chain through BOTH taxonomies:
          // a fatal SourceError (e.g. InvalidResumeToken/286) thrown while
          // the batch reads its source must fail the batch immediately,
          // not burn the backoff schedule first
          Retry.withBackoff(cfg.retry, seed = batchId,
            isRetryable = SourceError.isRetryableFailure,
            onRetry = (n, t) => {
              inc(Retries, "query" -> cfg.queryName)
              inc(WriteErrors, "query" -> cfg.queryName,
                "error_type" -> SourceError.categoryOf(t))
            }) {
            destination.writeBatch(live, batchId)
            destination.flush()
          }
          // the flush SUCCEEDED: it counts as a written batch even when an
          // invalidation marker closes the stream right after (the F3
          // contract — live rows land, then the stream dies; dashboards
          // must not read a successful final flush as a write error)
          inc(BatchesWritten, "query" -> cfg.queryName)
          observe(WriteDuration, (System.nanoTime() - t0) / 1e9,
            "query" -> cfg.queryName)
          // backlog AFTER this batch: staged minus admitted-through-now.
          // Gauge = current backlog (a drained run ends at 0); histogram
          // keeps the per-batch samples.
          scala.util.Try {
            val backlog = math.max(0L,
              stagedFileCount(spark, cfg.sourceDir) -
                admittedFileCount(spark, cfg.checkpointDir, logLineCache))
            setGauge(BatchQueueSize, backlog.toDouble, "query" -> cfg.queryName)
            observe(BatchQueueSize, backlog.toDouble, "query" -> cfg.queryName)
          }
          // getRowOrEmpty (not get): never blocks if a destination consumed
          // the batch without completing the observed plan
          val obsRow = scala.util.Try(
            org.apache.spark.sql.GraftBridge.observationRow(obs)).toOption.flatten
          if (hasTime && !hasWatermark) obsRow.foreach { row =>
            row.getAs[Any]("max_event_us") match {
              case us: java.lang.Long =>
                val lag = (System.currentTimeMillis() - us / 1000L) / 1000.0
                observe(StreamLag, math.max(lag, 0.0), "query" -> cfg.queryName)
              case _ => ()
            }
          }
          // F3: an invalidation marker closes the stream fatally AFTER the
          // flush (stream.rs:1211-1220 semantics). Detection reads the
          // observed count; if the destination never consumed the plan
          // (no observation row), fall back to the explicit scan — rare,
          // and correctness beats the saved read there.
          val invalidated = cfg.invalidateOps.nonEmpty && (obsRow match {
            case Some(row) => row.getAs[Long]("n_invalidate") > 0L
            case None      => !batch.filter(isInvalidate).isEmpty
          })
          if (invalidated)
            throw new DestinationError.Invalidated(
              s"stream ${cfg.queryName} invalidated at batch $batchId")
          ()
        } catch {
          case inv: DestinationError.Invalidated =>
            // not a destination failure: the flush worked and every live
            // row landed — fail the query without feeding the write-error
            // or events-failed counters
            throw inv
          case t: Throwable =>
            inc(WriteErrors, "query" -> cfg.queryName,
              "error_type" -> SourceError.categoryOf(t))
            // events_failed_total (metrics.rs:118): every live row of a
            // terminally-failed batch; recount is failure-path-only
            GraftMetrics.add(EventsFailed,
              scala.util.Try(live.count()).getOrElse(0L),
              "query" -> cfg.queryName)
            throw t // fail the batch -> offsets NOT committed -> redelivery
        }
      }
    val triggered = cfg.triggerInterval match {
      case Some(iv) => writer.trigger(Trigger.ProcessingTime(iv))
      case None     => writer.trigger(Trigger.AvailableNow())
    }
    val confs = providerConfs(cfg.stateStoreProvider) ++
      cfg.statePartitions.map(n => PartitionsConfKey -> n.toString)
    startWithConfs(spark, confs)(triggered.start())
  }

  /** Drain-and-stop (O8): wait for the current batch, then stop. */
  def stopGracefully(q: StreamingQuery, timeoutMs: Long = 60000): Unit = {
    q.stop()
    q.awaitTermination(timeoutMs)
  }

  /** O5 — restart-with-backoff driver loop (stream.rs:950-1011): run the
    * query; on a retryable failure, restart FROM THE CHECKPOINT after an
    * exponential backoff with jitter; `maxAttempts = 0` retries forever
    * (stream.rs semantics). Returns the number of (re)starts performed.
    *
    * Retryability walks the failure's cause chain (the engine wraps the
    * real error in a StreamingQueryException) to the first classified
    * error — [[SourceError]] (reference reconnect policy: labels, then
    * transient codes; 286 fatal) or [[DestinationError]] — so a fatal
    * classification buried under engine wrappers is honored as fatal
    * instead of being restarted as "unknown". */
  def runWithRestart(spark: SparkSession, cfg: PipelineConfig,
                     destination: Destination, maxAttempts: Int = 3,
                     sleep: Long => Unit = Thread.sleep): Int = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val q = start(spark, cfg, destination)
      try {
        q.awaitTermination()
        done = true // clean termination (AvailableNow drained, or stop())
      } catch {
        case t: Throwable if SourceError.isRetryableFailure(t) &&
          (maxAttempts == 0 || attempt < maxAttempts) =>
          GraftMetrics.inc(GraftMetrics.Retries, "query" -> cfg.queryName)
          sleep(cfg.retry.delayMs(attempt, seed = 17L))
        case t: Throwable =>
          throw t
      }
    }
    attempt
  }
}

/** Watch-level topology (watch_level.rs:91-187, S4): how many streaming
  * queries cover the source tree. */
sealed trait WatchLevel
object WatchLevel {
  final case class Collection(names: Seq[String]) extends WatchLevel
  case object Database extends WatchLevel
  case object Deployment extends WatchLevel
}
