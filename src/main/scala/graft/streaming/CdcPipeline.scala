package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

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

  /** RocksDB changelog checkpointing: commit per-trigger DELTAS to the
    * checkpoint instead of a full store snapshot every commit — the
    * difference between O(changed keys) and O(state size) of I/O per
    * trigger, which is what makes large keyed state sustainable (snapshots
    * still happen, asynchronously, for bounded replay). Applied whenever a
    * query pins the RocksDB provider. */
  private val ChangelogConfKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private val PartitionsConfKey = "spark.sql.shuffle.partitions"
  private val IsolationConfKey = "spark.sql.artifact.isolation.enabled"
  private val confLock = new Object

  /** The one start of every streaming query graft runs: `doStart` builds
    * and starts the query. Structured Streaming clones the session inside
    * `start()` and pins its state confs into the checkpoint's offset-log
    * metadata, so the start is where they are decided:
    *
    *  - the context serves `file:` paths with
    *    [[graft.io.NioLocalFileSystem]] (when the native Hadoop library is
    *    absent) and ships a lean Hadoop conf ([[graft.io.LeanHadoopConf]]);
    *    both are JVM-global, installed here whatever started first;
    *  - for the start only, the session carries `stateStoreProvider` (plus
    *    changelog checkpointing when it is RocksDB), `statePartitions` as
    *    `spark.sql.shuffle.partitions` (`None` keeps the session's value),
    *    the filesystem's two `fs.*` keys, and
    *    `spark.sql.artifact.isolation.enabled=false`.
    *
    * The last one runs the query's jobs in the executors' shared default
    * session, so plan code compiled by one query is reused by the next.
    * Spark 4.1 isolates each session's artifacts by default: the cloned
    * session gets a new session UUID, its jobs carry a new
    * `JobArtifactState`, and each executor builds a new isolated session
    * with its own class loader. Spark's codegen cache is keyed by class
    * loader and code, so every query start would recompile every generated
    * class and run it JIT-cold. A session that holds session-scoped
    * artifacts (added jars, Python includes or REPL class files), or that
    * set the key itself, keeps Spark's behaviour.
    *
    * Afterwards the session's own confs are restored: a key it had not set
    * is unset again, not pinned to its default. The lock serializes every
    * start, so none captures another's temporary settings. */
  def startQuery(spark: SparkSession, stateStoreProvider: Option[String],
                 statePartitions: Option[Int])(
      doStart: => StreamingQuery): StreamingQuery = confLock.synchronized {
    graft.io.NioLocalFileSystem.install(spark)
    graft.io.LeanHadoopConf.install(spark)
    val explicit = spark.conf.getAll
    val isolation =
      if (explicit.contains(IsolationConfKey) ||
          org.apache.spark.sql.GraftBridge.holdsArtifacts(spark)) Nil
      else Seq(IsolationConfKey -> "false")
    val confs = stateStoreProvider.toSeq.flatMap(p =>
        (ProviderConfKey -> p) +:
          (if (p == RocksDBProvider) Seq(ChangelogConfKey -> "true") else Nil)) ++
      statePartitions.map(n => PartitionsConfKey -> n.toString) ++
      graft.io.NioLocalFileSystem.confs ++ isolation
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try doStart
    finally confs.foreach { case (k, _) =>
      explicit.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
    }
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

  /** Wire source → transform → destination and start the query through
    * [[startQuery]] with the config's state-store provider and partitions.
    * The foreachBatch body is the flush path (pipeline.rs:1721-1786):
    * write with retry/backoff, then metrics; offset commit (the "save
    * resume token" step) happens in the engine after this returns. */
  def start(spark: SparkSession, cfg: PipelineConfig,
            destination: Destination): StreamingQuery =
    startQuery(spark, cfg.stateStoreProvider, cfg.statePartitions)(
      writeStream(spark, cfg, destination).start())

  private def writeStream(spark: SparkSession, cfg: PipelineConfig,
                     destination: Destination): DataStreamWriter[Row] = {
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
            count(when(isInvalidate, lit(1))).as("n_invalidate"))
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
          // A gauge only, as in the reference (a drained run ends at 0).
          scala.util.Try {
            val backlog = math.max(0L,
              stagedFileCount(spark, cfg.sourceDir) -
                admittedFileCount(spark, cfg.checkpointDir, logLineCache))
            setGauge(BatchQueueSize, backlog.toDouble, "query" -> cfg.queryName)
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
          case NonFatal(t) =>
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
    cfg.triggerInterval match {
      case Some(iv) => writer.trigger(Trigger.ProcessingTime(iv))
      case None     => writer.trigger(Trigger.AvailableNow())
    }
  }

  /** Drain-and-stop (O8): wait for the current batch, then stop. */
  def stopGracefully(q: StreamingQuery, timeoutMs: Long = 60000): Unit = {
    q.stop()
    q.awaitTermination(timeoutMs)
  }

  /** O5 — restart-with-backoff driver loop (stream.rs:950-1011): run the
    * query; on a retryable failure, restart FROM THE CHECKPOINT after
    * `cfg.retry`'s backoff, through the same [[Retry.withBackoff]] the
    * in-batch writes use (seed 17; a `Capacity`/`RateLimit` retry-after
    * hint in the failure's cause chain is honoured). `maxAttempts` bounds
    * the starts; `0` retries forever (stream.rs semantics). Returns the
    * number of starts performed.
    *
    * Retryability walks the failure's cause chain (the engine wraps the
    * real error in a StreamingQueryException) to the first classified
    * error — [[SourceError]] (reference reconnect policy: labels, then
    * transient codes; 286 fatal) or [[DestinationError]] — so a fatal
    * classification buried under engine wrappers is honored as fatal
    * instead of being restarted as "unknown"; that error is rethrown. Once
    * the starts are spent, the last query error is thrown as the cause of
    * [[Retry.RetriesExhausted]]. An interrupt or a fatal JVM error is
    * never restarted: the query is stopped and the error rethrown. */
  def runWithRestart(spark: SparkSession, cfg: PipelineConfig,
                     destination: Destination, maxAttempts: Int = 3,
                     sleep: Long => Unit = Thread.sleep): Int = {
    var starts = 0
    val policy = cfg.retry.copy(maxRetries =
      if (maxAttempts == 0) Int.MaxValue else math.max(0, maxAttempts - 1))
    Retry.withBackoff(policy, seed = 17L,
      isRetryable = SourceError.isRetryableFailure,
      onRetry = (_, _) =>
        GraftMetrics.inc(GraftMetrics.Retries, "query" -> cfg.queryName),
      sleep = sleep) {
      starts += 1
      val q = start(spark, cfg, destination)
      // clean termination: AvailableNow drained, or stop(); an interrupted
      // wait leaves the query running
      try q.awaitTermination() finally q.stop()
    }
    starts
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
