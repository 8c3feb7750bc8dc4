package cdcbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.operators.KeyStrategy
import graft.sources.{OutCompression, OutFormat}
import graft.streaming._

/** Epoch microseconds at `nanoTime` resolution, shared by every span the
  * harness records so decorator spans line up with listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory trace store, written out once when the run ends. Recording is
  * switched on only for traced legs. */
final class Recorder {
  @volatile var on = false
  @volatile var sc: org.apache.spark.SparkContext = _
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def span[T](name: String, batchId: Long)(body: => T): T = {
    if (!on) return body
    val qid = sc.getLocalProperty("sql.streaming.queryId")
    val t0 = Clock.nowUs
    var ok = false
    try { val r = body; ok = true; r }
    finally spans.add(Map("name" -> name, "query_id" -> qid,
      "batch_id" -> batchId, "start_us" -> t0, "end_us" -> Clock.nowUs,
      "ok" -> ok))
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("query_id" -> p.id.toString, "batch_id" -> p.batchId,
        "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, mutable.Map[String, Any](
        "job_id" -> e.jobId, "start_ms" -> e.time,
        "query_id" -> props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).orNull,
        "batch_id" -> props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .map(_.toLong).getOrElse(-1L),
        "stages" -> 0L, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ms" -> 0.0,
        "gc_ms" -> 0L, "shuffle_read_bytes" -> 0L, "shuffle_write_bytes" -> 0L,
        "spill_bytes" -> 0L, "records_written" -> 0L, "bytes_written" -> 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.synchronized {
        jobs.get(e.jobId)("end_ms") = e.time
      })
    private def add(jobId: Int, kv: (String, Any)*): Unit =
      Option(jobs.get(jobId)).foreach { j => j.synchronized {
        kv.foreach {
          case (k, v: Long)   => j(k) = j(k).asInstanceOf[Long] + v
          case (k, v: Double) => j(k) = j(k).asInstanceOf[Double] + v
          case (k, v)         => j(k) = v
        }
      } }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => add(j, "stages" -> 1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        if (m == null) add(j, "tasks" -> 1L)
        else add(j, "tasks" -> 1L, "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6, "gc_ms" -> m.jvmGCTime,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "records_written" -> m.outputMetrics.recordsWritten,
          "bytes_written" -> m.outputMetrics.bytesWritten)
      }
  }

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    spark.streams.addListener(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    on = true
  }

  def detach(spark: SparkSession): Unit = {
    on = false
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

/** Decorator around the destination under test: counts attempts and
  * failures, and records a span around every call into the sink. */
final class TimedDestination(inner: Destination, rec: Recorder) extends Destination {
  val attempts = new AtomicLong
  val failures = new AtomicLong
  @volatile private var batch = -1L

  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    batch = batchId
    attempts.incrementAndGet()
    try rec.span("destination.writeBatch", batchId)(inner.writeBatch(df, batchId))
    catch { case t: Throwable => failures.incrementAndGet(); throw t }
  }
  override def flush(): Unit =
    try rec.span("destination.flush", batch)(inner.flush())
    catch { case t: Throwable => failures.incrementAndGet(); throw t }
  override def close(): Unit = inner.close()
  override def metadata: DestinationMetadata = inner.metadata
}

/** Replica sink: every micro-batch is folded into the lake replica with
  * last-writer-wins on (cluster_time, event_id); deletes are tombstoned. */
final class ReplicaDestination(path: String, rec: Recorder) extends Destination {
  override def writeBatch(df: DataFrame, batchId: Long): Unit =
    rec.span("replica.applyBatch", batchId) {
      ReplicaTable.applyBatch(df.sparkSession, path, df,
        keyCols = Seq("collection", "document_key"),
        versionCols = Seq("cluster_time", "event_id"),
        deleteWhen = col("operation") === "delete", batchId = batchId)
    }
  override def metadata: DestinationMetadata =
    DestinationMetadata("replica", supportsTransactions = true)
}

/** One benchmark process: builds the session, warms the sink path, runs the
  * measured legs, then verifies outputs and writes `result.json` for
  * run.py to score. Arguments: the path of a JSON config file. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val runDir = cfg("run_dir").toString
    val result = new Harness(cfg, runDir).run()
    Files.write(Paths.get(runDir, "result.json"), mapper.writeValueAsBytes(result))
  }

  def session(cores: Int, runDir: String): (SparkSession, Double) = {
    val t0 = Clock.nowUs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, (Clock.nowUs - t0) / 1e6)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

final class Harness(cfg: Map[String, Any], runDir: String) {
  private val workload = cfg("workload").toString
  private val cores = cfg("cores").toString.toInt
  private val seconds = cfg("seconds").toString.toDouble
  private val traced = cfg("trace") == true
  private val schemaDDL = cfg("schema_ddl").toString
  private val maxFiles = Some(cfg("max_files_per_trigger").toString.toInt)
  private val minReps = cfg("min_reps").toString.toInt
  private val warmDrains = cfg("warm_drains").toString.toInt
  private val setupRepeats = cfg("setup_repeats").toString.toInt
  private val backlog = cfg("backlog_dir").toString
  // replica reps start from the state the warm-up drain left behind, so
  // every measured trigger reads and rewrites existing buckets
  private val fromWarmState = workload == "replica_upsert"
  private val rec = new Recorder
  private var spark: SparkSession = _

  private def sinkFor(out: String): Destination = workload match {
    case "replica_upsert" => new ReplicaDestination(out, rec)
    case _ => new FileDestination(out, OutFormat.Jsonl, OutCompression.Zstd,
      KeyStrategy.DateHourPartitioned)
  }

  private def failIfDead(q: StreamingQuery): Unit =
    q.exception.foreach(e => throw new IllegalStateException(
      s"query ${q.name} terminated with an error", e))

  /** Run one AvailableNow query over `src` until it drains. With `from`,
    * the query resumes a copy of that directory's checkpoint and sink
    * (untimed): a restart after downtime with the earlier state in place. */
  private def drain(src: String, dir: String, name: String,
                    from: Option[String] = None): Map[String, Any] = {
    from.foreach { f =>
      FileUtils.copyDirectory(new File(f), new File(dir))
      // a new stream id per rep keeps each rep's trace separate
      Seq("metadata", ".metadata.crc").foreach(n => new File(s"$dir/ckpt/$n").delete())
    }
    val dest = new TimedDestination(sinkFor(s"$dir/out"), rec)
    val t0 = Clock.nowUs
    val q = CdcPipeline.start(spark, PipelineConfig(sourceDir = src,
      schemaDDL = schemaDDL, checkpointDir = s"$dir/ckpt", queryName = name,
      maxFilesPerTrigger = maxFiles, triggerInterval = None), dest)
    val t1 = Clock.nowUs
    q.awaitTermination()
    val t2 = Clock.nowUs
    failIfDead(q)
    Map("name" -> name, "query_id" -> q.id.toString, "dir" -> dir,
      "start_us" -> t0, "start_call_s" -> (t1 - t0) / 1e6, "end_us" -> t2,
      "attempts" -> dest.attempts.get, "failures" -> dest.failures.get)
  }

  private def counters(): Map[String, Long] = Map(
    "batches_written_total" -> GraftMetrics.counterTotal(GraftMetrics.BatchesWritten),
    "retries_total" -> GraftMetrics.counterTotal(GraftMetrics.Retries),
    "write_errors_total" -> GraftMetrics.counterTotal(GraftMetrics.WriteErrors))

  private def leg(name: String, withTrace: Boolean): Map[String, Any] = {
    val before = counters()
    if (withTrace) rec.attach(spark)
    // a traced run has two legs; halving each keeps it near the length of
    // an untraced run
    val legSeconds = if (traced) seconds / 2 else seconds
    val stop = System.nanoTime() + (legSeconds * 1e9).toLong
    val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (reps.size < minReps || System.nanoTime() < stop)
      reps += drain(backlog, s"$runDir/$name/rep${reps.size}", s"$name-${reps.size}",
        from = if (fromWarmState) Some(s"$runDir/warm") else None)
    if (withTrace) rec.detach(spark)
    val after = counters()
    Map("name" -> name, "traced" -> withTrace, "reps" -> reps.toSeq,
      "counters" -> after.map { case (k, v) => k -> (v - before(k)) })
  }

  /** Per-collection counts and distinct event ids of everything a rep
    * wrote, or the canonical rows of the final replica. */
  private def verify(rep: Map[String, Any]): Map[String, Any] = {
    val dir = rep("dir").toString
    workload match {
      case "replica_upsert" =>
        val rows = ReplicaTable.read(spark, s"$dir/out")
          .select(concat_ws("|", col("collection"), col("document_key"),
            col("event_id").cast("string"), col("operation"),
            coalesce(col("full_document"), lit(""))))
          .collect().map(_.getString(0))
        val path = s"$dir/replica_rows.txt"
        Files.write(Paths.get(path), rows.mkString("\n").getBytes(UTF_8))
        Map("replica_rows_file" -> path)
      case _ =>
        val df = new FileDestination(s"$dir/out", OutFormat.Jsonl)
          .readBack(spark, Some("event_id BIGINT"))
        val per = df.groupBy("collection")
          .agg(count(lit(1)).as("n"), countDistinct("event_id").as("d"))
          .collect()
        Map("per_collection" -> per.map(r => r.getString(0) -> r.getLong(1)).toMap,
          "distinct_event_ids" -> per.map(_.getLong(2)).sum)
    }
  }

  private def restart(n: Int): Double = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val (s, sessionS) = Harness.session(n, runDir)
    spark = s
    sessionS
  }

  /** One more set-up in this process: a new session and the start call of
    * a query (over an empty source, so it ends at once). */
  private def setupAgain(i: Int): Double = {
    val sessionS = restart(cores)
    val src = new File(s"$runDir/setup$i/src")
    src.mkdirs()
    val r = drain(src.getPath, s"$runDir/setup$i", s"setup$i")
    sessionS + r("start_call_s").asInstanceOf[Double]
  }

  def run(): Map[String, Any] = {
    val (s, sessionS) = Harness.session(cores, runDir)
    spark = s
    // warm-up: JIT and first-use costs of the sink path, excluded from
    // timing; its start call completes the cold set-up. The replica's
    // backlog holds only the base part of its stream at this point.
    val warm = drain(backlog, s"$runDir/warm", "warm")
    (1 until warmDrains).foreach(i => drain(backlog, s"$runDir/warm$i", s"warm$i"))
    val coldSetupS = sessionS + warm("start_call_s").asInstanceOf[Double]
    // the replica backlog joins the source only now: the warm-up drain
    // built the state it is applied to
    cfg.get("pending_dir").foreach { p =>
      new File(p.toString).listFiles().sortBy(_.getName).foreach { f =>
        Files.move(f.toPath, Paths.get(backlog, f.getName))
      }
    }
    // a traced run follows its traced leg with an untraced one; the traced
    // leg runs on the less warm JIT, so the overhead it shows errs high
    val plan = if (traced) Seq("traced" -> true, "plain" -> false)
      else Seq("plain" -> false)
    val legs = plan.map { case (name, withTrace) => leg(name, withTrace) }
    val rss = Harness.peakRssMb()
    val checks = legs.map(l => l("name") -> l("reps").asInstanceOf[Seq[Map[String, Any]]]
      .map(verify)).toMap
    val setups = coldSetupS +: (1 until setupRepeats).map(setupAgain)
    val oneCore =
      if (traced && workload == "backlog_drain") {
        restart(1)
        drain(backlog, s"$runDir/onecore-warm", "onecore-warm")
        Some(drain(backlog, s"$runDir/onecore", "onecore"))
      } else None
    val out = Map("setup_s" -> setups, "peak_rss_mb" -> rss,
      "legs" -> legs, "checks" -> checks, "one_core" -> oneCore,
      "one_core_check" -> oneCore.map(verify),
      "trace" -> Map("spans" -> rec.spans.asScala.toSeq,
        "progress" -> rec.progress.asScala.toSeq,
        "jobs" -> rec.jobs.values().asScala.map(_.toMap).toSeq))
    spark.stop()
    out
  }
}
