package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** The observability surface (rigatoni-core/src/metrics.rs, §2.11):
  * Prometheus-convention counter/gauge/histogram names with low-cardinality
  * labels, backed by lock-free adders. Spark-side process metrics (JVM,
  * executors) come from Spark's own sinks; these are the PIPELINE metrics
  * the reference exposes, fed by [[MetricsListener]] and the pipeline
  * write path. */
object GraftMetrics {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val gauges = new ConcurrentHashMap[String, java.lang.Double]()
  private val histoCount = new ConcurrentHashMap[String, LongAdder]()
  private val histoSum = new ConcurrentHashMap[String, DoubleAdder]()

  private def key(name: String, labels: Seq[(String, String)]): String =
    if (labels.isEmpty) name
    else name + labels.sortBy(_._1)
      .map { case (k, v) => s"""$k="${escape(v)}"""" }.mkString("{", ",", "}")

  /** Label-value escaping of the text exposition format. */
  private def escape(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  def inc(name: String, labels: (String, String)*): Unit = add(name, 1, labels: _*)
  def add(name: String, n: Long, labels: (String, String)*): Unit =
    counters.computeIfAbsent(key(name, labels), _ => new LongAdder).add(n)
  def counter(name: String, labels: (String, String)*): Long =
    Option(counters.get(key(name, labels))).map(_.sum()).getOrElse(0L)
  /** Sum of a counter across all label combinations. */
  def counterTotal(name: String): Long =
    counters.asScala.collect {
      case (k, v) if k == name || k.startsWith(name + "{") => v.sum()
    }.sum

  def setGauge(name: String, v: Double, labels: (String, String)*): Unit =
    gauges.put(key(name, labels), v)
  def gauge(name: String, labels: (String, String)*): Double =
    Option(gauges.get(key(name, labels))).map(_.doubleValue()).getOrElse(0.0)

  def observe(name: String, v: Double, labels: (String, String)*): Unit = {
    val k = key(name, labels)
    histoCount.computeIfAbsent(k, _ => new LongAdder).increment()
    histoSum.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  }
  def histogramCount(name: String, labels: (String, String)*): Long =
    Option(histoCount.get(key(name, labels))).map(_.sum()).getOrElse(0L)
  def histogramSum(name: String, labels: (String, String)*): Double =
    Option(histoSum.get(key(name, labels))).map(_.sum()).getOrElse(0.0)

  /** Text exposition (Prometheus-style) — the equivalent of the reference's
    * /metrics endpoint payload. */
  def render(): String = {
    val cs = counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k ${v.sum()}" }
    val gs = gauges.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k $v" }
    val hs = histoCount.asScala.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      // the suffix belongs to the metric name, before the label set
      val i = k.indexOf('{')
      val (name, labels) = if (i < 0) (k, "") else k.splitAt(i)
      Seq(s"${name}_count$labels ${v.sum()}",
        s"${name}_sum$labels ${histoSum.get(k).sum()}")
    }
    (cs ++ gs ++ hs).mkString("\n")
  }

  def reset(): Unit = { counters.clear(); gauges.clear(); histoCount.clear(); histoSum.clear() }

  /** Pre-register every reference metric name so a scrape shows the full
    * surface at 0 before traffic arrives — the exporter behavior of the
    * reference (its registry registers all metrics at construction,
    * metrics.rs:112-227). Counters/gauges seed an unlabeled 0 series;
    * histograms seed an empty (count=0, sum=0) series. Idempotent. */
  def seedDefaults(): Unit = {
    Seq(EventsProcessed, EventsFailed, Retries, BatchesWritten, WriteErrors,
        // graft-native: optimizer-rule probe refusals
        // (graft.plans.BloomJoins.RefusalMetric) — visible at 0 so a
        // scrape distinguishes "no refusals" from "not exported"
        "graft_rule_refusals_total")
      .foreach(n => counters.computeIfAbsent(n, _ => new LongAdder))
    Seq(ActiveCollections, PipelineStatus, BatchQueueSize)
      .foreach(n => gauges.putIfAbsent(n, 0.0))
    Seq(BatchSize, BatchDuration, WriteDuration, WriteBytes, StreamLag)
      .foreach { n =>
        histoCount.computeIfAbsent(n, _ => new LongAdder)
        histoSum.computeIfAbsent(n, _ => new DoubleAdder)
      }
  }

  // Metric names, verbatim from metrics.rs:112-227
  val EventsProcessed = "rigatoni_events_processed_total"
  val EventsFailed = "rigatoni_events_failed_total"
  val Retries = "rigatoni_retries_total"
  val BatchesWritten = "rigatoni_batches_written_total"
  val WriteErrors = "rigatoni_destination_write_errors_total"
  val BatchSize = "rigatoni_batch_size"
  val BatchDuration = "rigatoni_batch_duration_seconds"
  val WriteDuration = "rigatoni_destination_write_duration_seconds"
  val WriteBytes = "rigatoni_destination_write_bytes"
  val StreamLag = "rigatoni_change_stream_lag_seconds"
  val ActiveCollections = "rigatoni_active_collections"
  val PipelineStatus = "rigatoni_pipeline_status" // 0 stopped, 1 running, 2 error
  val BatchQueueSize = "rigatoni_batch_queue_size" // UNIT: unadmitted source FILES per query here, buffered EVENTS per collection in the reference — see CdcPipeline.stagedFileCount
}

/** StreamingQueryListener bridging Structured Streaming progress to the
  * reference metric names (stream.rs:891-944 listener + metrics.rs). One
  * instance can watch many queries; label = query name. */
final class MetricsListener extends StreamingQueryListener {
  import GraftMetrics._

  /** Started/progress events carry the query NAME; terminated carries only
    * the run id — without this map the status gauge set to 1 under
    * `query=<name>` would never return to 0 (it was being cleared under
    * `query=<uuid>`, a permanently-stuck "running" gauge after a clean
    * shutdown). */
  private val names = new ConcurrentHashMap[java.util.UUID, String]()

  private def label(id: java.util.UUID, name: String): String = {
    val q = Option(name).getOrElse(id.toString)
    names.put(id, q)
    q
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    setGauge(PipelineStatus, 1.0, "query" -> label(e.id, e.name))
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val q = label(p.id, p.name)
    add(EventsProcessed, p.numInputRows, "query" -> q)
    observe(BatchSize, p.numInputRows.toDouble, "query" -> q)
    observe(BatchDuration, p.batchDuration / 1000.0, "query" -> q)
    // change_stream_lag_seconds (metrics.rs:191) for watermarked queries:
    // processing time minus the newest event time this batch carried. (The
    // pipeline write path also feeds this for non-watermarked envelopes,
    // where eventTime is absent.)
    for (maxEvt <- Option(p.eventTime.get("max"))) try {
      val lag = java.time.Duration.between(
        java.time.Instant.parse(maxEvt),
        java.time.Instant.parse(p.timestamp)).toMillis / 1000.0
      if (lag >= 0) observe(StreamLag, lag, "query" -> q)
    } catch { case _: java.time.format.DateTimeParseException => () }
    // batch_queue_size (metrics.rs:165) is fed by the pipeline write path
    // (CdcPipeline): the file source keeps its unreadFiles backlog private
    // in Spark 4.1 — SourceProgress carries no metrics map and
    // reportLatestOffset returns null — so the listener can't see it.
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val status = if (e.exception.isDefined) 2.0 else 0.0
    val q = Option(names.remove(e.id)).getOrElse(e.id.toString)
    setGauge(PipelineStatus, status, "query" -> q)
  }
}
