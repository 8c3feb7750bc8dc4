package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.KeyStrategy
import graft.sources.{OutCompression, OutFormat, Writers}

/** Destination capability metadata (rigatoni-core/src/destination.rs:407-469). */
final case class DestinationMetadata(
    name: String,
    supportsTransactions: Boolean,
    maxBatchSize: Option[Int] = None,
    properties: Map[String, String] = Map.empty)

/** Error taxonomy for metrics labels and retry gating
  * (pipeline.rs:1880-1900 categorize_error + destination.rs:181-398). */
sealed abstract class DestinationError(msg: String, val errorType: String,
                                       val retryable: Boolean)
  extends RuntimeException(msg)
object DestinationError {
  final class Timeout(msg: String) extends DestinationError(msg, "timeout", true)
  final class Connection(msg: String) extends DestinationError(msg, "connection", true)
  final class RateLimit(msg: String, val retryAfterMs: Long)
    extends DestinationError(msg, "rate_limit", true)
  /** destination.rs:248-263 — back-pressure signal (O7). */
  final class Capacity(msg: String, val utilization: Double, val retryAfterMs: Long)
    extends DestinationError(msg, "capacity", true)
  final class Serialization(msg: String) extends DestinationError(msg, "serialization", false)
  final class Permission(msg: String) extends DestinationError(msg, "permission", false)
  final class Validation(msg: String) extends DestinationError(msg, "validation", false)
  final class Closed(msg: String) extends DestinationError(msg, "closed", false)
  /** F3 — an invalidate event closes the stream permanently
    * (stream.rs:1211-1220; fatal, never retried/reconnected). */
  final class Invalidated(msg: String) extends DestinationError(msg, "invalidate", false)

  /** Retryable iff transient (pipeline.rs:1871-1875; S3 classification
    * s3/destination.rs:607-646). Unknown throwables count as retryable —
    * the reference retries unknown SDK errors too. */
  def isRetryable(t: Throwable): Boolean = t match {
    case d: DestinationError => d.retryable
    case _ => true
  }
  def errorType(t: Throwable): String = t match {
    case d: DestinationError => d.errorType
    case _ => "unknown"
  }
}

/** The sink contract (destination.rs:540-749): `writeBatch` buffers/writes a
  * micro-batch, `flush` is the durability barrier (idempotent), `close`
  * releases resources; writes after close must fail (D5). `batchId` comes
  * from Structured Streaming's micro-batch engine — a destination that
  * keys its output by batchId is idempotent under replay, which upgrades
  * the checkpointed at-least-once loop to exactly-once (SURVEY §4). */
trait Destination {
  def writeBatch(df: DataFrame, batchId: Long): Unit
  def flush(): Unit = ()
  def close(): Unit = ()
  def metadata: DestinationMetadata
}

/** D2 — partitioned-file destination: one directory per micro-batch
  * (`batch_id=N/`), laid out by the configured key strategy underneath.
  * Overwrite semantics per batch directory make replays idempotent: a
  * restarted batch rewrites exactly its own directory, never appends
  * duplicates. The reference's S3 uploader keys objects by flush timestamp
  * instead (s3/destination.rs:516-528) and is only at-least-once. */
final class FileDestination(
    outputDir: String,
    format: OutFormat = OutFormat.Jsonl,
    compression: OutCompression = OutCompression.None,
    strategy: KeyStrategy = KeyStrategy.CollectionBased,
    tsCol: String = "cluster_time",
    zoneMapCols: Seq[String] = Nil,
    // sketch tier AT INGEST: per-file KLL (quantiles) + HLL (distincts)
    // blobs written into the zone manifest as each batch lands, so a
    // fresh session's ZoneMap.metaApproxProfile answers over the
    // stream-ingested layout with zero offline rebuild. Blobs are
    // mergeable at fixed parameters, and replay idempotence rides the
    // same reap-and-reindex path as the zones: a rewritten batch dir's
    // rows (blobs included) are reaped and rebuilt from the fresh files,
    // leaving the tier exactly as a single clean run would.
    sketchCols: Seq[String] = Nil,
    bloomIndexCols: Seq[String] = Nil,
    bloomExpectedItemsPerFile: Long = 1000000L,
    bloomFpp: Double = 0.01,
    // writer file sizing, forwarded to Writers.write: cap files per key,
    // target bytes per file, or pin files-per-key outright (the lever for
    // layouts that later feed Compaction)
    maxFilesPerKey: Int = 64,
    targetFileBytes: Long = 128L << 20,
    filesPerKeyHint: Option[Int] = None) extends Destination {
  // `zoneMapCols` / `bloomIndexCols`: maintain file-skipping manifests AS
  // THE SINK WRITES — after each batch lands, ZoneMap.update /
  // BloomIndex.update index exactly that batch's new files (O(batch
  // files)). Under replay the rewritten batch dir's files carry fresh
  // UUID basenames and re-index, and update REAPS the overwritten files'
  // manifest rows in the same call (shard-local rewrite), so neither
  // index ever carries ghosts. Downstream range queries (zone map) and
  // point lookups (bloom) then prune the sink's file list at plan time
  // without a nightly index build. Parquet only — both tiers read typed
  // stats. The two tiers compose: range-clustered columns go in
  // `zoneMapCols`, high-cardinality lookup keys in `bloomIndexCols`.
  require((zoneMapCols.isEmpty && bloomIndexCols.isEmpty) ||
    format == OutFormat.Parquet,
    "index maintenance (zone map / bloom) needs the parquet format")
  // the sketch blobs live in the zone manifest's rows — no zones, nowhere
  // to put them
  require(sketchCols.isEmpty || zoneMapCols.nonEmpty,
    "sketchCols ride the zone manifest: set zoneMapCols too")

  @volatile private var closed = false
  @volatile private var catalogued = false
  @volatile private[streaming] var batchesWritten = 0L

  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    if (closed) throw new DestinationError.Closed(
      s"write_batch on closed destination $outputDir")
    val dir = f"$outputDir/batch_id=$batchId%06d"
    Writers.write(df, dir, format, compression, strategy, tsCol,
      maxFilesPerKey = maxFilesPerKey, targetFileBytes = targetFileBytes,
      filesPerKeyHint = filesPerKeyHint)
    if (zoneMapCols.nonEmpty)
      graft.sources.ZoneMap.update(df.sparkSession, outputDir, zoneMapCols,
        sketchCols = sketchCols)
    if (bloomIndexCols.nonEmpty)
      graft.sources.BloomIndex.update(df.sparkSession, outputDir,
        bloomIndexCols, bloomExpectedItemsPerFile, bloomFpp)
    if ((zoneMapCols.nonEmpty || bloomIndexCols.nonEmpty) && !catalogued) {
      // self-describe ONCE: persist the layout registrations beside the
      // data (`_graft_catalog.json`), so a FRESH query session's plain SQL
      // prunes this sink's output with zero setup calls — the catalog
      // DISCOVERY path. Any prior catalog is merged first (load before
      // save), and columns already registered keep their settings (a
      // custom maxKeys survives the sink's defaults).
      val spark = df.sparkSession
      graft.plans.GraftCatalog.load(spark, outputDir)
      val haveBloom =
        graft.plans.BloomJoins.layoutsFor(outputDir).map(_.col).toSet
      bloomIndexCols.filterNot(haveBloom).foreach(c =>
        graft.plans.BloomJoins.register(
          graft.plans.BloomJoins.Layout(outputDir, c)))
      val haveZone =
        graft.plans.BloomJoins.zoneLayoutsFor(outputDir).map(_.col).toSet
      zoneMapCols.filterNot(haveZone).foreach(c =>
        graft.plans.BloomJoins.registerZone(
          graft.plans.BloomJoins.ZoneLayout(outputDir, c)))
      graft.plans.GraftCatalog.save(spark, outputDir)
      catalogued = true
    }
    batchesWritten += 1
    // metrics.rs:184 destination_write_bytes — size of what just landed
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      GraftMetrics.observe(GraftMetrics.WriteBytes,
        fs.getContentSummary(p).getLength.toDouble, "destination_type" -> "file")
    } catch { case NonFatal(_) => () }
  }

  override def close(): Unit = closed = true

  override def metadata: DestinationMetadata = DestinationMetadata(
    name = "file", supportsTransactions = true,
    properties = Map("path" -> outputDir, "format" -> format.name,
      "compression" -> compression.name))

  /** Everything this destination ever wrote, as one DataFrame (the
    * batch_id partition column is recovered from the layout). */
  def readBack(spark: SparkSession, schemaDDL: Option[String] = None): DataFrame =
    Writers.read(spark, outputDir, format, schemaDDL)
}

/** Dead-letter fork: rows whose `reasonCol` is NULL flow to `primary`
  * (with the reason column dropped — the clean output schema), the rest
  * to `deadLetter` (reason kept — the triage record). Composes with
  * [[graft.operators.Quality.quarantine]] as the pipeline `transform`:
  * one malformed row is routed, not fatal, and not silently ingested —
  * the DLQ pattern of every production CDC deployment.
  *
  * Delivery semantics are whatever the two wrapped destinations give:
  * both legs see the SAME batchId, so two batchId-idempotent destinations
  * (e.g. [[FileDestination]]) keep exactly-once end-to-end. The primary
  * leg writes FIRST — on a mid-fork crash the retry replays both legs
  * under the same id, and idempotent legs converge. The two filters cost
  * two passes over the micro-batch source, the price of two independent
  * sinks (a cache here would trade executor memory for the re-read;
  * micro-batches are small by construction). */
final class DeadLetterDestination(
    primary: Destination,
    deadLetter: Destination,
    reasonCol: String = "quarantine_reason") extends Destination {

  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    require(df.columns.contains(reasonCol),
      s"DeadLetterDestination needs a '$reasonCol' column " +
        "(add Quality.quarantine to the pipeline transform)")
    import org.apache.spark.sql.functions.col
    primary.writeBatch(df.filter(col(reasonCol).isNull).drop(reasonCol),
      batchId)
    deadLetter.writeBatch(df.filter(col(reasonCol).isNotNull), batchId)
  }
  override def flush(): Unit = { primary.flush(); deadLetter.flush() }
  override def close(): Unit = { primary.close(); deadLetter.close() }
  override def metadata: DestinationMetadata = DestinationMetadata(
    name = "dead-letter-fork",
    supportsTransactions = primary.metadata.supportsTransactions &&
      deadLetter.metadata.supportsTransactions,
    properties = Map("primary" -> primary.metadata.name,
      "dead_letter" -> deadLetter.metadata.name))
}

/** Aggregate-maintaining destination — the streaming-IVM sink: instead of
  * writing files, `writeBatch` folds each micro-batch's DELTAS into a
  * persisted [[IncrementalAgg]] summary. Downstream,
  * [[graft.plans.SummaryViews]] serves plain `GROUP BY` queries over the
  * base from that summary, closing the loop: CDC feed → O(touched keys)
  * maintenance per trigger → O(keys) dashboard reads, with the 100 TB base
  * never re-scanned. Replay-idempotence comes from
  * [[BucketedStateTable]]'s snapshot commit, which records the highest
  * batch id applied, rather than the file sink's batch-dir overwrite —
  * sums are NOT idempotent, so a replay under foreachBatch's
  * at-least-once contract must find its batch committed or not at all,
  * and is skipped when it is at or below that batch id. `deltas`
  * maps the envelope micro-batch to the ADDITIVE delta frame (signed
  * contributions — see [[IncrementalAgg.applyDelta]], including its
  * decimal-widening and append-only-extrema caveats). */
final class SummaryDestination(
    statePath: String,
    keyCols: Seq[String],
    sumCols: Seq[String],
    deltas: DataFrame => DataFrame = identity,
    nBuckets: Int = 64,
    minCols: Seq[String] = Nil,
    maxCols: Seq[String] = Nil,
    // self-description: when set, the first successful fold REGISTERS
    // this view and merge-writes `_graft_catalog.json` beside the BASE
    // table (view.basePath), so a fresh session's plain dashboard
    // GROUP BY rewrites onto this summary with zero setup calls — the
    // FileDestination catalog discipline one tier up. The sink cannot
    // derive the base path itself (it only ever sees deltas), hence the
    // explicit View.
    describeView: Option[graft.plans.SummaryViews.View] = None)
  extends Destination {
  @volatile private var closed = false
  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    if (closed) throw new DestinationError.Closed(
      s"write_batch on closed summary destination $statePath")
    // self-description rides the fold itself (idempotent per batch; a
    // failed catalog write refuses and retries next batch — see
    // IncrementalAgg.applyDelta)
    IncrementalAgg.applyDelta(df.sparkSession, statePath, deltas(df),
      keyCols, sumCols, nBuckets, batchId, minCols, maxCols,
      describeView = describeView)
  }
  override def close(): Unit = closed = true
  override def metadata: DestinationMetadata = DestinationMetadata(
    "summary", supportsTransactions = true,
    properties = Map("state_path" -> statePath,
      "keys" -> keyCols.mkString(",")))
}

/** D4 — in-memory mock destination with injectable failures, mirroring the
  * reference's test harness (rigatoni-core/tests/destination_tests.rs:59-193).
  * Rows are collected to the driver — test scale only, by design. */
final class MockDestination(failNextWrites: Int = 0,
                            failWith: Throwable = new DestinationError.Timeout("injected"))
  extends Destination {

  private var remainingFailures = failNextWrites
  @volatile private var closed = false
  val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (batchId, rows)
  @volatile var flushes = 0
  @volatile var attempts = 0

  override def writeBatch(df: DataFrame, batchId: Long): Unit = synchronized {
    if (closed) throw new DestinationError.Closed("write_batch on closed mock")
    attempts += 1
    if (remainingFailures > 0) { remainingFailures -= 1; throw failWith }
    batches += ((batchId, df.count()))
  }
  override def flush(): Unit = synchronized {
    if (closed) throw new DestinationError.Closed("flush on closed mock")
    flushes += 1
  }
  override def close(): Unit = closed = true
  override def metadata: DestinationMetadata =
    DestinationMetadata("mock", supportsTransactions = false)
}
