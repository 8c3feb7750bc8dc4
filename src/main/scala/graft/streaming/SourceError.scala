package graft.streaming

/** SOURCE-side error taxonomy — the missing half of the classification
  * story: [[DestinationError]] covers the sink, this covers the feed
  * (reference `stream.rs:216-357` StreamError + from_mongo_error +
  * is_retryable + category).
  *
  * The file source this build ships rarely needs it (a missing file is
  * retried by the engine's own listing), but the day a real Mongo/Kafka
  * connector lands, its driver errors route through [[SourceError.from]]
  * and the restart-with-backoff loop ([[CdcPipeline.runWithRestart]])
  * gets the reference's exact reconnect policy:
  *
  *  - error LABELS first (most reliable): RetryableWriteError,
  *    TransientTransactionError, NetworkError → retryable
  *  - transient CODES: 6 (HostUnreachable), 7 (HostNotFound),
  *    89 (NetworkTimeout), 91 (ShutdownInProgress), 10107 (NotPrimary),
  *    11600 (InterruptedAtShutdown), 11602 (InterruptedDueToReplState),
  *    13435/13436 (NotPrimary variants), 43 (CursorNotFound — resumable
  *    via token) → retryable
  *  - code 286 (ChangeStreamFatalError) → InvalidResumeToken, FATAL: the
  *    oplog may be truncated past the token; reconnecting cannot help
  *  - a connection error with NO code → conservative non-retryable
  *    (stream.rs:330-333)
  */
sealed abstract class SourceError(msg: String, val category: String,
                                  val retryable: Boolean)
  extends RuntimeException(msg)

object SourceError {

  /** Labels the reference trusts over codes (stream.rs:304-311). */
  private val RetryableLabels =
    Set("RetryableWriteError", "TransientTransactionError", "NetworkError")

  /** Transient error codes (stream.rs:314-331). */
  private val TransientCodes =
    Set(6, 7, 89, 91, 10107, 11600, 11602, 13435, 13436, 43)

  /** Connection-level failure; retryability from labels, then code. */
  final class Connection(msg: String, val code: Option[Int] = None,
                         val labels: Seq[String] = Nil)
    extends SourceError(msg, "connection",
      labels.exists(RetryableLabels) ||
        code.exists(TransientCodes))

  /** Event → envelope conversion failure (stream.rs Conversion). */
  final class Conversion(msg: String)
    extends SourceError(msg, "conversion", false)

  /** Resume-token persistence failure (stream.rs ResumeTokenPersistence). */
  final class TokenPersistence(msg: String)
    extends SourceError(msg, "persistence", false)

  /** Stream invalidated — collection dropped/renamed (stream.rs Invalidated;
    * the source-side twin of [[DestinationError.Invalidated]]). */
  final class Invalidated(msg: String)
    extends SourceError(msg, "invalidated", false)

  /** Reconnect budget exhausted (stream.rs MaxReconnectAttemptsExceeded). */
  final class MaxReconnectAttemptsExceeded(attempts: Int)
    extends SourceError(
      s"max reconnection attempts ($attempts) exceeded", "max_retries", false)

  /** Code 286: resume token invalid / oplog truncated — fatal. */
  final class InvalidResumeToken(val code: Int = 286)
    extends SourceError(
      s"invalid resume token (code $code): oplog may be truncated",
      "invalid_token", false)

  /** Bad configuration (stream.rs Configuration). */
  final class Configuration(msg: String)
    extends SourceError(msg, "configuration", false)

  /** from_mongo_error (stream.rs:262-288): code 286 short-circuits to the
    * fatal token error; everything else is a Connection carrying whatever
    * code/labels the driver exposed. */
  def from(msg: String, code: Option[Int] = None,
           labels: Seq[String] = Nil): SourceError =
    if (code.contains(286)) new InvalidResumeToken()
    else new Connection(msg, code, labels)

  /** Walk a failure's cause chain (a StreamingQueryException wraps the
    * foreachBatch/source throw, often twice) to the first classified
    * error — source or destination — and report its retryability.
    * Unclassified failures stay retryable, matching the reference's
    * treatment of unknown SDK errors (pipeline.rs:1871-1875). */
  def isRetryableFailure(t: Throwable): Boolean =
    firstClassified(t).forall(_._1)

  /** Category of the first classified error in the chain, for metric
    * labels (stream.rs:346-357 category). */
  def categoryOf(t: Throwable): String =
    firstClassified(t).fold("unknown")(_._2)

  /** (retryable, category) of the first classified error within 16
    * cause hops. */
  private def firstClassified(t: Throwable): Option[(Boolean, String)] =
    Iterator.iterate(t)(c => if (c.getCause eq c) null else c.getCause)
      .take(16).takeWhile(_ != null)
      .collectFirst {
        case s: SourceError      => (s.retryable, s.category)
        case d: DestinationError => (d.retryable, d.errorType)
      }
}
