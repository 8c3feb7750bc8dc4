package graft.streaming

import scala.util.control.NonFatal

/** Exponential backoff with cap and ±10% deterministic jitter — the retry
  * policy every reference layer shares (pipeline.rs:1790-1868
  * write_with_retry; stream.rs:556-576 reconnect backoff; redis.rs:508-534).
  */
object Retry {

  final case class Policy(
      maxRetries: Int = 3,
      initialDelayMs: Long = 100,
      maxDelayMs: Long = 30000,
      jitter: Double = 0.1) {
    require(initialDelayMs <= maxDelayMs,
      "retry_delay must be <= max_retry_delay") // pipeline.rs:612-618
    require(maxRetries >= 0 && jitter >= 0 && jitter < 1)

    /** attempt is 1-based: initial·2^(n-1), capped (stream.rs:556-576). */
    def delayMs(attempt: Int, seed: Long = 0L): Long = {
      val base = math.min(
        initialDelayMs * math.pow(2.0, (attempt - 1).toDouble),
        maxDelayMs.toDouble)
      // deterministic jitter in [-j, +j] from a hash of (seed, attempt) —
      // reproducible in tests, still decorrelates workers
      val h = java.util.Objects.hash(java.lang.Long.valueOf(seed),
        Integer.valueOf(attempt)) & 0x7fffffff
      val frac = (h.toDouble / Int.MaxValue) * 2 - 1 // [-1, 1)
      math.max(0L, (base * (1 + jitter * frac)).toLong)
    }
  }

  final class RetriesExhausted(val attempts: Int, cause: Throwable)
    extends RuntimeException(s"gave up after $attempts attempts", cause)

  /** Run `f`, retrying retryable failures per `policy`; non-retryable
    * errors propagate immediately (pipeline.rs:1850-1860), and so do an
    * interrupt and a fatal JVM error, whatever `isRetryable` says.
    * `onRetry` feeds the retries_total metric. */
  def withBackoff[A](policy: Policy, seed: Long = 0L,
                     isRetryable: Throwable => Boolean = DestinationError.isRetryable,
                     onRetry: (Int, Throwable) => Unit = (_, _) => (),
                     sleep: Long => Unit = Thread.sleep)(f: => A): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return f
      catch {
        case NonFatal(t) if isRetryable(t) && attempt <= policy.maxRetries =>
          onRetry(attempt, t)
          // O7: a capacity/rate-limit signal carries the destination's own
          // retry_after hint (destination.rs:255-263) — honour it when it
          // asks for MORE patience than the backoff schedule would give
          val hinted = t match {
            case c: DestinationError.Capacity  => c.retryAfterMs
            case r: DestinationError.RateLimit => r.retryAfterMs
            case _                             => 0L
          }
          sleep(math.max(policy.delayMs(attempt, seed), hinted))
        case NonFatal(t) if isRetryable(t) =>
          throw new RetriesExhausted(attempt, t)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
