package graft.streaming

import graft.SparkSpec
import graft.cdc.CdcEnvelope
import org.apache.spark.sql.DataFrame

/** Source-side error classification (reference stream.rs:216-357): label
  * and code retryability, the 286 fatal short-circuit, category names, and
  * the restart loop honoring a fatal source error through the engine's
  * exception wrappers. */
class SourceErrorSpec extends SparkSpec {

  test("labels decide first: reference retryable labels reconnect") {
    Seq("RetryableWriteError", "TransientTransactionError", "NetworkError")
      .foreach { l =>
        assert(SourceError.from("x", code = None, labels = Seq(l)).retryable,
          s"label $l should be retryable")
      }
    assert(!SourceError.from("x", labels = Seq("SomeOtherLabel")).retryable)
  }

  test("transient codes reconnect; unknown codes and codeless errors do not") {
    val transient = Seq(6, 7, 89, 91, 10107, 11600, 11602, 13435, 13436, 43)
    transient.foreach { c =>
      assert(SourceError.from("x", code = Some(c)).retryable,
        s"code $c should be retryable")
    }
    assert(!SourceError.from("x", code = Some(13)).retryable,
      "Unauthorized (13) must not reconnect")
    assert(!SourceError.from("x", code = None).retryable,
      "codeless connection errors are conservatively fatal")
  }

  test("code 286 becomes the fatal InvalidResumeToken") {
    val e = SourceError.from("resume", code = Some(286))
    assert(e.isInstanceOf[SourceError.InvalidResumeToken])
    assert(!e.retryable)
    assert(e.category === "invalid_token")
  }

  test("categories match the reference's metric labels") {
    assert(new SourceError.Connection("x").category === "connection")
    assert(new SourceError.Conversion("x").category === "conversion")
    assert(new SourceError.TokenPersistence("x").category === "persistence")
    assert(new SourceError.Invalidated("x").category === "invalidated")
    assert(new SourceError.MaxReconnectAttemptsExceeded(3).category === "max_retries")
    assert(new SourceError.Configuration("x").category === "configuration")
    Seq(new SourceError.Conversion("x"), new SourceError.TokenPersistence("x"),
      new SourceError.Invalidated("x"),
      new SourceError.MaxReconnectAttemptsExceeded(3),
      new SourceError.Configuration("x")).foreach(e => assert(!e.retryable))
  }

  test("cause-chain classification: first classified error decides; unknown stays retryable") {
    val fatal = new RuntimeException("wrap",
      new RuntimeException("wrap2", new SourceError.InvalidResumeToken()))
    assert(!SourceError.isRetryableFailure(fatal))
    assert(SourceError.categoryOf(fatal) === "invalid_token")
    val transient = new RuntimeException("wrap",
      new SourceError.Connection("net", code = Some(89)))
    assert(SourceError.isRetryableFailure(transient))
    assert(SourceError.categoryOf(transient) === "connection")
    val dest = new RuntimeException("wrap",
      new DestinationError.Serialization("bad row"))
    assert(!SourceError.isRetryableFailure(dest))
    assert(SourceError.categoryOf(dest) === "serialization")
    assert(SourceError.isRetryableFailure(new RuntimeException("mystery")))
    assert(SourceError.categoryOf(new RuntimeException("mystery")) === "unknown")
  }

  test("restart loop reconnects on transient source errors, dies on 286") {
    val root = s"$outRoot/test-out/source-error"
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    val envDDL = "operation string, database string, collection string, " +
      "cluster_time timestamp, document_key string, full_document string, " +
      "resume_token string, event_id long, user_id long, value double"
    val n = {
      val env = CdcEnvelope.fromEvents(graft.Tables.events(spark, sfTiny))
        .drop("update_description")
      env.repartition(2).write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(s"$root/source")
      env.count()
    }
    def config(name: String) = PipelineConfig(sourceDir = s"$root/source",
      schemaDDL = envDDL, checkpointDir = s"$root/ckpt-$name",
      queryName = name, triggerInterval = None,
      retry = Retry.Policy(maxRetries = 0, initialDelayMs = 1, maxDelayMs = 2))

    // a connector surfacing NetworkTimeout(89) twice: restart absorbs both
    class FlakySource(failures: Int, failWith: => Throwable) extends Destination {
      var remaining = failures
      var rows = 0L
      override def writeBatch(df: DataFrame, batchId: Long): Unit = synchronized {
        if (remaining > 0) { remaining -= 1; throw failWith }
        rows += df.count()
      }
      override def metadata: DestinationMetadata =
        DestinationMetadata("flaky-source", supportsTransactions = false)
    }
    val flaky = new FlakySource(2, SourceError.from("net", code = Some(89)))
    val starts = CdcPipeline.runWithRestart(spark, config("transient"), flaky,
      maxAttempts = 5, sleep = _ => ())
    assert(starts === 3)
    assert(flaky.rows === n, "restart lost events")

    // oplog truncation (286) must NOT be restarted, per the reference
    val fatal = new FlakySource(99, SourceError.from("resume", code = Some(286)))
    intercept[Exception] {
      CdcPipeline.runWithRestart(spark, config("fatal"), fatal,
        maxAttempts = 5, sleep = _ => ())
    }
    assert(fatal.remaining === 98,
      s"fatal source error was restarted ${99 - fatal.remaining} times, want 1 attempt")

    // ...and must not burn the IN-BATCH backoff schedule either: with
    // maxRetries = 3 available, a fatal source error still fails on the
    // first attempt (the batch-level retry loop classifies through the
    // same cause-chain walk as the restart loop)
    val inBatch = new FlakySource(99, SourceError.from("resume", code = Some(286)))
    val cfgRetries = config("fatal-inbatch").copy(
      retry = Retry.Policy(maxRetries = 3, initialDelayMs = 1, maxDelayMs = 2))
    intercept[Exception] {
      CdcPipeline.start(spark, cfgRetries, inBatch).awaitTermination(120000)
    }
    assert(inBatch.remaining === 98,
      s"fatal source error retried in-batch ${99 - inBatch.remaining} times, want 1 attempt")
  }
}
