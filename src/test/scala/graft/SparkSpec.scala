package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.TaskFailedReason
import scala.jdk.CollectionConverters._

/** One SparkSession shared by every suite (sbt runs suites in one forked
  * JVM; spinning a session per suite would dominate test time). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every stateful streaming test runs against the store the library
      // ships by default (PipelineConfig.stateStoreProvider = RocksDB)
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.CdcPipeline.RocksDBProvider)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    PostMortem.watch(s.sparkContext)
    s
  }
  /** Root every spec writes its output under ([[graft.OutRoot]]). */
  val outRoot: String = OutRoot.dir
  /** Smallest driver fixture — smoke scale. */
  val sfTiny = "/root/testdata/sf0.001"
  /** Correctness scale (what the driver's DuckDB gate runs at). */
  val sfSmall = "/root/testdata/sf0.01"
}

/** Why a red run went red: the first failed task, the first uncaught
  * error and who stopped the shared context, printed as one `post-mortem:`
  * line when the test JVM exits. A failure that cascades ("SparkContext
  * has been shutdown" in every later suite) otherwise only shows its
  * cascade. */
object PostMortem {
  private val firstTaskFailure = new AtomicReference[String]()
  private val fatal = new AtomicReference[String]()
  private val contextStop = new AtomicReference[String]()

  private def oneLine(s: String): String =
    s.linesIterator.take(2).mkString(" | ").take(400)

  def watch(sc: org.apache.spark.SparkContext): Unit = {
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case r: TaskFailedReason => firstTaskFailure.compareAndSet(null,
          s"stage ${e.stageId} task ${e.taskInfo.index}: ${oneLine(r.toErrorString)}")
        case _ => ()
      }
      // posted from inside SparkContext.stop: the stopping thread's stack
      // names the caller
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        val context = classOf[org.apache.spark.SparkContext].getName
        def isStop(f: StackTraceElement) =
          f.getClassName == context && f.getMethodName == "stop"
        val caller = Thread.getAllStackTraces.asScala.collectFirst {
          case (t, st) if st.exists(isStop) =>
            val below = st.dropWhile(!isStop(_)).dropWhile(_.getClassName == context)
            s"thread ${t.getName} via ${below.take(3).mkString(" < ")}"
        }.getOrElse("stopping thread not found")
        contextStop.compareAndSet(null,
          s"exit code ${e.exitCode.getOrElse("none")}, $caller")
      }
    })
    val previous = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (t: Thread, err: Throwable) =>
      fatal.compareAndSet(null, s"thread ${t.getName}: ${oneLine(err.toString)}")
      if (previous != null) previous.uncaughtException(t, err)
      else err.printStackTrace()
    }
    // ahead of Spark's own shutdown hooks (Hadoop priority 40), so the
    // context stop that ends every run is not reported as a cause
    ShutdownHookManager.get().addShutdownHook(() => println(line()), 50)
  }

  def line(): String = {
    def show(v: AtomicReference[String], none: String) = Option(v.get).getOrElse(none)
    s"post-mortem: first task failure: ${show(firstTaskFailure, "none")}; " +
      s"uncaught error: ${show(fatal, "none")}; " +
      s"context stop: ${show(contextStop, "not stopped")}"
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfTiny: String = SparkTestSession.sfTiny
  val sfSmall: String = SparkTestSession.sfSmall
  val outRoot: String = SparkTestSession.outRoot

  /** Job id → finished task count, for every Spark job `body` starts on
    * this thread (tagged by a job group, so other queries' jobs don't
    * count). */
  def jobTasks(body: => Unit): Map[Int, Int] = {
    val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val tasks = scala.collection.concurrent.TrieMap[Int, Int]()
    inJobGroup(inGroup => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e)) {
          tasks.putIfAbsent(e.jobId, 0)
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).foreach(j => tasks.put(j, tasks(j) + 1))
    })(body)
    tasks.toMap
  }

  /** Job id → (task count, RDD names) of each of its stages, for every
    * Spark job `body` starts on this thread. */
  def jobStages(body: => Unit): Map[Int, Seq[(Int, Seq[String])]] = {
    val jobs = scala.collection.concurrent.TrieMap[Int, Seq[(Int, Seq[String])]]()
    inJobGroup(inGroup => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e)) jobs.put(e.jobId,
          e.stageInfos.map(st => (st.numTasks, st.rddInfos.map(_.name))))
    })(body)
    jobs.toMap
  }

  /** Run `body` under a fresh job group with the listener attached; the
    * listener is built from a test for jobs of that group. */
  private def inJobGroup(
      listener: (SparkListenerJobStart => Boolean) => SparkListener)(
      body: => Unit): Unit = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val l = listener(e => Option(e.properties).exists(
      _.getProperty("spark.jobGroup.id") == group))
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
  }
}
