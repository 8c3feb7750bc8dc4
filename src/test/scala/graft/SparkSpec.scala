package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

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
    s
  }
  /** Root every spec writes its output under ([[graft.OutRoot]]). */
  val outRoot: String = OutRoot.dir
  /** Smallest driver fixture — smoke scale. */
  val sfTiny = "/root/testdata/sf0.001"
  /** Correctness scale (what the driver's DuckDB gate runs at). */
  val sfSmall = "/root/testdata/sf0.01"
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
    val sc = spark.sparkContext
    val group = s"jobTasks-${java.util.UUID.randomUUID()}"
    val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val tasks = scala.collection.concurrent.TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          tasks.putIfAbsent(e.jobId, 0)
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).foreach(j => tasks.put(j, tasks(j) + 1))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    tasks.toMap
  }
}
