package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the plans of catalog entries to files — the optimization-round
  * evidence trail (`plans/r<N>/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [query1,query2,...]
  * With no query list, dumps every catalog entry. Env contract matches
  * graft.Bench (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`) so the dumped
  * plans are the ones the bench actually executes.
  *
  * Each file records what the entry EXECUTES: the optimized logical plan
  * and the formatted physical plan of every query the entry runs, in
  * completion order (writes, collects, checkpoints, stream micro-batches),
  * then the plan of the returned frame. An entry that ends in
  * `localCheckpoint()` returns a checkpoint scan, so the returned plan
  * alone hides what the optimizer rules did. The first line names the
  * output root ([[OutRoot]]) that sink paths in the plans sit under, for
  * `tools/plandiff.py` to normalise. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [q1,q2,...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def plans(qe: QueryExecution): String =
      s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n\n" +
        qe.explainString(FormattedMode)
    val names: Seq[String] =
      if (args.length >= 3) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq
    var failed = 0
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name"); failed += 1
        case Some(fn) =>
          try {
            GraftBridge.drainListeners(spark.sparkContext)
            ran.clear()
            val df = fn(spark, sfDir)
            GraftBridge.drainListeners(spark.sparkContext)
            val executed = ran.toArray(Array.empty[(String, QueryExecution)])
              .zipWithIndex.map { case ((f, qe), i) =>
                s"===== query ${i + 1}: $f =====\n${plans(qe)}\n"
              }
            val text = s"OutRoot: ${OutRoot.dir}\n\n" + executed.mkString +
              s"===== returned frame =====\n${plans(df.queryExecution)}"
            Files.write(outDir.resolve(s"${name}_$tag.txt"),
              text.getBytes("UTF-8"),
              StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
              failed += 1
          }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
