package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query is fully materialized through the `noop` datasource sink —
  * unlike `.count()`, a noop write consumes EVERY column, so projection /
  * expression work cannot be pruned away and the measured time is the
  * operator's real cost. Failures are recorded per query (value -1, message
  * in `errors`) and propagate to a nonzero exit so a crashed query can never
  * masquerade as a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v;k=v": extra session confs for paired config
    // A/B runs (guide §9 — config LAST, and only measured pairs decide
    // what gets promoted to a default). Unset in the driver's invocation,
    // so the official artifact never depends on it.
    val spark = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(builder) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb JVM/codegen warmup so the first measured query isn't charged
    // for JIT compilation of the whole scan/agg/join machinery
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.join(spark.read.parquet(s"$sfDir/orders.parquet"),
          li("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // dev convenience: SPARK_GRAFT_ONLY=q1,q2 restricts the run for triage
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // a typo'd name must not produce a fast-looking empty run with exit 0
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      errors(n) = "unknown query name (SPARK_GRAFT_ONLY typo?)"))
    // SPARK_GRAFT_REPEAT=n: run each entry n times, report the MIN — the
    // Criterion discipline. A single ambient-contention window (other
    // processes stealing the machine mid-run) then cannot poison the
    // recorded artifact: the min of n runs converges on the query's real
    // cost, while a mean or a single sample records the noise. DEFAULT 2:
    // two consecutive rounds' official artifacts were recorded inside
    // contention windows and had to be adjudicated away afterwards — the
    // ~2× bench-leg wall cost buys a trustworthy artifact every round.
    // Override to 1 for a quick triage run, 3 for a calm reference pair.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    val results = selected.map { case (name, fn) =>
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // 3-decimal seconds: 1 ms resolution sits far below the bench's
    // run-to-run noise floor and roughly halves the one-line JSON, which
    // downstream tooling stores as a bounded stdout tail
    def jnum(v: Double): String =
      if (v < 0) "-1.0"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // two cost classes (Queries.fixedCost): write-once builds / iterative
    // trainers vs per-row throughput — pair-trend analysis and the
    // baseline gate read them separately
    val fixedTotal = results.collect {
      case (k, v) if v >= 0 && Queries.fixedCost(k) => v }.sum
    val perRowTotal = total - fixedTotal
    val json = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","fixed_cost_total":${jnum(fixedTotal)},"per_row_total":${jnum(perRowTotal)},"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    // the identical JSON also lands in a file artifact: two consecutive
    // rounds' stdout-tail parses failed (the ~7 KB line started before the
    // stored tail's cap and sbt appended [warn]/[success] lines after it),
    // so the artifact is the recoverable copy
    try {
      val p = java.nio.file.Paths.get("target/bench_last.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    // printed AFTER spark.stop() so no late Spark output can land between
    // the JSON and the end of the program's own stdout
    println(json)
    // then one short summary line: a stdout tail of 2000 chars, sbt's
    // trailing lines included, still ends with a whole JSON line
    println(s"""{"metric":"total","value":${jnum(total)},"fixed_cost_total":${jnum(fixedTotal)},"per_row_total":${jnum(perRowTotal)},"entries":${results.size},"errors":${errors.size}}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
