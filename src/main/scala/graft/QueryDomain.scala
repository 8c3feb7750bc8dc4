package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.CdcEnvelope
import graft.plans.{BloomJoins, GraftCatalog, PlanShapes, SummaryViews}
import graft.streaming.{CdcPipeline, Destination, PipelineConfig}

/** Where catalog sinks and test fixtures write: the build's `target` dir,
  * passed to forked JVMs as `-Dgraft.outRoot` by build.sbt, else
  * `target` under the working directory. */
private[graft] object OutRoot {
  val dir: String = sys.props.getOrElse("graft.outRoot",
    new java.io.File("target").getAbsolutePath)
}

/** One parquet relation a plan reads: its root paths and listed files. */
private[graft] final case class Scan(roots: Seq[String], files: Seq[String])

/** The shared surface under the domain-sliced query catalog: the
  * registry the [[Queries]] traits write into, plus the helpers used
  * across more than one domain slice. Registration order = trait
  * linearization order = the pre-split single-file order. */
private[graft] trait QueryDomain {

  protected type QueryFn = (SparkSession, String) => DataFrame

  protected val reg = scala.collection.mutable.LinkedHashMap[String, QueryFn]()
  protected val sql = scala.collection.mutable.LinkedHashMap[String, String]()

  protected def register(name: String, oracle: Option[String])(fn: QueryFn): Unit = {
    reg(name) = fn
    oracle.foreach(o => sql(name) = o)
  }

  protected def envelope(s: SparkSession, dir: String): DataFrame =
    CdcEnvelope.fromEvents(Tables.events(s, dir))

  /** Decimal-routed deterministic sum of a double column. */
  protected def dsum(c: org.apache.spark.sql.Column, scale: Int = 4) =
    sum(c.cast(s"decimal(38,$scale)")).cast("double")

  protected val sinkRoot = s"${OutRoot.dir}/graft-out"

  /** The parquet relations `q`'s optimized plan reads, the manifest
    * sidecars (`_zonemap`, `_bloomindex`) excluded: what a rule-proof
    * entry's REQUIRE counts to show the rewrite fired. */
  protected def scans(q: DataFrame): Seq[Scan] =
    q.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r.relation }
      .collect { case f: HadoopFsRelation => f.location }
      .map(l => Scan(l.rootPaths.map(_.toString), l.inputFiles.toSeq))
      .filter(_.roots.exists(p =>
        !p.contains("/_zonemap") && !p.contains("/_bloomindex")))

  /** Data files `q` reads from relations rooted under a path containing
    * `tag`. Counts the file listing, not the root paths: a directory
    * scan the rule left alone has one root over all its files. */
  protected def filesRead(q: DataFrame, tag: String): Long =
    scans(q).filter(_.roots.exists(_.contains(tag))).map(_.files.length.toLong).sum

  /** Whether `q` reads state files (`<path>/state/__bucket=<b>/…`, the
    * files a summary's snapshot names) of a summary under a path
    * containing `tag`. */
  protected def readsState(q: DataFrame, tag: String): Boolean =
    scans(q).exists(_.files.exists(f =>
      f.contains(tag) && f.contains("/state/__bucket=")))

  /** Run `body` with one of [[PlanShapes.rules]] installed, on the state
    * a fresh session starts from: the in-memory BloomJoins/SummaryViews
    * registrations and the GraftCatalog discovery memory are dropped
    * before (a rewrite can only come from what `body` registers or what
    * discovery finds) and again after, with the rule uninstalled. */
  protected def withRule[T](s: SparkSession, rule: Class[_])(body: => T): T = {
    def forget(): Unit = {
      BloomJoins.clear(); SummaryViews.clear(); GraftCatalog.clearCache()
    }
    forget()
    PlanShapes.install(s, rule)
    try body
    finally { PlanShapes.uninstall(s, rule); forget() }
  }

  protected val streamDDL =
    "operation string, database string, collection string, " +
      "cluster_time timestamp, document_key string, full_document string, " +
      "resume_token string, event_id long, user_id long, value double"

  /** One AvailableNow run of the CdcPipeline over `src` into fresh
    * `<base>/checkpoint` and `<base>/out` dirs (`dest` builds the
    * destination over the out dir), awaited through [[awaitDrained]].
    * Returns the destination. */
  protected def drain[D <: Destination](s: SparkSession, base: String,
      src: String, queryName: String, statePartitions: Option[Int] = None,
      transform: DataFrame => DataFrame = identity)(dest: String => D): D = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    Seq("checkpoint", "out").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/$d"), true))
    val d = dest(s"$base/out")
    awaitDrained(CdcPipeline.start(s, PipelineConfig(sourceDir = src,
      schemaDDL = streamDDL, checkpointDir = s"$base/checkpoint",
      queryName = queryName, triggerInterval = None,
      statePartitions = statePartitions, transform = transform), d))
    d
  }

  /** One AvailableNow run of `frame` into the memory table `name` over a
    * fresh checkpoint `ckpt`, started through [[CdcPipeline.startQuery]]
    * with the given state confs and awaited through [[awaitDrained]].
    * Returns the table. */
  protected def drainToMemory(s: SparkSession, frame: Dataset[_], name: String,
      ckpt: String, outputMode: String,
      stateStoreProvider: Option[String] = None,
      statePartitions: Option[Int] = None): DataFrame = {
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(ckpt), true)
    awaitDrained(CdcPipeline.startQuery(s, stateStoreProvider, statePartitions) {
      frame.writeStream.queryName(name).format("memory").outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    })
    s.table(name)
  }

  /** Wait for an AvailableNow query to finish. One still running after
    * 300 s is stopped and fails the entry: reading its sink would hash a
    * half-written output. */
  protected def awaitDrained(q: StreamingQuery): Unit =
    if (!q.awaitTermination(300000)) {
      q.stop()
      throw new IllegalStateException(
        s"stream ${q.name} did not drain within 300 s")
    }

  /** The manifest sketch tier's contract against exact answers: row
    * count exact, KLL rank error within 2·1.65% of each nominal quantile
    * (plus `slack`), HLL relative error within 5% (lgK=12). `ranks` pairs
    * each nominal quantile with the exact rank of its estimate. */
  protected def sketchGate(what: String, n: Long, exactN: Long,
      ranks: Seq[(Double, Double)], du: Long, exactDu: Long,
      slack: Double = 0.0): Unit = {
    require(n == exactN, s"$what: n_rows must be exact: $n vs $exactN")
    ranks.foreach { case (q, r) =>
      require(math.abs(r - q) <= 0.033 + slack,
        s"$what: KLL rank contract violated: rank(p${(q * 100).round})=$r")
    }
    require(math.abs(du - exactDu).toDouble / exactDu <= 0.05,
      s"$what: HLL estimate off: $du vs $exactDu")
  }

  /** Gate a grouped sketch profile — columns `profKey`, n_rows,
    * value_p50, user_id_approx_distinct — against `rows` grouped by
    * `rowKey`. The group SET must match exactly (a dropped or invented
    * group would survive the per-group join), then every group passes
    * [[sketchGate]]. `tinyGroups` widens the rank bound by 1/n: a tiny
    * group's exact median is itself ceil(n/2)/n, up to one item rank off
    * 0.5. Returns the gated groups beside their exact distinct counts. */
  protected def gateGroups(what: String, prof: DataFrame, profKey: String,
      rows: DataFrame, rowKey: String, tinyGroups: Boolean): DataFrame = {
    val profKeys = prof.select(profKey).collect().map(_.getString(0)).toSet
    val exactKeys = rows.select(rowKey).distinct().collect()
      .map(_.getString(0)).toSet
    require(profKeys == exactKeys, s"$what: group sets differ — " +
      s"missing ${exactKeys -- profKeys}, spurious ${profKeys -- exactKeys}")
    val gated = rows.join(broadcast(prof), rows(rowKey) === col(profKey))
      .groupBy(col(profKey), col("n_rows"), col("value_p50"),
        col("user_id_approx_distinct"))
      .agg(count(lit(1)).as("n_exact"),
        countDistinct(col("user_id")).as("du_exact"),
        (count(when(col("value") <= col("value_p50"), 1)) /
          count(col("value"))).as("rank50"))
    val groups = gated.collect()
    require(groups.nonEmpty, s"$what: no groups came back")
    groups.foreach { r =>
      val nExact = r.getAs[Long]("n_exact")
      sketchGate(s"$what [${r.getAs[String](profKey)}]", r.getAs[Long]("n_rows"),
        nExact, Seq(0.5 -> r.getAs[Double]("rank50")),
        r.getAs[Long]("user_id_approx_distinct"), r.getAs[Long]("du_exact"),
        slack = if (tinyGroups) 1.0 / nExact else 0.0)
    }
    gated.select(col(profKey).as(rowKey), col("n_rows"), col("value_p50"),
      col("user_id_approx_distinct"), col("du_exact").as("exact_users"))
  }

  // shared verbatim by quality_drift_psi AND its streaming leg
  // stream_drift_psi: the incremental monitor must read exactly what the
  // batch monitor reads
  protected val driftPsiOracle =
    """WITH cur AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |mm AS (SELECT CAST(min(value) AS DOUBLE) mnv, CAST(max(value) AS DOUBLE) mxv,
      |              CAST(min(user_id) AS DOUBLE) mnu, CAST(max(user_id) AS DOUBLE) mxu
      |       FROM events),
      |bref AS (
      |  SELECT 'value' AS col_name,
      |    CASE WHEN e.value IS NULL THEN -1
      |         ELSE least(greatest(CAST(floor((CAST(e.value AS DOUBLE) - mm.mnv)
      |           / ((mm.mxv - mm.mnv) / 10)) AS INT), 0), 9) END AS bucket
      |  FROM events e, mm
      |  UNION ALL
      |  SELECT 'user_id',
      |    CASE WHEN e.user_id IS NULL THEN -1
      |         ELSE least(greatest(CAST(floor((CAST(e.user_id AS DOUBLE) - mm.mnu)
      |           / ((mm.mxu - mm.mnu) / 10)) AS INT), 0), 9) END
      |  FROM events e, mm),
      |bcur AS (
      |  SELECT 'value' AS col_name,
      |    CASE WHEN e.value IS NULL THEN -1
      |         ELSE least(greatest(CAST(floor((CAST(e.value AS DOUBLE) - mm.mnv)
      |           / ((mm.mxv - mm.mnv) / 10)) AS INT), 0), 9) END AS bucket
      |  FROM cur e, mm
      |  UNION ALL
      |  SELECT 'user_id',
      |    CASE WHEN e.user_id IS NULL THEN -1
      |         ELSE least(greatest(CAST(floor((CAST(e.user_id AS DOUBLE) - mm.mnu)
      |           / ((mm.mxu - mm.mnu) / 10)) AS INT), 0), 9) END
      |  FROM cur e, mm),
      |cr AS (SELECT col_name, bucket, count(*) AS n_ref FROM bref GROUP BY 1, 2),
      |cc AS (SELECT col_name, bucket, count(*) AS n_cur FROM bcur GROUP BY 1, 2),
      |j AS (SELECT coalesce(cr.col_name, cc.col_name) AS col_name,
      |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      |      FROM cr FULL OUTER JOIN cc
      |        ON cr.col_name = cc.col_name AND cr.bucket = cc.bucket),
      |t AS (SELECT col_name, n_ref, n_cur,
      |             CAST(sum(n_ref) OVER (PARTITION BY col_name) AS BIGINT) AS tr,
      |             CAST(sum(n_cur) OVER (PARTITION BY col_name) AS BIGINT) AS tc
      |      FROM j),
      |p AS (SELECT col_name, tr, tc,
      |             greatest(CAST(n_ref AS DOUBLE) / tr, 0.0001) AS pr,
      |             greatest(CAST(n_cur AS DOUBLE) / tc, 0.0001) AS pc FROM t)
      |SELECT col_name,
      |  round(CAST(sum(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(38,12)))
      |    AS DOUBLE), 6) AS psi,
      |  max(tr) AS n_ref, max(tc) AS n_cur
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stage the envelope feed as JSONL source files. The feed is a pure
    * function of the fixture, so a COMPLETE prior staging is reused — the
    * bench then times the PIPELINE, not the test harness re-serializing its
    * own input on every invocation. Returns true when this call actually
    * staged; the caller then appends any sentinel rows and MUST finish with
    * [[markStaged]]. Reuse is gated on the dedicated _STAGED marker (written
    * last), NOT on the json writer's own _SUCCESS — a crash between the
    * source write and the sentinel append would otherwise leave a poisoned
    * directory that every later run happily reuses, sentinel-less. */
  protected def stageStreamSource(s: SparkSession, dir: String, path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_STAGED"))) false
    else {
      CdcEnvelope.fromEvents(Tables.events(s, dir))
        .drop("update_description")
        .repartition(4).write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(path)
      orderPartFiles(s, path)
      true
    }
  }

  /** Give the `part-*` files under `path` distinct mtimes, ascending in
    * name order and all older than anything written later (sentinel
    * rows). A file source admits files oldest first, and one job writes
    * its parts with equal mtimes, so under `maxFilesPerTrigger` the split
    * into triggers would otherwise be arbitrary. */
  protected def orderPartFiles(s: SparkSession, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    if (parts.nonEmpty) {
      val t0 = parts.map(_.getModificationTime).min
      parts.zipWithIndex.foreach { case (st, i) =>
        fs.setTimes(st.getPath, t0 - (parts.length - i) * 1000L, -1L)
      }
    }
  }

  /** Seal a staging directory: written only after source + sentinels are all
    * on disk, so a half-staged directory is re-staged, never reused. */
  protected def markStaged(s: SparkSession, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_STAGED"), true).close()
  }

  /** ONE shared staged copy of the plain envelope feed per sf dir: every
    * entry whose source is the feed VERBATIM (no appended sentinel rows)
    * reads this directory instead of staging its own identical copy —
    * the first entry of a cold run stages once, the other four reuse it,
    * trimming pure fixed cost from every bench pair. Entries that append
    * sentinels keep private dirs (their content differs). Read-only after
    * [[markStaged]] seals it, so sharing across sequential entries (and
    * their streaming checkpoints, which key on their OWN checkpoint dirs)
    * is safe. */
  protected def sharedStreamSource(s: SparkSession, dir: String): String = {
    val src = s"$sinkRoot/stream-source-shared-${dir.replaceAll("[^0-9.]", "")}"
    if (stageStreamSource(s, dir, src)) markStaged(s, src)
    src
  }
}
