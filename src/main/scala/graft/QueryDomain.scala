package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcEnvelope

/** Where catalog sinks and test fixtures write: the build's `target` dir,
  * passed to forked JVMs as `-Dgraft.outRoot` by build.sbt, else
  * `target` under the working directory. */
private[graft] object OutRoot {
  val dir: String = sys.props.getOrElse("graft.outRoot",
    new java.io.File("target").getAbsolutePath)
}

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
      true
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
