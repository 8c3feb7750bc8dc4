package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal access bridge: `classic.ExpressionUtils` (the Column ↔ catalyst
  * Expression converters) is `private[sql]` in Spark 4, so custom native
  * expressions need one forwarding object inside the package — the usual
  * pattern for Catalyst extensions distributed outside Spark itself. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `Observation.getRowOrEmpty` is `private[sql]`; the blocking `get` is
    * the only public accessor, and a destination that never completes the
    * observed plan would hang it. */
  def observationRow(o: Observation): Option[Row] = o.getRowOrEmpty

  /** `SparkContext.conf` is `private[spark]`. Tests stage the static
    * `spark.sql.extensions` conf (which session construction reads from
    * the CONTEXT conf, exactly as spark-submit sets it) on an existing
    * context before building a session. */
  def setContextConf(sc: org.apache.spark.SparkContext,
                     key: String, value: String): Unit =
    sc.conf.set(key, value)
  def removeContextConf(sc: org.apache.spark.SparkContext,
                        key: String): Unit =
    sc.conf.remove(key)

  /** `SparkSession.artifactManager` is `private[sql]`: whether the session
    * holds session-scoped artifacts (added jars, Python includes, REPL
    * class files) that artifact isolation keeps apart from other
    * sessions. */
  def holdsArtifacts(spark: SparkSession): Boolean = {
    val am = spark.asInstanceOf[classic.SparkSession].artifactManager
    am.getAddedJars.nonEmpty || am.getPythonIncludes.nonEmpty ||
      artifact.GraftArtifacts.holdsClasses(am)
  }

  /** `JobArtifactSet` is `private[spark]`: the artifact session the
    * current thread's jobs run in on the executors (None: their shared
    * default session). */
  def jobArtifactSession(): Option[String] =
    org.apache.spark.JobArtifactSet.getCurrentJobArtifactState.map(_.uuid)

  /** `SparkContext.listenerBus` is `private[spark]`: block until every
    * posted event has reached its listeners, before reading what they
    * recorded. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `DataSourceStrategy.translateFilter` is `protected[sql]`: the
    * optimizer rules read literal conjuncts through Spark's own
    * data-source filter translator (top-level columns only). */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)

  /** `Dataset.ofRows` is `private[sql]`; optimizer rules that must
    * EXECUTE a sub-plan (the BloomJoins dim-key collect) wrap it here. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Install catalyst-expression functions on an EXISTING session —
    * `sessionState` is `private[sql]`. New sessions should use the public
    * `spark.sql.extensions=graft.GraftExtensions` hook instead. */
  def registerFunctions(
      spark: SparkSession,
      fns: Seq[(catalyst.FunctionIdentifier,
        catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (id, info, b) => registry.registerFunction(id, info, b) }
  }
}

package artifact {
  /** `ArtifactManager.classDir` is `protected[artifact]`. */
  private[sql] object GraftArtifacts {
    /** Whether the session's REPL class dir holds any class file. */
    def holdsClasses(am: ArtifactManager): Boolean = {
      val dir = am.classDir
      java.nio.file.Files.isDirectory(dir) && {
        val entries = java.nio.file.Files.list(dir)
        try entries.findAny().isPresent finally entries.close()
      }
    }
  }
}
