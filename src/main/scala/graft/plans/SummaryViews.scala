package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, DecimalDivideWithOverflowCheck, Divide, EqualTo, EvalMode, ExprId, Expression, GreaterThan, If, Literal, Multiply, NamedExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, LongType}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Sample}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.Manifests.normPath
import graft.streaming.BucketedStateTable

/** Materialized-view REWRITE — the optimizer tier on top of
  * [[graft.streaming.IncrementalAgg]]'s maintenance tier: a query that
  * aggregates the 100 TB base table is silently re-planned to read the
  * key-cardinality summary table instead. Maintenance without rewrite
  * only helps callers who KNOW the summary exists; with this
  * `Rule[LogicalPlan]` installed (`SparkSessionExtensions` /
  * `spark.experimental.extraOptimizations`), every dashboard `GROUP BY`
  * over the base — including `spark.sql` from users who never heard of
  * the state table — pays O(keys) instead of O(data). This is the
  * classic materialized-view answering problem restricted to the shapes
  * the summary can serve EXACTLY:
  *
  *  - grouping keys ⊆ the view's key columns (a coarser roll-up re-sums
  *    the summary — sums of sums are sums), or DETERMINISTIC grouping
  *    expressions whose references are all key columns
  *    (`date_trunc(key)`, `substring(key, …)`: the expression evaluates
  *    over the summary's key values to exactly its value over the base
  *    rows of that key, and every served aggregate composes across the
  *    key groups a coarser expression-group merges);
  *  - aggregates are plain `SUM(col)` over registered sum columns
  *    (no DISTINCT, no FILTER), `COUNT(*)`/`COUNT(1)` when the view
  *    maintains a count column (rewritten to `coalesce(SUM(n),0)`),
  *    `COUNT(col)` when the view maintains that column's non-null count,
  *    `AVG(col)` (double results rewritten to `SUM(sums)/SUM(counts)`;
  *    decimal results replicate Average's own decimal divide —
  *    [[RewriteToSummary.decimalAvg]]) when it maintains BOTH the sum
  *    and the non-null count, a `CAST` wrapped around any served
  *    aggregate (CollapseProject folds post-aggregation casts into the
  *    output list), and
  *    `MIN(col)`/`MAX(col)` when it maintains per-key extrema
  *    (append-only pipelines only — extrema are not delete-invertible),
  *    and `COUNT(DISTINCT k…)` over KEY columns when the view maintains
  *    a count column (every live summary row is one distinct key
  *    combination);
  *  - an optional deterministic `WHERE` whose references are all key
  *    columns (pushed onto the summary scan — key predicates commute
  *    with the roll-up);
  *  - anything else (expressions over non-key columns, DISTINCT/FILTER
  *    clauses on non-key aggregates, windows in between) leaves the plan
  *    untouched — the rule REFUSES rather than approximates.
  *
  * Liveness: when the view maintains a count column, the rewrite reads
  * only summary rows whose live count is POSITIVE. A group deleted down
  * to zero rows keeps a net-zero state row ([[graft.streaming
  * .IncrementalAgg.applyDelta]] never drops rows), and without the filter
  * that ghost would resurrect in the rewritten `GROUP BY` (and inflate
  * `COUNT(DISTINCT …)`) while the base query omits it. Filtering dead
  * rows is exact for every served shape — their net sums/counts are zero
  * — and for extrema the append-only contract means the filter never
  * bites. Register a count column on any view whose pipeline deletes.
  *
  * Staleness contract: the summary answers AS OF its last applied batch.
  * Register a view only where the [[graft.streaming.IncrementalAgg]]
  * pipeline owns every write to the base (the same contract any
  * incremental MV system imposes); results are then exact. For
  * float sums the rewrite changes accumulation ORDER (sums of partial
  * sums) — register integral/decimal sum columns where bit-exactness
  * matters.
  *
  * Output attribute identity: the rewritten Aggregate re-aliases summary
  * columns under the ORIGINAL output `exprId`s, so parent operators (and
  * the caller's `DataFrame`) never see the substitution.
  *
  * This is the SECOND of the library's three metadata tiers (README
  * "metadata tiers"): table-level count/min/max/null-count come cheaper
  * from the zone-map manifests ([[graft.sources.ZoneMap.metaProfile]] —
  * no maintenance pipeline needed), while approximate distincts,
  * quantiles and heavy hitters belong to the sketch tier
  * ([[graft.functions.Sketches]]) — neither composes from sums.
  */
object SummaryViews {

  /** `sumCols` are delta columns maintained by `IncrementalAgg` under the
    * SAME name as the base column they sum; `countCol` is a maintained
    * `SUM(1)` column enabling `COUNT(*)` rewrites; `nnCounts` maps a base
    * column name to a maintained per-column NON-NULL count column
    * (`SUM(IF(col IS NULL, 0, 1))`), enabling `COUNT(col)` rewrites and —
    * together with the column's entry in `sumCols` — `AVG(col)` as
    * `SUM(sums)/SUM(non-null counts)`; `minCols`/`maxCols` map a base
    * column to maintained per-key extrema columns, enabling
    * `MIN(col)`/`MAX(col)` rewrites (mins of mins are mins) — register
    * these ONLY for append-only pipelines
    * ([[graft.streaming.IncrementalAgg.applyDelta]]'s extrema caveat). */
  final case class View(basePath: String, statePath: String,
                        keyCols: Seq[String], sumCols: Set[String],
                        countCol: Option[String],
                        nnCounts: Map[String, String] = Map.empty,
                        minCols: Map[String, String] = Map.empty,
                        maxCols: Map[String, String] = Map.empty)

  /** Registrations per base path. A base may carry SEVERAL summaries
    * (a fine-keyed one for drill-downs, a coarse-keyed one for
    * dashboards); the rule picks, among the views that can serve a given
    * query exactly, the one with the FEWEST key columns — the smallest
    * summary to re-aggregate. Re-registering the same (basePath,
    * statePath) pair REPLACES that registration in place (the idempotent
    * "update my view's columns" path); a different statePath appends. */
  private val views =
    new PlanShapes.PathRegistry[View](v => normPath(v.statePath))

  def register(v: View): Unit = views.register(v.basePath, v)
  def unregister(basePath: String): Unit =
    views.removeAll(basePath).foreach(v => planCache.remove(normPath(v.statePath)))
  /** Remove ONE view of a multi-view base (and its plan-cache slot),
    * leaving sibling registrations intact; the single-argument form
    * remains the remove-ALL-views-of-this-base operation. */
  def unregister(basePath: String, statePath: String): Unit = {
    views.remove(basePath, normPath(statePath))
    planCache.remove(normPath(statePath))
  }
  def clear(): Unit = { views.clear(); planCache.clear() }
  def isEmpty: Boolean = views.isEmpty

  /** Candidate views for a scanned base, coarsest (fewest keys) first. */
  private[plans] def forPaths(paths: Seq[String]): Seq[View] =
    paths.flatMap(views.get).distinct.sortBy(_.keyCols.size)

  private[graft] def viewsFor(path: String): Seq[View] = views.get(path)

  /** Resolved summary-scan plan per registered view, keyed by state path and
    * stamped with [[BucketedStateTable.stateVersion]] at resolve time.
    * Optimization of the Nth query over a view costs a MEMORY version
    * compare, not a filesystem listing: the plan (and the `FileIndex`
    * inside its `HadoopFsRelation`) re-resolves only after an
    * `IncrementalAgg.applyDelta` fold actually rewrote state buckets.
    * Staleness contract (same one as the view registration itself): the
    * maintaining pipeline runs in THIS process; an out-of-process writer
    * does not bump the version, exactly as it could not keep the summary
    * current in the first place. */
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, LogicalPlan)]()

  /** Test spy: how many times a state dir was actually resolved (listed +
    * analyzed) rather than served from [[planCache]]. Atomic — concurrent
    * query optimizations increment it from multiple threads. */
  private[graft] val stateResolves =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The summary scan for `view`, from cache when current. Each USE gets
    * fresh expression ids (`MultiInstanceRelation.newInstance`) over the
    * shared `HadoopFsRelation`, so two rewrites landing in one plan tree
    * cannot collide on attribute identity while still sharing the cached
    * file listing. Only `MultiInstanceRelation` plans are cached at all —
    * anything else cannot mint fresh ids, so it is re-resolved per use
    * (fresh analysis = fresh exprIds) rather than served verbatim. */
  private[plans] def statePlan(spark: SparkSession,
                               view: View): Option[LogicalPlan] = {
    val dir = BucketedStateTable.stateDir(view.statePath)
    val key = normPath(view.statePath)
    val ver = BucketedStateTable.stateVersion(view.statePath)
    val base = Option(planCache.get(key)) match {
      case Some((v, p)) if v == ver && p.isInstanceOf[MultiInstanceRelation] =>
        Some(p)
      case _ =>
        val resolved =
          // state absent/unreadable: refuse (exact, via the base), retry
          // next query — but surface the cause on the metrics registry so
          // a CORRUPTED summary doesn't silently un-optimize every query
          try Some(spark.read.parquet(dir).queryExecution.analyzed)
          catch { case e: Exception =>
            BloomJoins.refused(view.statePath, "summary-state", e); None }
        resolved.foreach { p =>
          stateResolves.incrementAndGet()
          if (p.isInstanceOf[MultiInstanceRelation])
            planCache.put(key, (ver, p))
        }
        resolved
    }
    base.map {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case p => p
    }
  }

  /** Install on an existing session, in [[PlanShapes.rules]] order. */
  def install(spark: SparkSession): Unit =
    PlanShapes.install(spark, classOf[RewriteToSummary])

  def uninstall(spark: SparkSession): Unit =
    PlanShapes.uninstall(spark, classOf[RewriteToSummary])
}

/** The rewrite rule. Runs in the user-provided-optimizer batch (after
  * column pruning), so the guarded pattern is
  * `Aggregate → [Project|Filter]* → LogicalRelation(parquet base)`,
  * possibly under a tree of inner joins ([[Star]]). */
final case class RewriteToSummary(spark: SparkSession)
    extends Rule[LogicalPlan] {

  import SummaryViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    // no isEmpty fast-path: views may appear via catalog DISCOVERY the
    // first time a catalogued base is scanned (GraftCatalog)
    plan.transformUp {
      case agg: Aggregate =>
        starShape(agg.child).flatMap { star =>
          // candidates arrive coarsest-first ([[SummaryViews.forPaths]]):
          // the first view that serves the query exactly is the cheapest
          star.views.iterator.map(v => rewriteWith(agg, v, star))
            .collectFirst { case Some(p) => p }
        }.getOrElse(agg)
    }

  /** Strip Projects (attributes, plus Aliases — the analyzer extracts
    * grouping expressions into `… AS _groupingexpression#N` projections
    * below the Aggregate; their definitions are inlined so eligibility is
    * judged on the REAL expressions over base columns) and Filters, and
    * land on a registered base relation — anything else refuses. Filter
    * eligibility (key-only, deterministic) is judged per candidate view by
    * [[rewriteWith]]. */
  private def unwrap(plan: LogicalPlan)
      : Option[(Seq[View], List[Expression], Map[ExprId, Expression])] = {
    val s = PlanShapes.strip(plan)
    val cands = s.leaf match {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          val paths = fs.location.rootPaths.map(_.toString)
          GraftCatalog.ensureDiscovered(spark, paths)
          forPaths(paths)
        case _ => Nil
      }
      case _ => Nil
    }
    if (cands.nonEmpty) Some((cands, s.filters, s.defs)) else None
  }

  /** `AVG(decimal)` served from maintained sums and non-null counts,
    * replicating Spark's own decimal Average formula EXPRESSION FOR
    * EXPRESSION (Average.evaluateExpression for DecimalType):
    * `If(count = 0, null, DecimalDivideWithOverflowCheck(sum,
    * count.cast(decimal(20,0)), resultType, nullOnOverflow))` — identical
    * operand decimal types, identical divide node, identical overflow
    * mode, so the rewritten value is bit-equal to the base query's
    * whenever the re-summed total fits the original sum type (the same
    * condition as the plain SUM rewrite's cast-back). `childType` is the
    * base column's decimal(p, s): Average sums in decimal(p+10, s) and
    * divides into decimal(p+4, s+4) = `ae.dataType`. */
  private[plans] def decimalAvg(ae: AggregateExpression, childType: DecimalType,
                                em: EvalMode.Value, sumCol: Attribute,
                                nnCol: Attribute): Expression = {
    // DecimalType.bounded(p + 10, s) — private[sql], spelled out
    val sumType = DecimalType(math.min(childType.precision + 10, 38),
      math.min(childType.scale, 38))
    val sumE: Expression = AggregateExpression(
      Sum(sumCol), ae.mode, isDistinct = false, None,
      NamedExpression.newExprId)
    val sumTotal = if (sumE.dataType == sumType) sumE else Cast(sumE, sumType)
    val cntE: Expression = AggregateExpression(
      Sum(nnCol), ae.mode, isDistinct = false, None,
      NamedExpression.newExprId)
    val cntLong = if (cntE.dataType == LongType) cntE else Cast(cntE, LongType)
    If(EqualTo(cntLong, Literal(0L)),
      Literal(null, ae.dataType),
      DecimalDivideWithOverflowCheck(
        sumTotal, Cast(cntLong, DecimalType(20, 0)),
        ae.dataType.asInstanceOf[DecimalType], null,
        nullOnOverflow = em != EvalMode.ANSI))
  }

  /** Serve `f(agg₁, …, aggₙ)` — an output expression whose every
    * aggregate call is servable and whose parts OUTSIDE the aggregates
    * are deterministic and reference-free (casts, literals, arithmetic):
    * f over the served values then equals f over the base values, because
    * each served aggregate is value-equal. Covers `CAST(agg AS t)`
    * (CollapseProject folds post-aggregation projections into the output
    * list), the DecimalAggregates shape
    * `cast((avg(UnscaledValue(d)) / 10^s) as decimal(p+4, s+4))`, and
    * manual agg arithmetic like `sum(x) / count(*)`. A bare column
    * reference outside an aggregate refuses (grouping shapes matched
    * earlier; anything else is genuinely row-level). */
  private def serveWrapped(e: Expression,
                           serveAgg: AggregateExpression => Option[Expression])
      : Option[Expression] = e match {
    case ae: AggregateExpression => serveAgg(ae)
    case _: AttributeReference => None
    case leaf if leaf.children.isEmpty =>
      if (leaf.deterministic) Some(leaf) else None
    case other if other.deterministic =>
      val kids = other.children.map(k => serveWrapped(k, serveAgg))
      if (kids.exists(_.isEmpty)) None
      else Some(other.withNewChildren(kids.map(_.get)))
    case _ => None
  }

  /** The [[org.apache.spark.sql.catalyst.optimizer.DecimalAggregates]]
    * Average shape `avg(UnscaledValue(d))` (double result; the `/10^s`
    * and the cast back to decimal live in the wrapper [[serveWrapped]]
    * preserves) served from state: the unscaled total is the decimal
    * total ·10^s — computed decimal-EXACTLY, then cast (a double of an
    * integer < 2^53 is exact), then divided by the non-null count in the
    * same double arithmetic as the rewritten base plan. Value-equal to
    * the base plan whenever ITS double sum of unscaled longs is exact —
    * precisely the regime DecimalAggregates itself relies on. */
  private def unscaledAvg(ae: AggregateExpression, dt: DecimalType,
                          sumCol: Attribute, nnCol: Attribute): Expression = {
    val sumE: Expression = AggregateExpression(Sum(sumCol), ae.mode,
      isDistinct = false, None, NamedExpression.newExprId)
    val cntE: Expression = AggregateExpression(Sum(nnCol), ae.mode,
      isDistinct = false, None, NamedExpression.newExprId)
    Divide(Cast(unscaledTotal(sumE, dt), DoubleType), Cast(cntE, DoubleType))
  }

  /** The DecimalAggregates Sum shape `sum(UnscaledValue(d))` (LongType;
    * the `MakeDecimal` wrapper is preserved by [[serveWrapped]]) served
    * from state — exact inside the ≤18-digit regime the base rewrite
    * itself guarantees (it only fires when p+10 ≤ 18). */
  private def unscaledSum(ae: AggregateExpression, dt: DecimalType,
                          sumCol: Attribute): Expression = {
    val sumE: Expression = AggregateExpression(Sum(sumCol), ae.mode,
      isDistinct = false, None, NamedExpression.newExprId)
    Cast(unscaledTotal(sumE, dt), LongType)
  }

  /** `total · 10^scale` as an exact integer-valued decimal. */
  private def unscaledTotal(sumE: Expression, dt: DecimalType): Expression =
    if (dt.scale == 0) sumE
    else Multiply(sumE,
      Literal(Decimal(BigDecimal(10).pow(dt.scale)),
        DecimalType(dt.scale + 1, 0)))

  /** `groupBy(expr.as("x"))` leaves the Alias inside groupingExpressions;
    * SQL `GROUP BY expr` does not — compare modulo the outer alias. */
  private def stripAlias(e: Expression): Expression = e match {
    case Alias(child, _) => child
    case other => other
  }

  /** A (possibly NESTED) Inner-join tree in which exactly one leg unwraps
    * to a registered base: `views`/`factFilters`/`factDefs` describe that
    * leg, `dimOut` unions every other leg's output, `conds` collects every
    * join condition and mid-tree filter on the path, and
    * `rebuild(newFact, subst)` rebuilds the tree with the fact leg
    * replaced and each condition mapped through `subst` (the fact attrs it
    * references move to the summary scan). Multi-dim stars —
    * `fact ⋈ dim1 ⋈ dim2 …`, the real dashboard shape — fall out of the
    * recursion; a single join is the depth-1 instance and a plain
    * `Aggregate → [Project|Filter]* → base` the depth-0 one (no dims). */
  private final case class Star(
      views: Seq[SummaryViews.View], factFilters: List[Expression],
      factDefs: Map[ExprId, Expression],
      dimOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      conds: List[Expression],
      rebuild: (LogicalPlan, Expression => Expression) => LogicalPlan)

  private def starShape(plan: LogicalPlan): Option[Star] =
    unwrap(plan) match {
      case Some((views, ff, fd)) =>
        Some(Star(views, ff, fd,
          org.apache.spark.sql.catalyst.expressions.AttributeSet.empty,
          Nil, (nf, _) => nf))
      case None => plan match {
        case jn: Join if jn.joinType == Inner =>
          starShape(jn.left).filter(_ => dimStable(jn.right)).map { s =>
            s.copy(dimOut = s.dimOut ++ jn.right.outputSet,
              conds = jn.condition.toList ::: s.conds,
              rebuild = (nf, subst) => jn.copy(
                left = s.rebuild(nf, subst),
                condition = jn.condition.map(subst)))
          }.orElse(
            starShape(jn.right).filter(_ => dimStable(jn.left)).map { s =>
              s.copy(dimOut = s.dimOut ++ jn.left.outputSet,
                conds = jn.condition.toList ::: s.conds,
                rebuild = (nf, subst) => jn.copy(
                  right = s.rebuild(nf, subst),
                  condition = jn.condition.map(subst)))
            })
        case Filter(cond, child) =>
          // a mid-tree filter (mixed-side predicates the optimizer could
          // not push into a join condition): validated like a condition,
          // rebuilt in place over the substituted subtree
          starShape(child).map { s =>
            s.copy(conds = cond :: s.conds,
              rebuild = (nf, subst) =>
                Filter(subst(cond), s.rebuild(nf, subst)))
          }
        case _ =>
          // column pruning interposes attribute/rename Projects BETWEEN
          // the join nodes of a multi-dim star; the aliases live on as
          // defs and the Projects themselves are DROPPED from the rebuilt
          // tree (pure pruning — physical planning re-derives required
          // columns from the new operators' references)
          val between = PlanShapes.stripProjects(plan)
          if (between.leaf eq plan) None
          else starShape(between.leaf).map(s =>
            s.copy(factDefs = PlanShapes.compose(between.defs, s.factDefs)))
      }
    }

  /** Row-set reproducibility for the untouched dim side: a dim whose row
    * set is run-dependent makes the parity claim meaningless. */
  private def dimStable(plan: LogicalPlan): Boolean =
    !plan.exists {
      case _: Sample | _: GlobalLimit | _: LocalLimit => true
      case p => p.expressions.exists(!_.deterministic)
    }

  /** Serve `agg` over `star` from `view`'s summary, or refuse. With no
    * dims this is the plain roll-up; with dims, the star-schema rewrite:
    * the fact leg is replaced by the summary scan and every dim subtree
    * is kept verbatim.
    *
    * Exactness argument. Eligibility requires every FACT-side reference
    * in every join condition and filter on the path and in the grouping
    * expressions to resolve to view KEY columns — the query then sees a
    * fact row only through its key vector κ(f): all rows of one key group
    * pass or fail the joins and filters together and land in the same
    * output group. A deterministic grouping expression over key columns
    * (`date_trunc(key)`) evaluates over the summary's key VALUES to
    * exactly its value over the base rows of that key, and every served
    * aggregate composes across the key groups a coarser group merges
    * (non-deterministic groupings — rand() buckets — would bucket GROUPS
    * instead of rows, and refuse). Each live summary row stands for
    * exactly one key group, carrying that group's sums/counts/extrema, so
    * fact-side SUM / COUNT(*) / COUNT(col) / MIN / MAX / AVG commute
    * through the joins REGARDLESS of dim-side multiplicity — N:M
    * included: a key group matching m dim rows contributes its whole
    * aggregate to each of the m (key, dim-row) pairs, identically on both
    * sides. (No N:1 restriction is needed; the restriction that IS needed
    * is on the aggregate ARGUMENTS, below.)
    *
    * Refusals: aggregates over DIM columns (a dim value weighs once per
    * FACT ROW originally but once per SUMMARY ROW after the rewrite —
    * multiplicities differ), non-inner joins (outer sides fabricate or
    * keep rows the key argument cannot see), and dims whose ROW SET is
    * run-dependent (non-deterministic expressions, Sample, Limit — the
    * parity claim quantifies over both plans). */
  private def rewriteWith(agg: Aggregate, view: View, star: Star)
      : Option[LogicalPlan] = {
    val dimOut = star.dimOut
    val defs = star.factDefs
    /** Substitute extracted-projection aliases with their definitions so
      * every eligibility check and every rewritten expression sees base
      * columns only. */
    def inline(e: Expression): Expression = PlanShapes.inline(e, defs)
    /** Post-inline reference discipline: every reference is either a dim
      * attribute (kept verbatim) or a fact BASE attribute naming a view
      * key column. */
    def refsOk(e: Expression): Boolean = e.references.forall(a =>
      dimOut.contains(a) || view.keyCols.contains(a.name))
    def exprOk(e: Expression): Boolean = {
      val inl = inline(e)
      inl.deterministic && refsOk(inl)
    }
    /** The BASE relation column an aggregate-argument attribute denotes,
      * inlined through extracted-projection aliases: a bare relation
      * attribute (possibly RENAMED — `select(col("x").as("v"))`) resolves
      * to the underlying attribute and every view lookup below uses ITS
      * name; a COMPUTED alias (`(col("v") * 2).as("v")` surviving
      * CollapseProject) resolves to None and the aggregate REFUSES — the
      * summary's maintained column aggregates the raw base column, not the
      * caller's computation, and matching by surface name alone would
      * silently return the wrong sums. A DIM attribute refuses too
      * (dim-side aggregates do not commute). */
    def factArg(c: AttributeReference): Option[AttributeReference] =
      inline(c) match {
        case a: AttributeReference if !dimOut.contains(a) => Some(a)
        case _ => None
      }

    val condOk = star.conds.forall(exprOk)
    val factFiltersOk = star.factFilters.forall { f =>
      val inl = inline(f)
      // fact-leg filters cannot reference the dim: key-only AND
      // deterministic (a rand() < 0.5 pushed onto the summary would
      // sample GROUPS instead of base rows)
      inl.deterministic &&
        inl.references.forall(a => view.keyCols.contains(a.name))
    }
    val groupings = agg.groupingExpressions.map(inline)
    val groupingsOk = groupings.forall(g => g.deterministic && refsOk(g))
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference if !defs.contains(a.exprId) => a
    }

    // the summary side: resolved parquet scan of the state dir, from the
    // version-stamped plan cache (the bucket/guard bookkeeping columns
    // prune away — nothing below references them)
    val stateOpt =
      if (!condOk || !factFiltersOk || !groupingsOk) None
      else SummaryViews.statePlan(spark, view)
    stateOpt.flatMap { state =>
      val stateAttr: Map[String, Attribute] =
        state.output.map(a => a.name -> a).toMap
      val covered =
        (view.keyCols ++ view.sumCols ++ view.countCol ++
          view.nnCounts.values ++ view.minCols.values ++
          view.maxCols.values).forall(stateAttr.contains)
      if (!covered) None
      else {
        /** Re-root an INLINED expression onto the rewritten plan: fact
          * base attributes (guaranteed key columns by [[refsOk]]) move to
          * the summary scan, dim attributes stay themselves. */
        def reRoot(e: Expression): Expression = e.transform {
          case a: AttributeReference if !dimOut.contains(a) =>
            stateAttr(a.name)
        }
        /** Serve one aggregate call from the summary, or refuse. Shared
          * by the bare `Alias(agg)` shape and the `Alias(Cast(agg))` shape
          * (CollapseProject folds a post-aggregation cast into the
          * Aggregate's own output list, so `CAST(SUM(x) AS …)` arrives
          * here as one alias). */
        def serveAgg(ae: AggregateExpression): Option[Expression] =
          ae match {
            case AggregateExpression(
                  Sum(c: AttributeReference, _), _, false, None, _)
                if factArg(c).exists(b => view.sumCols.contains(b.name)) =>
              val b = factArg(c).get
              // re-summing the summary can WIDEN the type (decimal Sum
              // adds 10 precision again: state holds decimal(p+10,s), Sum
              // over it yields decimal(p+20,s)); parents recorded the
              // ORIGINAL type for this exprId, so cast back. The cast is
              // exact whenever the true total fits the original Sum type
              // — the same condition under which the un-rewritten query
              // succeeds.
              val reSum: Expression =
                ae.copy(aggregateFunction = Sum(stateAttr(b.name)))
              Some(if (reSum.dataType == ae.dataType) reSum
                else Cast(reSum, ae.dataType))
            case AggregateExpression(
                  Count(Seq(Literal(_, _))), _, false, None, _)
                if view.countCol.isDefined =>
              // COUNT(*) = Σ over matching (key, dim-row) pairs of the key
              // group's row count
              val n = stateAttr(view.countCol.get)
              val summed: Expression = ae.copy(aggregateFunction = Sum(n))
              // post-analysis plans get no implicit coercion: pin the
              // summed count back to COUNT's own LongType
              val typed =
                if (summed.dataType == ae.dataType) summed
                else Cast(summed, ae.dataType)
              Some(Coalesce(Seq(typed, Literal(0L))))
            case AggregateExpression(
                  Count(Seq(c: AttributeReference)), _, false, None, _)
                if factArg(c).exists(b => view.nnCounts.contains(b.name)) =>
              // COUNT(col) = total of the maintained per-column non-null
              // count; a group whose every value was null holds nn = 0
              // and re-sums to 0, matching COUNT's never-null contract
              val nn = stateAttr(view.nnCounts(factArg(c).get.name))
              val summed: Expression = ae.copy(aggregateFunction = Sum(nn))
              val typed =
                if (summed.dataType == ae.dataType) summed
                else Cast(summed, ae.dataType)
              Some(Coalesce(Seq(typed, Literal(0L))))
            case AggregateExpression(
                  Min(c: AttributeReference), _, false, None, _)
                if factArg(c).exists(b => view.minCols.contains(b.name)) =>
              // min of per-key mins; null state cells (all-null groups)
              // skip, exactly as Min over the base skips null rows. No
              // widening — Min keeps its input type.
              Some(ae.copy(aggregateFunction = Min(
                stateAttr(view.minCols(factArg(c).get.name)))))
            case AggregateExpression(
                  Max(c: AttributeReference), _, false, None, _)
                if factArg(c).exists(b => view.maxCols.contains(b.name)) =>
              Some(ae.copy(aggregateFunction = Max(
                stateAttr(view.maxCols(factArg(c).get.name)))))
            case AggregateExpression(
                  Average(c: AttributeReference, _), _, false, None, _)
                if factArg(c).exists(b => view.sumCols.contains(b.name) &&
                    view.nnCounts.contains(b.name)) &&
                  ae.dataType == DoubleType =>
              val b = factArg(c).get
              val sumE: Expression = AggregateExpression(
                Sum(stateAttr(b.name)), ae.mode, isDistinct = false,
                None, NamedExpression.newExprId)
              val cntE: Expression = AggregateExpression(
                Sum(stateAttr(view.nnCounts(b.name))), ae.mode,
                isDistinct = false, None, NamedExpression.newExprId)
              Some(Divide(Cast(sumE, DoubleType), Cast(cntE, DoubleType)))
            case AggregateExpression(
                  Average(c: AttributeReference, em), _, false, None, _)
                if factArg(c).exists(b => view.sumCols.contains(b.name) &&
                    view.nnCounts.contains(b.name)) &&
                  ae.dataType.isInstanceOf[DecimalType] &&
                  c.dataType.isInstanceOf[DecimalType] =>
              // decimal AVG commutes through the star exactly like the
              // other fact-side aggregates (the key-vector argument is
              // type-blind); the formula replication is [[decimalAvg]]
              val b = factArg(c).get
              Some(decimalAvg(ae, c.dataType.asInstanceOf[DecimalType], em,
                stateAttr(b.name), stateAttr(view.nnCounts(b.name))))
            case AggregateExpression(
                  Average(u: UnscaledValue, _), _, false, None, _)
                if u.child.isInstanceOf[AttributeReference] && {
                  val c = u.child.asInstanceOf[AttributeReference]
                  c.dataType.isInstanceOf[DecimalType] &&
                    factArg(c).exists(b => view.sumCols.contains(b.name) &&
                      view.nnCounts.contains(b.name))
                } =>
              val c = u.child.asInstanceOf[AttributeReference]
              val b = factArg(c).get
              Some(unscaledAvg(ae, c.dataType.asInstanceOf[DecimalType],
                stateAttr(b.name), stateAttr(view.nnCounts(b.name))))
            case AggregateExpression(
                  Sum(u: UnscaledValue, _), _, false, None, _)
                if u.child.isInstanceOf[AttributeReference] && {
                  val c = u.child.asInstanceOf[AttributeReference]
                  c.dataType.isInstanceOf[DecimalType] &&
                    factArg(c).exists(b => view.sumCols.contains(b.name))
                } =>
              val c = u.child.asInstanceOf[AttributeReference]
              val b = factArg(c).get
              Some(unscaledSum(ae, c.dataType.asInstanceOf[DecimalType],
                stateAttr(b.name)))
            case AggregateExpression(Count(cs), _, true, None, _)
                if view.countCol.isDefined && cs.nonEmpty &&
                  cs.forall { c =>
                    val inl = inline(c); inl.deterministic && refsOk(inl)
                  } =>
              // COUNT(DISTINCT f(keys ∪ dim cols)): DISTINCT collapses
              // multiplicities, and under the liveness filter the SET of
              // (key-group, dim-row) pairs is identical on both sides —
              // each live summary row stands for exactly one key group.
              // f deterministic ⇒ identical null-skipping too. Fact
              // NON-key references fail refsOk and refuse (their distinct
              // values are genuinely row-level).
              val mappedArgs: Seq[Expression] = cs.map(c => reRoot(inline(c)))
              Some(ae.copy(aggregateFunction = Count(mappedArgs)))
            case _ => None
          }
        val mapped: Seq[Option[NamedExpression]] =
          agg.aggregateExpressions.map {
            case a: AttributeReference if dimOut.contains(a) &&
                groupAttrs.exists(_.exprId == a.exprId) =>
              // dim-side grouping attribute: the dim subtree is untouched,
              // the attribute stays valid as-is
              Some(a)
            case a: AttributeReference
                if groupAttrs.exists(_.exprId == a.exprId) =>
              // fact-side key grouping attribute
              Some(Alias(stateAttr(a.name), a.name)(exprId = a.exprId))
            case a: AttributeReference
                if defs.contains(a.exprId) &&
                  groupings.exists(_.semanticEquals(inline(a))) =>
              // output referencing an EXTRACTED grouping expression by id
              // (the analyzer's _groupingexpression#N projection shape)
              Some(Alias(reRoot(inline(a)), a.name)(exprId = a.exprId))
            case a: AttributeReference
                if agg.groupingExpressions.exists {
                  case al: Alias => al.exprId == a.exprId
                  case _ => false
                } =>
              // groupBy(expr.as("x")) shape
              val src = agg.groupingExpressions.collectFirst {
                case al: Alias if al.exprId == a.exprId => inline(al.child)
              }.get
              Some(Alias(reRoot(src), a.name)(exprId = a.exprId))
            case al @ Alias(e, name)
                if !e.exists(_.isInstanceOf[AggregateExpression]) &&
                  groupings.exists(g =>
                    stripAlias(g).semanticEquals(inline(e))) =>
              // grouping EXPRESSION surfacing in the output
              Some(Alias(reRoot(inline(e)), name)(exprId = al.exprId))
            case al @ Alias(e, name)
                if e.exists(_.isInstanceOf[AggregateExpression]) =>
              serveWrapped(e, serveAgg).map(se =>
                Alias(se, name)(exprId = al.exprId))
            case _ => None
          }
        // every output expression must map exactly, preserving both the
        // name and the exprId — parents never see the substitution
        if (mapped.exists(_.isEmpty)) None
        else {
          // liveness: only summary rows with base rows still behind them
          // (see the object scaladoc — dead groups must not resurrect;
          // exact for every shape since net-zero rows contribute zero)
          val liveness: Option[Expression] = view.countCol.map { nc =>
            GreaterThan(stateAttr(nc),
              Cast(Literal(0), stateAttr(nc).dataType))
          }
          val factScan = (star.factFilters.map(f => reRoot(inline(f))) ++
              liveness)
            .foldLeft(state)((p, c) => Filter(c, p))
          // rebuild the join TREE around the summary scan, every node's
          // condition re-rooted (fact key refs → summary attrs, dim refs
          // untouched)
          val subst: Expression => Expression = e => reRoot(inline(e))
          Some(Aggregate(groupings.map(reRoot), mapped.map(_.get),
            star.rebuild(factScan, subst)))
        }
      }
    }
  }
}
