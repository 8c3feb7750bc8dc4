package graft.plans

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, ExprId, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.sources

import graft.sources.Manifests.normPath
import graft.sources.ZoneMap.{Bound, ColIn, ColRange, ZonePred}

/** The plan-shape layer under the three optimizer rules
  * ([[RewriteToSummary]], [[RewriteToMetaAggregate]],
  * [[RewriteToBloomPrunedJoin]]): one Project/Filter walk with alias
  * resolution, one equi-join parse, one literal-conjunct parse, one
  * path-keyed registry and one rule order. Conjunct splitting is
  * Catalyst's own `PredicateHelper.splitConjunctivePredicates`, literal
  * comparisons go through Spark's data-source filter translator. */
object PlanShapes extends PredicateHelper {

  /** A Project/Filter stack stripped down to the first other node.
    * `defs` maps every Alias id of the stripped Projects to its definition
    * over `leaf`'s output (renames map to an attribute); `filters` are the
    * stripped Filter conditions, inlined the same way, innermost first. */
  final case class Stripped(leaf: LogicalPlan, filters: List[Expression],
                            defs: Map[ExprId, Expression])

  /** Strip Projects of attributes and Aliases, and Filters. */
  // Not PhysicalOperation: it stops at a Project whose costly alias is referenced twice.
  def strip(plan: LogicalPlan): Stripped = walk(plan, throughFilters = true)

  /** [[strip]] for Projects only (between the nodes of a join tree). */
  def stripProjects(plan: LogicalPlan): Stripped =
    walk(plan, throughFilters = false)

  private def walk(plan: LogicalPlan, throughFilters: Boolean): Stripped = {
    // top-down collection, innermost layer first; resolution runs
    // bottom-up so each layer's definitions inline the ones below it
    @scala.annotation.tailrec
    def layers(p: LogicalPlan, acc: List[LogicalPlan])
        : (LogicalPlan, List[LogicalPlan]) = p match {
      case Project(exprs, child) if exprs.forall(e =>
          e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        layers(child, p :: acc)
      case Filter(_, child) if throughFilters => layers(child, p :: acc)
      case leaf => (leaf, acc)
    }
    val (leaf, innerFirst) = layers(plan, Nil)
    innerFirst.foldLeft(Stripped(leaf, Nil, Map.empty)) {
      case (s, Project(exprs, _)) =>
        s.copy(defs = s.defs ++ exprs.collect {
          case al: Alias => al.exprId -> inline(al.child, s.defs)
        })
      case (s, Filter(cond, _)) =>
        s.copy(filters = s.filters :+ inline(cond, s.defs))
      case (s, _) => s
    }
  }

  /** Substitute alias definitions for the attributes that name them. */
  def inline(e: Expression, defs: Map[ExprId, Expression]): Expression =
    if (defs.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if defs.contains(a.exprId) => defs(a.exprId)
    }

  /** Definitions collected above a stack, re-expressed over its leaf. */
  def compose(outer: Map[ExprId, Expression],
              inner: Map[ExprId, Expression]): Map[ExprId, Expression] =
    inner ++ outer.map { case (k, e) => k -> inline(e, inner) }

  /** The join condition as (left-side attr, right-side attr) pairs,
    * defined only when EVERY conjunct is a bare cross-side attribute
    * equality (a non-equi or single-side conjunct refuses the join). */
  def equiPairs(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[Seq[(AttributeReference, AttributeReference)]] = {
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.outputSet.contains(a) && right.outputSet.contains(b) =>
        Some((a, b))
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.outputSet.contains(b) && right.outputSet.contains(a) =>
        Some((b, a))
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) None else Some(pairs.flatten)
  }

  /** Each conjunct of `conds`, `defs` inlined, as a literal zone
    * predicate on an `output` column — None for any other conjunct. Only
    * conjuncts referencing `output` attributes (by exprId) parse, so a
    * filter above a rename never prunes through a same-named column.
    * Spark's data-source filter translator reads the comparison, each
    * attribute renamed to its ordinal first (it refuses dotted names).
    * NULL literals stay visible: each rule keeps its own NULL policy. */
  def zonePreds(conds: Seq[Expression], defs: Map[ExprId, Expression],
                output: Seq[Attribute]): Seq[Option[ZonePred]] = {
    val ordinal = output.map(_.exprId).zipWithIndex.toMap
    def name(a: String) = output(a.toInt).name
    conds.flatMap(splitConjunctivePredicates).map { e =>
      val inlined = inline(e, defs)
      if (!inlined.references.forall(a => ordinal.contains(a.exprId))) None
      else GraftBridge.translateFilter(inlined.transform {
          case a: AttributeReference => a.withName(ordinal(a.exprId).toString)
        }).collect {
        case sources.EqualTo(a, v) =>
          ColRange(name(a), Some(Bound(v, true)), Some(Bound(v, true)))
        case sources.GreaterThan(a, v) =>
          ColRange(name(a), Some(Bound(v, false)), None)
        case sources.GreaterThanOrEqual(a, v) =>
          ColRange(name(a), Some(Bound(v, true)), None)
        case sources.LessThan(a, v) =>
          ColRange(name(a), None, Some(Bound(v, false)))
        case sources.LessThanOrEqual(a, v) =>
          ColRange(name(a), None, Some(Bound(v, true)))
        case sources.In(a, vs) => ColIn(name(a), vs.toSeq)
        case sources.IsNotNull(a) => ColRange(name(a), None, None)
      }
    }
  }

  /** Entries registered per normalized path, unique per path by `subKey`:
    * re-registering a sub-key replaces that entry in place. */
  final class PathRegistry[A](subKey: A => String) {
    private val byPath =
      new java.util.concurrent.ConcurrentHashMap[String, List[A]]()

    def register(path: String, a: A): Unit =
      byPath.compute(normPath(path), (_, cur) =>
        Option(cur).getOrElse(Nil).filterNot(subKey(_) == subKey(a)) :+ a)
    /** Remove every entry of `path`, returning them. */
    def removeAll(path: String): List[A] =
      Option(byPath.remove(normPath(path))).getOrElse(Nil)
    /** Remove one entry, dropping the path when it was the last. */
    def remove(path: String, key: String): Unit =
      byPath.computeIfPresent(normPath(path), (_, cur) =>
        cur.filterNot(subKey(_) == key) match {
          case Nil => null
          case rest => rest
        })
    def get(path: String): List[A] =
      Option(byPath.get(normPath(path))).getOrElse(Nil)
    def clear(): Unit = byPath.clear()
    def isEmpty: Boolean = byPath.isEmpty
  }

  /** The rules in the order they must run. In the user-rule fixed point
    * the first matching rewrite wins: a query a MAINTAINED summary can
    * serve goes to [[RewriteToSummary]] first (the O(keys) state table
    * beats the files-sized manifest leg), and an aggregate the manifest
    * can serve must not first have its scan swapped by
    * [[RewriteToBloomPrunedJoin]] (pruned scan instead of no scan). */
  val rules: Seq[(Class[_], SparkSession => Rule[LogicalPlan])] = Seq(
    classOf[RewriteToSummary] -> (s => RewriteToSummary(s)),
    classOf[RewriteToMetaAggregate] -> (s => RewriteToMetaAggregate(s)),
    classOf[RewriteToBloomPrunedJoin] -> (s => RewriteToBloomPrunedJoin(s)))

  /** Install `rule` on an existing session (the extensions hook only runs
    * at construction) ahead of any installed rule that [[rules]] ranks
    * after it. Idempotent. */
  def install(spark: SparkSession, rule: Class[_]): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(rule.isInstance)) {
      val rank = rules.indexWhere(_._1 == rule)
      val later = rules.drop(rank + 1).map(_._1)
      val at = cur.indexWhere(r => later.exists(_.isInstance(r)))
      val (before, after) = cur.splitAt(if (at < 0) cur.length else at)
      spark.experimental.extraOptimizations =
        before ++ (rules(rank)._2(spark) +: after)
    }
  }

  def uninstall(spark: SparkSession, rule: Class[_]): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(rule.isInstance)
}
