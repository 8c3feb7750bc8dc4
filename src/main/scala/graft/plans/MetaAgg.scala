package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Ceil, EqualTo, ExprId, Expression, Floor, Literal, NamedExpression, Substring, TruncDate, TruncTimestamp, Year}
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Manifests.normPath
import graft.sources.ZoneMap
import graft.sources.ZoneMap.{ColIn, ColRange, ZonePred}

/** Manifest-served aggregates — the optimizer tier over
  * [[graft.sources.ZoneMap.metaProfile]], and the third rewrite rule in
  * the family ([[SummaryViews]] serves MAINTAINED summaries,
  * [[RewriteToBloomPrunedJoin]] prunes scans, this rule serves whole
  * aggregates from the layout's own statistics): a plain
  * `SELECT count(*) / count(c) / min(c) / max(c) / sum(c) FROM layout
  * [WHERE range-conjuncts-on-zoned-columns]` over a zone-registered
  * parquet layout is answered from the `_zonemap` manifest for every file
  * the predicate FULLY covers, scanning only the boundary files it
  * partially covers — the small-materialized-aggregates design (Moerkotte,
  * VLDB '98), the same trick every lakehouse table format plays with its
  * file-statistics tier, here on plain parquet. At 100 TB the win is
  * structural: a dashboard `count(*) WHERE day BETWEEN …` on a
  * range-clustered layout reads a KB manifest plus the two boundary
  * files instead of the terabytes between them; with no predicate at all
  * the data files are never opened.
  *
  * Exactness argument, leg by leg. The manifest holds, per data file,
  * `n_rows` and per indexed column `min / max / null-count` (and, for
  * exact-associative types, `sum`). A file is COVERED by a conjunct
  * `c (cmp) lit` iff its zone certifies every row passes: the zone
  * interval lies inside the predicate interval (strictness respected)
  * and the file has ZERO nulls in `c` (a null row fails every
  * comparison). For covered files the per-file statistics ARE the
  * aggregate of their passing rows (all rows pass), and the four
  * statistics compose losslessly: count = Σ n_rows, count(c) =
  * Σ (n_rows − nulls), min = min of mins, max = max of maxes, sum =
  * Σ sums. Files the predicate PARTIALLY covers (zone intersects but is
  * not contained, null-free not certified) are scanned with the ORIGINAL
  * filter re-applied — row-exact by construction. Files the zone
  * EXCLUDES hold no passing rows (range comparisons are null-rejecting,
  * so all-null zones are excluded too). The two legs union and a final
  * combine aggregates them (counts coalesce to 0 on the all-empty edge —
  * `count` over an empty table is 0, `min/max/sum` are NULL).
  *
  * SUM is served only for integral and decimal columns — exactly the
  * types where re-aggregating per-file sums equals the row sum in any
  * order (long arithmetic is associative, wraparound included; decimal
  * is exact, and the widened re-aggregate casts back to the original sum
  * type losslessly or overflows exactly where the direct sum would).
  * Float/double sums are order-dependent — the manifest doesn't even
  * record them ([[graft.sources.ZoneMap.sumable]]), and the rule refuses.
  * Composition across OVERFLOW MODES is guarded: the manifest records
  * each build session's mode (`built_ansi`), and an integral SUM is
  * served to an ANSI-mode query only when every row was built under ANSI
  * (a LEGACY build may have wrapped silently inside a file — the direct
  * ANSI scan would error where the served total would not). LEGACY
  * queries compose over any build mode; decimal sums self-police (a
  * LEGACY decimal overflow nulls the per-file sum, which the sum-validity
  * probe refuses).
  * AVG is never served: Spark's Average accumulates doubles in row
  * order; recomposing it from exact sum/count would be a DIFFERENT
  * double. Users who want the metadata speed spell `sum(c)/count(c)`.
  *
  * Staleness discipline: the rule compares the relation's OWN file
  * listing against the manifest. Files the listing has but the manifest
  * doesn't (appended since the last [[graft.sources.ZoneMap.update]])
  * are scanned raw in the partial leg — fresh data is never missed; a
  * manifest row whose file vanished from the listing means the manifest
  * is STALE (a rewrite raced it) and the whole rule refuses. Parquet
  * part files are immutable-by-name (every writer mints fresh names), so
  * listing equality certifies statistic validity — the same contract
  * Spark's own FileIndex caching and every manifest tier here relies on.
  * The manifest itself is read as a PINNED SNAPSHOT: one part-file list
  * probed per manifest version, and every plan-time probe plus the
  * run-time manifest leg read exactly those files. The two legs of the
  * rewritten plan therefore split one consistent file universe — an
  * out-of-process append + update landing between probes goes entirely
  * to the raw-scan leg (its fresh manifest rows are invisible to the
  * pinned read), never to both.
  *
  * GROUP BY serves when the layout is CLUSTERED by the group columns: a
  * file HOMOGENEOUS in every one of them (zone min == max with zero
  * nulls, or all-NULL — the SQL NULL group) contributes its statistics
  * to a single output group straight from its manifest row; mixed files
  * scan, group and fold in. KEY-DERIVED groupings serve too: for a
  * deterministic expression `f` of exactly one zone column, a file
  * homogeneous in `c` is homogeneous in `f(c)` and the group value is
  * `f` evaluated over the manifest's single value — and when `f` is
  * certified MONOTONE (date/time truncation, year, prefix substring,
  * floor/ceil, order-preserving casts — [[RewriteToMetaAggregate]]'s
  * whitelist) the test widens to `f(min) == f(max)`: the dashboard
  * `GROUP BY date_trunc('month', day)` over a day-clustered layout
  * serves every interior file whose whole range falls in one month.
  * Periodic expressions (`month(ts)` across years) are deliberately NOT
  * whitelisted — `f(min) == f(max)` does not bound the values between —
  * and serve only strictly-homogeneous files. HIVE PARTITION columns
  * group with zero zone configuration: a directory-derived column is
  * homogeneous per file by construction, so its per-file statistics
  * synthesize from the manifest's `part_dir` (null/empty partition
  * values form the SQL NULL group; percent-escaped values route to the
  * raw-scan leg rather than risk a wrong decode). The same homogeneity
  * serves DISTINCT shapes — `SELECT DISTINCT g` and `count(DISTINCT c)`
  * (global or per group) — through legs of distinct VALUES; a distinct
  * count never mixes with plain aggregates. Inner equi-JOINS against
  * dims serve too — single dims, multi-dim stars and composite keys —
  * see [[RewriteToMetaAggregate.tryServeJoin]].
  *
  * Scope is otherwise tight; the rule REFUSES (leaves the plan
  * untouched, full scan, exact answers) unless every condition holds:
  * every aggregate one of count(*)/count(c)/min(c)/max(c)/sum(c)/
  * count(DISTINCT c) on a zone-indexed DATA column (no FILTER clause,
  * no TRY-mode sums), every grouping expression a bare zone-indexed
  * attribute / Hive partition column or a deterministic single-column
  * expression of one, every WHERE conjunct a literal range / equality /
  * IN comparison on a zone-indexed column, single-root registered
  * relation, manifest schema carrying the needed statistic columns.
  * Probe failures refuse loudly through the
  * [[BloomJoins.RefusalMetric]] counter ("meta-agg" leg).
  *
  * Cost: plan-time work is one manifest-schema probe, one manifest
  * file-list collect and (with a predicate) one boundary-file collect —
  * all metadata-sized and cached under the manifest VERSION
  * ([[BloomJoins.cachedProbe]]), so a dashboard re-issuing the query
  * replans from memory. The rewritten plan's manifest leg is a
  * files-sized parquet aggregate executed distributed at RUN time.
  */
object MetaAgg {

  /** Test spy: rewrites actually fired. */
  private[graft] val served = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Test spy: dim-join rewrites actually fired (also counted in
    * [[served]]). */
  private[graft] val servedJoin =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One servable aggregate, resolved to a RELATION column name. */
  private[plans] sealed trait Spec
  private[plans] case object CountStar extends Spec
  private[plans] final case class CountCol(c: String) extends Spec
  private[plans] final case class MinCol(c: String) extends Spec
  private[plans] final case class MaxCol(c: String) extends Spec
  /** `ansi` = the QUERY's eval mode: an ANSI-mode integral sum may only
    * be served from a manifest whose every row was built under ANSI
    * (no silent per-file wrap possible — see ZoneMap.built_ansi). */
  private[plans] final case class SumCol(c: String,
                                         ansi: Boolean) extends Spec
  /** A grouping (by index into the resolved groupings) passed through to
    * the output (grouped serving). */
  private[plans] final case class GroupKey(g: Int) extends Spec
  /** `count(DISTINCT c)` — served through distinct-value legs. */
  private[plans] final case class DistinctCount(c: String) extends Spec

  /** One resolved grouping: either a bare zone column (`f = None`) or a
    * deterministic expression of exactly ONE zone column (key-derived
    * grouping — `date_trunc('month', day)`, `substring(source, 1, 3)`).
    * `monotone` records whether `f` is certified order-preserving: a
    * monotone `f` serves every file with `f(min) == f(max)` (the squeeze:
    * min ≤ v ≤ max ⇒ f(min) ≤ f(v) ≤ f(max) = f(min)); a general
    * deterministic `f` serves only STRICTLY homogeneous files
    * (min == max — the file holds one value, so one f-value). Both are
    * exact; monotonicity only widens which files serve. `f`'s references
    * are RELATION attributes of the base column. */
  private[plans] final case class Grouping(base: String,
                                           f: Option[Expression],
                                           monotone: Boolean)

  /** Install on an existing session, in [[PlanShapes.rules]] order:
    * behind the summary-view rewrite, ahead of the scan-pruning rule. */
  def install(spark: SparkSession): Unit =
    PlanShapes.install(spark, classOf[RewriteToMetaAggregate])

  def uninstall(spark: SparkSession): Unit =
    PlanShapes.uninstall(spark, classOf[RewriteToMetaAggregate])
}

/** The rewrite rule — see [[MetaAgg]] for semantics. Matches a global
  * `Aggregate` whose child unwraps (through attribute/rename Projects
  * and Filters) to a single zone-registered parquet relation. */
final case class RewriteToMetaAggregate(spark: SparkSession)
    extends Rule[LogicalPlan] {

  import BloomJoins.{cachedProbe, refused, Probed, RefusedTransient, RefusedWide}
  import MetaAgg.{CountCol, CountStar, DistinctCount, GroupKey, MaxCol, MinCol, Spec, SumCol}

  /** The plan-time manifest collects execute queries WHILE this rule is
    * running; their optimization must not re-enter the rule. */
  private val inRule = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (inRule.get()) plan
    else {
      inRule.set(true)
      try plan.transformDown {
        case agg @ Aggregate(gexprs, aggExprs, child, _)
            if aggExprs.nonEmpty &&
              gexprs.forall(_.isInstanceOf[AttributeReference]) =>
          tryServe(gexprs.map(_.asInstanceOf[AttributeReference]),
            aggExprs, child)
            .orElse(tryServeJoin(
              gexprs.map(_.asInstanceOf[AttributeReference]),
              aggExprs, child))
            .getOrElse(agg)
      } finally inRule.set(false)
    }

  // ------------------------------------------------------------ matching

  /** Strip attribute/alias Projects and Filters down to the relation
    * ([[PlanShapes.strip]]): the relation, the Filter conditions over its
    * attributes (outermost first) and the alias definitions (renames map
    * to relation attributes; GENERAL aliases — the analyzer's extracted
    * `_groupingexpression#N` projections — to their definitions). Any
    * other node refuses. */
  private def unwrap(plan: LogicalPlan)
      : Option[(LogicalRelation, List[Expression], Map[ExprId, Expression])] = {
    val s = PlanShapes.strip(plan)
    s.leaf match {
      case rel: LogicalRelation => Some((rel, s.filters.reverse, s.defs))
      case _ => None
    }
  }

  /** Resolve an aggregate argument to a relation column name (through
    * rename definitions); None refuses. */
  private def relCol(e: Expression, defs: Map[ExprId, Expression],
                     rel: LogicalRelation): Option[String] = e match {
    case a: AttributeReference => defs.getOrElse(a.exprId, a) match {
      case r: AttributeReference =>
        rel.output.find(_.exprId == r.exprId).map(_.name)
      case _ => None
    }
    case _ => None
  }

  /** The relation's Hive partition columns — per-file homogeneous by
    * construction, servable as GROUPINGS without zones ([[serve]]'s
    * `mStats` synthesizes their statistics from `part_dir`). */
  private def partitionColsOf(rel: LogicalRelation): Set[String] =
    rel.relation match {
      case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        hfs.partitionSchema.fieldNames.toSet
      case _ => Set.empty
    }

  /** Parse every WHERE conjunct as a literal comparison on a zone column
    * ([[PlanShapes.zonePreds]]); ALL conjuncts must parse or the whole
    * rule refuses (one undecidable conjunct means no file can be
    * certified fully covered). NULL-literal comparisons refuse here —
    * [[RewriteToBloomPrunedJoin]]'s Filter leg already collapses those
    * scans. NULL IN-list members drop: `x IN (v, NULL)` filters exactly
    * like `x IN (v)`, and an all-NULL list is the empty [[ColIn]], which
    * covers no file and admits no candidate. Several conjuncts on one
    * column each stay their own predicate; the covered/candidate tests
    * AND over all of them, which IS the interval intersection. */
  private def parseConds(conds: Seq[Expression], zcols: Set[String],
                         defs: Map[ExprId, Expression],
                         rel: LogicalRelation): Option[Seq[ZonePred]] = {
    val parsed = PlanShapes.zonePreds(conds, defs, rel.output).map(
      _.filter(p => zcols.contains(p.c)).flatMap {
        case r: ColRange if (r.lo ++ r.hi).exists(_.value == null) => None
        case i: ColIn => Some(i.copy(values = i.values.filter(_ != null)))
        case r => Some(r)
      })
    if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
  }

  /** Value → stable cache-key string: Array[Byte] (a BinaryType bound)
    * stringifies by CONTENT, not identity — an identity image would make
    * the probe key unique per planning and churn the shared LRU. */
  private def keyStr(v: Any): String = v match {
    case a: Array[Byte] => java.util.Arrays.toString(a)
    case other => String.valueOf(other)
  }

  // ------------------------------------------------------------- serving

  private def tryServe(gexprs: Seq[AttributeReference],
                       aggExprs: Seq[NamedExpression],
                       child: LogicalPlan): Option[LogicalPlan] =
    for {
      (rel, conds, defs) <- unwrap(child)
      root <- BloomJoins.singleRootOf(spark, rel)
      zls = BloomJoins.zoneLayoutsFor(root)
      if zls.nonEmpty
      zcols = zls.map(_.col).toSet
      // groupings AND predicates may also hit Hive partition-derived
      // columns — per-file homogeneous by construction; [[serve]]
      // synthesizes their statistics from part_dir (the path-based
      // optimizer keeps the partition Filter in the logical plan and the
      // relation's listing unpruned, so the stale check stays sound)
      pcols = partitionColsOf(rel)
      groupCols <- resolveGroups(gexprs, defs, rel, zcols ++ pcols)
      specs <- parseSpecs(aggExprs, gexprs, defs, rel, zcols, groupCols)
      // shape validation: a DISTINCT COUNT never mixes with other
      // aggregates (Spark plans that mix through Expand — a different
      // shape that never reaches here anyway); at most one
      if specs.count(_.isInstanceOf[DistinctCount]) <= 1 &&
        (!specs.exists(_.isInstanceOf[DistinctCount]) ||
          specs.forall(sp => sp.isInstanceOf[DistinctCount] ||
            sp.isInstanceOf[GroupKey]))
      ranges <- parseConds(conds, zcols ++ pcols, defs, rel)
      plan <- serve(aggExprs, specs, groupCols, conds, ranges, rel, root)
    } yield plan

  /** One dim of a star, resolved to the fact relation — threaded through
    * [[serve]]'s legs: the manifest leg joins rows homogeneous in every
    * `keys` fact column against the dim on the zones' single values, the
    * partial leg replays the ORIGINAL joins under the rebuilt fact scan.
    * `keys` is one-or-more equi-key pairs (fact relation column, fact
    * relation attr, dim attr) — the composite-key case ANDs them.
    * `joinType` is Inner (multiplicities multiply), LeftSemi (the
    * `k IN (subquery)` shape — all-or-none, once) or LeftAnti
    * (`NOT EXISTS` — kept iff no match). */
  private final case class DimJoin(dimPlan: LogicalPlan,
      keys: Seq[(String, AttributeReference, AttributeReference)],
      joinType: JoinType)

  /** One dim side as EXTRACTED from the join tree, keys not yet resolved:
    * (fact-side attr, dim attr) pairs in the namespace where the join
    * condition was collected — the composed rename map resolves the fact
    * attrs to relation columns later ([[resolveDims]]). */
  private final case class DimSide(plan: LogicalPlan,
      pairs: Seq[(AttributeReference, AttributeReference)],
      joinType: JoinType)

  /** Decompose a (possibly nested) inner equi-join tree into candidate
    * (fact plan, dims) splits — `fact ⋈ dim1 ⋈ dim2 …` in any
    * association/orientation. Each Join node tries BOTH sides as the
    * fact side (the zone-registered-relation check downstream picks the
    * real one, and a failed candidate just falls through); dims stay
    * whole sub-plans, never decomposed — a snowflake key (dim2 joined on
    * dim1's column) fails fact-side key resolution downstream and
    * refuses. `budget` bounds the walk (stars past 4 dims refuse — the
    * summary-view tier is the right home for those; `budgetHit` records
    * that the bound — not the shape — stopped the walk, so
    * [[tryServeJoin]] can surface the skip through the refusal counter
    * instead of silently standing aside). Dims come back INNER-FIRST,
    * the original join order for the replay leg. */
  private def starCandidates(plan: LogicalPlan,
      defs0: Map[ExprId, Expression],
      budget: Int,
      budgetHit: java.util.concurrent.atomic.AtomicBoolean)
      : List[(LogicalPlan, List[DimSide], Map[ExprId, Expression])] = {
    // the optimizer's column pruning inserts Projects between nested joins
    val between = PlanShapes.stripProjects(plan)
    val defs = PlanShapes.compose(defs0, between.defs)
    between.leaf match {
      case j @ Join(l, r, jt, Some(cond), _)
          if budget <= 0 &&
            (jt == Inner || jt == LeftSemi || jt == LeftAnti) &&
            PlanShapes.equiPairs(cond, l, r).isDefined =>
        // an equi-join the walk WOULD have decomposed, stopped only by the
        // budget — record it so the stand-aside is visible (a non-equi or
        // null-aware join at this depth refuses on SHAPE and stays
        // silent, as it would at any budget)
        budgetHit.set(true)
        List((j, Nil, defs))
      case Join(l, r, jt, Some(cond), _)
          if budget > 0 &&
            (jt == Inner || jt == LeftSemi || jt == LeftAnti) =>
        // every pair oriented as (fact-side attr, dim attr); a NULL-AWARE
        // anti join (NOT IN over nullables) carries an Or(EqualTo, IsNull)
        // condition — it fails this parse and the whole shape refuses, as
        // it must (its null semantics are not the plain anti's)
        def asFact(fact: LogicalPlan, dim: LogicalPlan) =
          PlanShapes.equiPairs(cond, fact, dim).toList.flatMap(ps =>
            starCandidates(fact, defs, budget - 1, budgetHit).map {
              case (f, ds, d2) => (f, ds :+ DimSide(dim, ps, jt), d2)
            })
        // semi/anti joins emit the LEFT side only — the fact can never
        // be the right side there
        asFact(l, r) ++ (if (jt == Inner) asFact(r, l) else Nil)
      case leaf => List((leaf, Nil, defs))
    }
  }

  /** `SELECT <fact aggregates> FROM fact JOIN dim1 ON fact.k1 = dim1.k1
    * [JOIN dim2 ON fact.k2 = dim2.k2 …] [fact-side WHERE]` over a layout
    * clustered by the join keys — single dims, multi-dim STARS, and
    * composite (multi-column) equi-keys alike: a fact file HOMOGENEOUS
    * in every key column (one value throughout, zero nulls) joins each
    * dim AS A UNIT — its manifest row matched against a dim's keys
    * stands for every row in the file, multiplicity included (a key
    * matching m dim rows duplicates the manifest row m times, exactly as
    * the join duplicates the fact rows; across dims the multiplicities
    * MULTIPLY, exactly as the nested joins do). A composite key
    * (`fact.a = d.a AND fact.b = d.b`) serves when the file is
    * homogeneous in EVERY key column — the single (a, b) pair is then
    * the whole file's pair. The exactness argument transfers from the
    * star-schema summary rewrite: inner equi-joins, fact-side aggregates
    * only, so each served file contributes n_rows (count), n_rows −
    * nulls (count(c)), min/max, and the per-file sum, once per
    * combination of dim matches. LEFT SEMI dims serve too — the
    * `k IN (SELECT …)` shape the analyzer plans as a semi join: a served
    * file's rows share one fate (kept once iff the key matches,
    * multiplicity-free), which is exactly what the semi join does to the
    * manifest row; LEFT ANTI (`NOT EXISTS`) mirrors it with kept-iff-
    * unmatched — and an anti key's all-NULL files are NOT excluded (no
    * match = kept): they fall to the raw-scan leg, which replays the
    * anti join and keeps them. A null-aware NOT IN carries an
    * Or(EqualTo, IsNull) condition and refuses at the parse. GROUP BY
    * composes when the groupings are fact-side zone columns (or
    * key-derived expressions of one): a served file must then be
    * homogeneous in every join key AND every grouping, and its group
    * values are computed from the manifest row before the joins. Mixed
    * files, boundary files and appended files scan raw and replay the
    * original joins; files ALL-NULL in an inner/semi key join nothing
    * (null never equals) and are excluded from both legs. DISTINCT
    * shapes (`SELECT DISTINCT g`, `count(DISTINCT c)` [GROUP BY …])
    * serve under the joins too: the output value set is
    * multiplicity-free, so every dim — inner included — acts as a pure
    * SEMI gate (anti as its complement) on the served files' values.
    * Scope is tight and everything else refuses: bare-attribute equality
    * conditions only, DETERMINISTIC dim sub-plans (they execute in both
    * legs), fact-side groupings only, distinct counts never mixed with
    * plain aggregates, no filters remaining above the joins; snowflake
    * keys (a dim joined on another dim's column) refuse at fact-side key
    * resolution. */
  private def tryServeJoin(gexprs: Seq[AttributeReference],
                           aggExprs: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
    val budgetHit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val served =
      starCandidates(child, Map.empty, budget = 4, budgetHit)
        .iterator.flatMap { case (factPlan, dims, odefs) =>
          if (dims.isEmpty) None
          else attemptJoinServe(gexprs, aggExprs, odefs, factPlan, dims)
        }.nextOption()
    // a star WIDER than the serving budget stood the tier aside: count it
    // per registered layout under its own leg (visible in describe()'s
    // refusal_detail) instead of skipping silently — at 100 TB "the
    // dashboard got slow because the star grew a fifth dim" must be
    // diagnosable from the metrics, not from a plan diff. Only layouts
    // this tier COULD have served refuse (leaf relations resolving to a
    // registered zone root); plans over unregistered tables stay silent.
    if (served.isEmpty && budgetHit.get())
      child.collect { case lr: LogicalRelation => lr }
        .flatMap(lr => BloomJoins.singleRootOf(spark, lr))
        .filter(r => BloomJoins.zoneLayoutsFor(r).nonEmpty)
        .distinct
        .foreach(r => BloomJoins.refused(r, "meta-agg-budget",
          new IllegalStateException("a join tree deeper than the 4-dim " +
            "serving budget stood the manifest tier aside (answers stay " +
            "exact, the aggregate runs raw); the tier did not attempt " +
            "serving beyond that depth — shallower refusal reasons may " +
            "also apply. Wide stars belong in the summary-view tier")))
    served
  }

  /** Resolve each extracted dim's fact-side key attrs to zone-indexed OR
    * partition relation columns (a Hive layout's natural join key is its
    * partition column; [[serve]] synthesizes partition statistics); any
    * unresolvable key (snowflake, non-zone non-partition column) refuses
    * the candidate. */
  private def resolveDims(dims: List[DimSide],
                          defs: Map[ExprId, Expression],
                          rel: LogicalRelation,
                          zcols: Set[String]): Option[List[DimJoin]] = {
    val out = dims.map { d =>
      val keys = d.pairs.map { case (fa, da) =>
        relCol(fa, defs, rel).filter(zcols.contains).flatMap { c =>
          rel.output.collectFirst {
            case a: AttributeReference if a.name == c => (c, a, da) }
        }
      }
      if (keys.exists(_.isEmpty)) None
      else Some(DimJoin(d.plan, keys.map(_.get), d.joinType))
    }
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }

  private def attemptJoinServe(gexprs: Seq[AttributeReference],
                               aggExprs: Seq[NamedExpression],
                               odefs: Map[ExprId, Expression],
                               factPlan: LogicalPlan,
                               dims: List[DimSide]): Option[LogicalPlan] =
    for {
      (rel, conds, factDefs) <- unwrap(factPlan)
      root <- BloomJoins.singleRootOf(spark, rel)
      zls = BloomJoins.zoneLayoutsFor(root)
      if zls.nonEmpty
      zcols = zls.map(_.col).toSet
      // aggExprs, groupings and join keys resolve through the definitions
      // above and between the joins, then the fact-side RENAMES (a
      // fact-side computed alias stays opaque and refuses; a def
      // referencing a DIM column fails zone resolution in resolveGroups)
      defs = PlanShapes.compose(odefs,
        factDefs.filter(_._2.isInstanceOf[AttributeReference]))
      rdims <- resolveDims(dims, defs, rel, zcols ++ partitionColsOf(rel))
      // the dims execute inside BOTH legs of the rewritten plan — a
      // non-deterministic dim would diverge between them
      if rdims.forall(_.dimPlan.find(p =>
        p.expressions.exists(!_.deterministic)).isEmpty)
      pcols = partitionColsOf(rel)
      groupCols <- resolveGroups(gexprs, defs, rel, zcols ++ pcols)
      specs <- parseSpecs(aggExprs, gexprs, defs, rel, zcols, groupCols)
      // same distinct-shape validation as [[tryServe]]: distinct counts
      // never mix with plain aggregates (DISTINCT shapes themselves DO
      // serve under joins — the value set is multiplicity-free, see
      // [[serve]]'s distinct legs)
      if specs.count(_.isInstanceOf[DistinctCount]) <= 1 &&
        (!specs.exists(_.isInstanceOf[DistinctCount]) ||
          specs.forall(sp => sp.isInstanceOf[DistinctCount] ||
            sp.isInstanceOf[GroupKey]))
      ranges <- parseConds(conds, zcols ++ pcols, factDefs, rel)
      plan <- serve(aggExprs, specs, groupCols, conds, ranges, rel, root,
        rdims)
    } yield plan

  /** Every grouping expression must be a bare attribute resolving to a
    * zone-indexed relation column, OR a deterministic expression of
    * exactly one such column (the analyzer's extracted
    * `_groupingexpression` alias, inlined through `defs`) — homogeneity
    * (one group value per file) is certified from the base column's
    * zone, and the expression evaluates over the file's single value
    * exactly as it would over every row. Non-deterministic and
    * multi-column expressions refuse. */
  private def resolveGroups(gexprs: Seq[AttributeReference],
                            defs: Map[ExprId, Expression],
                            rel: LogicalRelation,
                            zcols: Set[String]): Option[Seq[MetaAgg.Grouping]] = {
    val gs: Seq[Option[MetaAgg.Grouping]] = gexprs.map { g =>
      relCol(g, defs, rel).filter(zcols.contains) match {
        case Some(c) => Some(MetaAgg.Grouping(c, None, monotone = true))
        case None =>
          defs.get(g.exprId).flatMap { d =>
            // canonicalize every reference to THE relation attribute of
            // its base column (references may be renames of it)
            val refCols = d.references.toSeq
              .map(a => relCol(a, defs, rel).filter(zcols.contains))
            if (!d.deterministic || refCols.isEmpty ||
                refCols.exists(_.isEmpty) ||
                refCols.flatten.distinct.length != 1) None
            else {
              val c = refCols.head.get
              val base = rel.output.find(_.name == c).get
              val f = d.transform {
                case _: AttributeReference => base
              }
              Some(MetaAgg.Grouping(c, Some(f), monotone = isMonotone(f)))
            }
          }
      }
    }
    if (gs.exists(_.isEmpty)) None else Some(gs.map(_.get))
  }

  /** Certified ORDER-PRESERVING (non-decreasing) expression shapes over
    * one attribute — the whitelist that widens grouped serving from
    * strictly-homogeneous files (min == max) to range-homogeneous ones
    * (f(min) == f(max)): time/date truncation (floor on the time line),
    * year, prefix substring under binary collation, numeric floor/ceil,
    * and the order-preserving casts. Everything else serves under the
    * strict test — still exact, just narrower. */
  private def isMonotone(e: Expression): Boolean = e match {
    case _: AttributeReference => true
    case c: Cast => monoCast(c.child.dataType, c.dataType) && isMonotone(c.child)
    case t: TruncTimestamp if t.format.isInstanceOf[Literal] =>
      isMonotone(t.timestamp)
    case t: TruncDate if t.format.isInstanceOf[Literal] =>
      isMonotone(t.date)
    case y: Year => isMonotone(y.child)
    case s: Substring => (s.pos, s.len) match {
      case (Literal(p: Int, _), Literal(l: Int, _))
          if p == 1 && l >= 0 && s.str.dataType == StringType =>
        isMonotone(s.str)
      case _ => false
    }
    case f: Floor => isMonotone(f.child)
    case c: Ceil => isMonotone(c.child)
    case _ => false
  }

  /** Casts that preserve order and can never wrap: timestamp ↔ date,
    * timestamp → long (floor division of micros to epoch seconds — a
    * monotone floor, never overflows) and integral widening. (Narrowing
    * wraps; numeric → string is not lexicographically monotone across
    * signs/widths; fractional → integral is floor-like but ANSI-mode may
    * error — excluded for simplicity.) */
  private def monoCast(from: DataType, to: DataType): Boolean = {
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4
      case _ => -1
    }
    (from, to) match {
      case (TimestampType, DateType) => true
      case (DateType, TimestampType) => true
      case (TimestampType, LongType) => true
      case _ => rank(from) > 0 && rank(to) >= rank(from)
    }
  }

  /** Every output expression must be a grouping pass-through (matched to
    * its grouping by exprId — bare or key-derived alike) or a servable
    * aggregate; any other shape refuses the whole rewrite. */
  private def parseSpecs(aggExprs: Seq[NamedExpression],
                         gexprs: Seq[AttributeReference],
                         defs: Map[ExprId, Expression],
                         rel: LogicalRelation,
                         zcols: Set[String],
                         groupCols: Seq[MetaAgg.Grouping]): Option[Seq[Spec]] = {
    def keyIdx(a: AttributeReference): Option[Int] = {
      val i = gexprs.indexWhere(_.exprId == a.exprId)
      if (i >= 0) Some(i) else None
    }
    val specs: Seq[Option[Spec]] = aggExprs.map { ne =>
      val keyOpt = ne match {
        case a: AttributeReference => keyIdx(a).map(GroupKey)
        case Alias(a: AttributeReference, _) => keyIdx(a).map(GroupKey)
        case _ => None
      }
      if (keyOpt.isDefined) keyOpt
      else parseAgg(ne, defs, rel, zcols)
    }
    if (specs.exists(_.isEmpty)) None else Some(specs.map(_.get))
  }

  private def parseAgg(ne: NamedExpression,
                       defs: Map[ExprId, Expression],
                       rel: LogicalRelation,
                       zcols: Set[String]): Option[Spec] = {
      val aeOpt = ne match {
        case Alias(x: AggregateExpression, _) => Some(x)
        case x: AggregateExpression => Some(x)
        case _ => None
      }
      aeOpt.filter(_.filter.isEmpty)
        .flatMap { ae =>
          ae.aggregateFunction match {
            case c: Count if ae.isDistinct && c.children.length == 1 =>
              // count(DISTINCT c): served via distinct-value legs
              c.children.head match {
                case e => relCol(e, defs, rel).filter(zcols.contains)
                    .map(DistinctCount)
              }
            case _ if ae.isDistinct => None
            case c: Count if c.children.length == 1 =>
              c.children.head match {
                case Literal(v, _) if v != null => Some(CountStar)
                case e => relCol(e, defs, rel).filter(zcols.contains)
                    .map(CountCol)
              }
            case m: Min =>
              relCol(m.child, defs, rel).filter(zcols.contains).map(MinCol)
            case m: Max =>
              relCol(m.child, defs, rel).filter(zcols.contains).map(MaxCol)
            case s: Sum if ZoneMap.sumable(s.child.dataType) &&
                s.evalContext.evalMode != EvalMode.TRY =>
              // TRY sums return NULL on overflow — a semantics the
              // composed per-file sums cannot replicate; LEGACY (wraps)
              // and ANSI (errors) both compose, argued in the scaladoc
              relCol(s.child, defs, rel).filter(zcols.contains)
                .map(SumCol(_, s.evalContext.evalMode == EvalMode.ANSI))
            case _ => None
          }
        }
  }

  /** Evaluate `f` (a one-attribute expression) over an arbitrary input
    * column — every attribute reference is replaced by the column's
    * expression. How the manifest legs apply a key-derived grouping to
    * zone values instead of rows. */
  private def fOver(f: Expression, in: Column): Column =
    GraftBridge.column(f.transform {
      case _: AttributeReference => GraftBridge.expression(in)
    })

  /** Build the two-leg replacement plan; None refuses (stale manifest,
    * missing statistic columns, probe failure). A non-empty `joinDims`
    * switches both legs into dim-join mode ([[tryServeJoin]]) — one
    * entry per star dim, inner-first. */
  private def serve(aggExprs: Seq[NamedExpression], specs: Seq[Spec],
                    groupCols: Seq[MetaAgg.Grouping],
                    conds: List[Expression], ranges: Seq[ZonePred],
                    rel: LogicalRelation, root: String,
                    joinDims: Seq[DimJoin] = Nil)
      : Option[LogicalPlan] = try {
    val nroot = normPath(root)
    val mpath = s"$root/_zonemap"
    val ver = graft.sources.Manifests.manifestVersion(root, "_zonemap")

    // PIN the manifest snapshot: every probe below AND the run-time
    // manifest leg read exactly the part files listed here, not "the
    // manifest directory as it exists when each read happens". Without
    // the pin, an out-of-process append + ZoneMap.update between probes
    // (no in-process version bump) would put the appended files in the
    // raw-scan leg via the CACHED file list while their fresh manifest
    // rows also pass the manifest leg — counted twice, silently wrong.
    // Parquet part files are immutable-by-name, so a pinned list is a
    // consistent snapshot; a concurrent manifest REBUILD that deletes
    // these part files fails the read loudly (plan-time probes refuse,
    // a mid-execution delete errors) — never a silent wrong answer.
    val mpartFiles = cachedProbe(("metasnap", nroot, ver)) {
      try {
        val (mfs, mp) = graft.sources.Manifests.fsFor(spark, mpath)
        Probed(graft.sources.Manifests.listDataFiles(mfs, mp)
          .map(_.toString).sorted)
      } catch { case e: Exception =>
        refused(root, "meta-agg", e); RefusedTransient }
    }.getOrElse(return None)
    if (mpartFiles.isEmpty) return None
    def mSnap: DataFrame =
      spark.read.option("basePath", mpath).parquet(mpartFiles: _*)

    // manifest schema: every needed statistic column must exist (an older
    // manifest without <c>_sum refuses SUM serving but a rebuilt one serves)
    val fields = cachedProbe(("metaschema", nroot, ver)) {
      try Probed(mSnap.schema.fieldNames.toSeq)
      catch { case e: Exception =>
        refused(root, "meta-agg", e); RefusedTransient }
    }.getOrElse(return None).toSet
    def integral(c: String): Boolean =
      rel.output.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    // Hive partition-derived grouping columns: a directory-derived column
    // is homogeneous per file BY CONSTRUCTION (every row in a file shares
    // its directory's value), and `part_dir` is already a manifest
    // column — so GROUP BY on a partition column serves from the manifest
    // with zero zone configuration. [[ZoneMap.withPartStats]] synthesizes its
    // per-file statistics from the directory name, and the schema check
    // below treats those synthetic names as present.
    val partCols: Set[String] = partitionColsOf(rel)
    val joinKeyCols: Seq[String] =
      joinDims.flatMap(_.keys.map(_._1)).distinct
    val partBases: Set[String] =
      (groupCols.map(_.base) ++ ranges.map(_.c) ++ joinKeyCols)
        .filter(partCols.contains).toSet
    def zone(c: String) = Seq(s"${c}_min", s"${c}_max", s"${c}_nulls")
    val needed: Seq[String] = specs.flatMap {
      case CountStar => Nil
      case CountCol(c) => Seq(s"${c}_nulls")
      case MinCol(c) => Seq(s"${c}_min")
      case MaxCol(c) => Seq(s"${c}_max")
      case SumCol(c, ansi) => Seq(s"${c}_sum", s"${c}_nulls") ++
        // an ANSI integral sum additionally needs the build-mode column:
        // a pre-upgrade manifest refuses until its next rebuild
        (if (ansi && integral(c)) Seq("built_ansi") else Nil)
      case GroupKey(_) => Nil
      case DistinctCount(c) => zone(c)
    } ++ (ranges.map(_.c) ++ groupCols.map(_.base) ++ joinKeyCols)
      .filterNot(partBases).flatMap(zone)
    if (!needed.forall(fields.contains)) return None

    // partition-derived columns' statistics, synthesized from part_dir
    def mStats: DataFrame = partBases.foldLeft(mSnap) { (d, p) =>
      ZoneMap.withPartStats(d, p, rel.output.find(_.name == p)
        .map(_.dataType).getOrElse(StringType))
    }

    // SUM validity: on a mixed-schema manifest (an out-of-process append
    // beside pre-`_sum` rows) the old files' sums read as NULL and a
    // served SUM would silently drop them. A NULL sum is only legitimate
    // for an all-NULL-column file; anything else refuses SUM serving
    // until the manifest is rebuilt (ZoneMap.update does so on schema
    // drift). Version-cached: one tiny manifest job per manifest version.
    val sumColsNeeded = specs.collect { case SumCol(c, _) => c }.distinct
    sumColsNeeded.foreach { c =>
      val ok = cachedProbe(("metasumok", nroot, ver, c)) {
        try {
          val bad = mSnap
            .filter(col(s"${c}_sum").isNull &&
              col(s"${c}_nulls") =!= col("n_rows"))
            .limit(1).count()
          if (bad > 0L) RefusedWide // stays refused until a rebuild bumps
          else Probed(Nil)
        } catch { case e: Exception =>
          refused(root, "meta-agg", e); RefusedTransient }
      }
      if (ok.isEmpty) return None
    }

    // overflow-mode composition (the built_ansi contract, see ZoneMap):
    // serving an INTEGRAL sum to an ANSI-mode query requires every
    // manifest row built under ANSI — a LEGACY-built per-file sum may
    // have wrapped silently where the direct ANSI scan would error.
    // LEGACY queries compose over any build mode (modular arithmetic),
    // and decimal sums self-police via the NULL-sum check above.
    if (specs.exists { case SumCol(c, true) => integral(c); case _ => false }) {
      val ok = cachedProbe(("metaansiok", nroot, ver)) {
        try {
          val bad = mSnap
            .filter(not(coalesce(col("built_ansi"), lit(false))))
            .limit(1).count()
          if (bad > 0L) RefusedWide // until a rebuild bumps the version
          else Probed(Nil)
        } catch { case e: Exception =>
          refused(root, "meta-agg", e); RefusedTransient }
      }
      if (ok.isEmpty) return None
    }

    // distinct-value serving: a pure SELECT DISTINCT (all specs group
    // keys) or a count(DISTINCT c) [GROUP BY ...] routes through legs of
    // DISTINCT VALUES instead of folded statistics; homogeneity is then
    // required on the distinct column too (its value set per servable
    // file must be exactly {min} or {NULL})
    val dcCol: Option[String] =
      specs.collectFirst { case DistinctCount(c) => c }
    val distinctMode = specs.forall(sp =>
      sp.isInstanceOf[GroupKey] || sp.isInstanceOf[DistinctCount])
    if (dcCol.isDefined && !distinctMode) return None
    val legsCols: Seq[MetaAgg.Grouping] = groupCols ++
      dcCol.map(MetaAgg.Grouping(_, None, monotone = true))

    // listing vs manifest: appended files scan raw; a manifest row whose
    // file vanished means a rewrite raced the manifest — refuse
    def normF(p: String): String = new org.apache.hadoop.fs.Path(p)
      .toUri.getPath
    val listing: Seq[String] = rel.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.inputFiles.toSeq
      case _ => return None
    }
    val listingByNorm = listing.map(f => normF(f) -> f).toMap
    val manifestFiles = cachedProbe(("metafiles", nroot, ver)) {
      try Probed(mSnap.select("file")
        .collect().map(r => normF(r.getString(0))).toSeq)
      catch { case e: Exception =>
        refused(root, "meta-agg", e); RefusedTransient }
    }.getOrElse(return None)
    val manifestSet = manifestFiles.toSet
    if (!manifestSet.subsetOf(listingByNorm.keySet)) return None // stale
    val unknown = listing.filterNot(f => manifestSet.contains(normF(f)))

    // zone tests per parsed predicate, strictness-aware; a partition
    // value this rule refused to decode (synthetic nulls = -1) has
    // UNKNOWN bounds: the file must stay a candidate (scan raw, Spark's
    // own parser decides) — excluding it would silently drop its rows
    val covered = ranges.map(ZoneMap.covered)
      .reduceOption(_ && _).getOrElse(lit(true))
    val candidate = ranges.map(p => ZoneMap.candidate(p, partBases(p.c)))
      .reduceOption(_ && _).getOrElse(lit(true))
    // grouped serving additionally demands each file be HOMOGENEOUS in
    // every grouping: one value throughout (zero nulls, min == max — or,
    // for a certified-monotone derived grouping, f(min) == f(max): the
    // squeeze argument in [[MetaAgg.Grouping]]) or all-NULL (the SQL
    // NULL group / the f(NULL) group) — only then do the file's
    // statistics belong to a single output group
    val homog = legsCols.distinct.map { g =>
      val oneValue = g.f match {
        case Some(f) if g.monotone => col(s"${g.base}_nulls") === 0L &&
          (fOver(f, col(s"${g.base}_min")) <=> fOver(f, col(s"${g.base}_max")))
        case _ => ZoneMap.singleValued(g.base)
      }
      oneValue || col(s"${g.base}_nulls") === col("n_rows")
    }.reduceOption(_ && _).getOrElse(lit(true))

    // dim-join mode: a file serves only when HOMOGENEOUS in every join
    // key (one value each, zero nulls — its manifest row joins each dim
    // as the whole file); files ALL-NULL in an INNER or SEMI key join
    // nothing (null never equals) and are excluded from BOTH legs — but
    // an ANTI key keeps null rows (no match = kept), so all-null files
    // under an anti-only key fall to the raw-scan leg instead, where the
    // replayed anti join keeps them
    val joinHomog = joinKeyCols.map(ZoneMap.singleValued)
      .reduceOption(_ && _).getOrElse(lit(true))
    val exclKeyCols = joinDims.filter(_.joinType != LeftAnti)
      .flatMap(_.keys.map(_._1)).distinct
    val joinExcluded = exclKeyCols.map(k =>
        col(s"${k}_nulls") === col("n_rows"))
      .reduceOption(_ || _).getOrElse(lit(false))
    // files scanned raw: predicate-boundary files and (when grouping or
    // serving distincts) covered-but-mixed files — the original filter
    // re-applies there
    val servableM = covered && homog && joinHomog
    val partialFiles: Seq[String] =
      if (ranges.isEmpty && legsCols.isEmpty && joinDims.isEmpty) Nil
      else {
        // STRUCTURED key elements, never flattened to one string: an
        // IN-list mkString would collide x IN ('a,b') with x IN ('a','b')
        // (same root/version) and silently reuse the other query's
        // boundary-file list — rows dropped or double-counted. Option
        // tuples and value lists keep their shape; only the SORT (for
        // input-order insensitivity) goes through toString.
        val bk: List[(String, String, Option[(String, Boolean)],
                      Option[(String, Boolean)], List[String])] =
          ranges.map {
            case r: ColRange => (r.c, "range",
              r.lo.map(b => (keyStr(b.value), b.inclusive)),
              r.hi.map(b => (keyStr(b.value), b.inclusive)),
              List.empty[String])
            case i: ColIn => (i.c, "in", None, None,
              i.values.map(keyStr).sorted.toList)
          }.toList.sortBy(_.toString)
        // groupings key by canonicalized form — exprIds normalize away,
        // so the same query re-planned hits the cache. Join keys carry
        // their EXCLUSION ELIGIBILITY (non-anti), because joinExcluded —
        // and so the probed file list — depends on it: an anti and an
        // inner join on the same key column must never share a boundary
        // list (the anti's all-null-key files go to the raw leg, the
        // inner's to neither).
        val gk = legsCols.map(g => (g.base,
          g.f.map(_.canonicalized.toString).getOrElse(""), g.monotone)).toList ++
          joinDims.flatMap(jd => jd.keys.map(k =>
            ("__joinkey", k._1, jd.joinType != LeftAnti))).toList
        cachedProbe(("metapartial", nroot, ver, bk, gk)) {
          try Probed(mStats
            .filter(candidate && !servableM && !joinExcluded)
            .select("file").sort("file")
            .collect().map(_.getString(0)).toSeq)
          catch { case e: Exception =>
            refused(root, "meta-agg", e); RefusedTransient }
        }.getOrElse(return None)
      }

    // dim-join mode serves nothing when NO file is key-homogeneous —
    // refuse instead of hijacking the join from the scan-pruning tier
    // ([[RewriteToBloomPrunedJoin]] runs after this rule and can still
    // prune the very same join when we stand aside)
    if (joinDims.nonEmpty &&
        partialFiles.length + unknown.length >= listing.length)
      return None

    // ---- manifest leg: servable files' statistics, aggregated
    // distributed (grouped by each file's single group value when
    // grouping: its min — or NULL for an all-null zone)
    def aliasN(i: Int) = s"a$i"
    def gAlias(j: Int) = s"g$j"
    val gValsRaw: Seq[Column] = legsCols.map { g =>
      // the file's single base value (under the monotone test the zone
      // min is as good a representative as any: same f-value)
      val v = ZoneMap.soleValue(g.base)
      g.f.fold(v)(f => fOver(f, v))
    }
    val gVals: Seq[Column] = gValsRaw.zipWithIndex.map { case (c, j) =>
      c.as(gAlias(j)) }
    val mAggs: Seq[Column] = specs.zipWithIndex.collect {
      case (CountStar, i) => sum(col("n_rows")).as(aliasN(i))
      case (CountCol(c), i) =>
        sum(col("n_rows") - col(s"${c}_nulls")).as(aliasN(i))
      case (MinCol(c), i) => min(col(s"${c}_min")).as(aliasN(i))
      case (MaxCol(c), i) => max(col(s"${c}_max")).as(aliasN(i))
      case (SumCol(c, _), i) => sum(col(s"${c}_sum")).as(aliasN(i))
    }
    // .distinct() would emit a Deduplicate node — the main optimizer's
    // ReplaceDeduplicateWithAggregate has already run by the time this
    // rule fires, so build the distinct as the Aggregate it would have
    // become
    def distinctOf(df: DataFrame): DataFrame = {
      val lp = df.queryExecution.analyzed
      GraftBridge.ofRows(spark,
        Aggregate(lp.output, lp.output, lp))
    }
    val mBase = mStats.filter(servableM)
    // join manifest rows to every dim on the zones' single key values
    // (`__zm_<k>_min`): a served file's rows all share the key values, so
    // they share one FATE per dim — inner multiplies by the match count,
    // semi keeps once iff matched, anti keeps once iff unmatched, exactly
    // what the same join type does to the manifest row. `gateOnly` turns
    // inner dims into semi gates (a value set is multiplicity-free).
    def joinedToDims(df: DataFrame, gateOnly: Boolean): DataFrame =
      joinDims.foldLeft(df) { (d, jd) =>
        val cond = jd.keys.map { case (k, _, dk) =>
          col(s"__zm_${k}_min") === GraftBridge.column(dk)
        }.reduce(_ && _)
        d.join(GraftBridge.ofRows(spark, jd.dimPlan), cond, jd.joinType match {
          case LeftAnti => "left_anti"
          case LeftSemi => "left_semi"
          case _ => if (gateOnly) "left_semi" else "inner"
        })
      }
    val mleg =
      if (joinDims.nonEmpty && distinctMode) {
        // DISTINCT shapes under dim joins: the output value set is
        // MULTIPLICITY-FREE, so every dim acts as a pure gate on the
        // served files — an inner dim contributes exactly its semi
        // gate (a file's value reaches the output iff ≥1 dim row
        // matches), a semi dim likewise, an anti dim the complement.
        // Group/distinct values are computed from the manifest row
        // BEFORE the gating joins, exactly as in the plain-agg branch.
        val keyMins = joinKeyCols.map(k => s"${k}_min").distinct
        val mPre = mBase.select(
          gValsRaw.zipWithIndex.map { case (c, j) => c.as(gAlias(j)) } ++
            keyMins.map(c => col(c).as(s"__zm_$c")): _*)
        distinctOf(joinedToDims(mPre, gateOnly = true)
          .select(legsCols.indices.map(j => col(gAlias(j))): _*))
      } else if (joinDims.nonEmpty) {
        // join the SERVED manifest rows against each dim on the zones'
        // single key values: each dim match stands for the whole file, so
        // multiplicity replicates manifest rows exactly as the original
        // joins replicate fact rows (and across dims it multiplies).
        // Statistic and group-value columns are computed onto a reserved
        // prefix BEFORE the joins — the dims may carry any column names.
        val statCols: Seq[String] = ("n_rows" +: specs.collect {
          case CountCol(c) => Seq(s"${c}_nulls")
          case MinCol(c) => Seq(s"${c}_min")
          case MaxCol(c) => Seq(s"${c}_max")
          case SumCol(c, _) => Seq(s"${c}_sum")
        }.flatten) ++ joinKeyCols.map(k => s"${k}_min")
        val gPre: Seq[Column] = gValsRaw.zipWithIndex.map { case (c, j) =>
          c.as(s"__zm_g$j") }
        val mPre = mBase.select(gPre ++ statCols.distinct.map(c =>
          col(c).as(s"__zm_$c")): _*)
        val joined = joinedToDims(mPre, gateOnly = false)
        val jAggs: Seq[Column] = specs.zipWithIndex.collect {
          case (CountStar, i) => sum(col("__zm_n_rows")).as(aliasN(i))
          case (CountCol(c), i) =>
            sum(col("__zm_n_rows") - col(s"__zm_${c}_nulls")).as(aliasN(i))
          case (MinCol(c), i) => min(col(s"__zm_${c}_min")).as(aliasN(i))
          case (MaxCol(c), i) => max(col(s"__zm_${c}_max")).as(aliasN(i))
          case (SumCol(c, _), i) => sum(col(s"__zm_${c}_sum")).as(aliasN(i))
        }
        if (groupCols.isEmpty) joined.agg(jAggs.head, jAggs.tail: _*)
        else joined.groupBy(groupCols.indices.map(j =>
            col(s"__zm_g$j").as(gAlias(j))): _*)
          .agg(jAggs.head, jAggs.tail: _*)
      } else if (distinctMode) {
        distinctOf(mBase.select(gVals: _*))
      } else {
        if (groupCols.isEmpty) mBase.agg(mAggs.head, mAggs.tail: _*)
        else mBase.groupBy(gVals: _*).agg(mAggs.head, mAggs.tail: _*)
      }

    // ---- partial leg: boundary + unknown files, original filter re-applied
    val scanFiles = partialFiles ++ unknown.sorted
    val combined: DataFrame =
      if (scanFiles.isEmpty) mleg
      else {
        val scan = BloomJoins.scanOf(spark, rel, scanFiles, root)
          .getOrElse(return None)
        val filtered = conds.reduceOption(And)
          .map(c => Filter(c, scan): LogicalPlan).getOrElse(scan)
        // dim-join mode: the raw-scanned files replay the ORIGINAL joins
        // (rebuilt on the restored fact attributes, inner-first — the
        // original association) before aggregating
        val pplan = joinDims.foldLeft(filtered) { (p, jd) =>
          Join(p, jd.dimPlan, jd.joinType,
            Some(jd.keys.map { case (_, fr, dk) =>
              EqualTo(fr, dk): Expression }.reduce(And)), JoinHint.NONE)
        }
        val pdf = GraftBridge.ofRows(spark, pplan)
        // reference fact columns by ATTRIBUTE, not name — the dim side
        // may carry identically-named columns
        val relByName = rel.output.map(a => a.name -> a).toMap
        def relC(c: String): Column = GraftBridge.column(relByName(c))
        val pAggs: Seq[Column] = specs.zipWithIndex.collect {
          case (CountStar, i) => count(lit(1)).as(aliasN(i))
          case (CountCol(c), i) => count(relC(c)).as(aliasN(i))
          case (MinCol(c), i) => min(relC(c)).as(aliasN(i))
          case (MaxCol(c), i) => max(relC(c)).as(aliasN(i))
          case (SumCol(c, _), i) => sum(relC(c)).as(aliasN(i))
        }
        // groupings reference fact columns by ATTRIBUTE too (under a
        // join, the dim could shadow a bare grouping's name)
        val pGroups = legsCols.zipWithIndex.map { case (g, j) =>
          g.f.fold(relC(g.base))(f => GraftBridge.column(f)).as(gAlias(j))
        }
        val pleg =
          if (distinctMode) distinctOf(pdf.select(pGroups: _*))
          else if (groupCols.isEmpty) pdf.agg(pAggs.head, pAggs.tail: _*)
          else pdf.groupBy(pGroups.take(groupCols.length): _*)
            .agg(pAggs.head, pAggs.tail: _*)
        mleg.unionByName(pleg)
      }

    // ---- combine: counts re-sum (coalescing the empty edge to 0),
    // min/max/sum re-fold; sums cast back to the original result type
    // (lossless when the total fits; overflow behaves as the direct sum)
    val cAggs: Seq[Column] = specs.zipWithIndex.collect {
      case (CountStar, i) =>
        coalesce(sum(col(aliasN(i))), lit(0L)).as(aliasN(i))
      case (CountCol(_), i) =>
        coalesce(sum(col(aliasN(i))), lit(0L)).as(aliasN(i))
      case (MinCol(_), i) => min(col(aliasN(i))).as(aliasN(i))
      case (MaxCol(_), i) => max(col(aliasN(i))).as(aliasN(i))
      case (SumCol(_, _), i) => sum(col(aliasN(i))).as(aliasN(i))
    }
    val outer =
      if (distinctMode) {
        // distinct values across both legs (a value seen by the manifest
        // AND a scanned file collapses to one row), then — for a
        // count(DISTINCT c) — count the non-null distinct values per group
        val d = distinctOf(combined)
        dcCol match {
          case None => d
          case Some(_) =>
            val dcIdx = legsCols.length - 1
            val cnt = specs.zipWithIndex.collectFirst {
              case (DistinctCount(_), i) =>
                count(col(gAlias(dcIdx))).as(aliasN(i))
            }.get
            if (groupCols.isEmpty) d.agg(cnt)
            else d.groupBy(groupCols.indices.map(j => col(gAlias(j))): _*)
              .agg(cnt)
        }
      }
      else if (groupCols.isEmpty) combined.agg(cAggs.head, cAggs.tail: _*)
      else combined
        .groupBy(groupCols.indices.map(j => col(gAlias(j))): _*)
        .agg(cAggs.head, cAggs.tail: _*)
    val fin = outer.select(aggExprs.zipWithIndex.map { case (ne, i) =>
      val srcName = specs(i) match {
        case GroupKey(j) => gAlias(j)
        case _ => aliasN(i)
      }
      val c0 = col(srcName)
      val c = if (outer.schema(srcName).dataType == ne.dataType) c0
        else c0.cast(ne.dataType)
      c.as(ne.name)
    }: _*)
    val fplan = fin.queryExecution.analyzed
    // type-identity safety net: parents must see exactly the original types
    if (!fplan.output.zip(aggExprs)
        .forall { case (a, o) => a.dataType == o.dataType }) return None
    MetaAgg.served.incrementAndGet()
    if (joinDims.nonEmpty) MetaAgg.servedJoin.incrementAndGet()
    Some(Project(aggExprs.zip(fplan.output).map { case (o, a) =>
      Alias(a, o.name)(exprId = o.exprId)
    }, fplan))
  } catch { case e: Exception =>
    refused(root, "meta-agg", e); None
  }
}
