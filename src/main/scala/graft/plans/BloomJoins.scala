package graft.plans

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, NamedExpression, PlanExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Sample, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.sources.{BloomIndex, Manifests}

/** Bloom-pruned star joins as an OPTIMIZER rule — the ergonomics tier on
  * top of [[graft.sources.BloomIndex.prunedJoin]], the same move
  * [[SummaryViews]] made for `IncrementalAgg`: `prunedJoin` only helps
  * callers who KNOW the index exists; with this rule installed, a plain
  * `fact.join(dim, fact("k") === dim("k"))` — including `spark.sql` from
  * users who never heard of the manifest — routes the fact scan through
  * the per-file Bloom probe and reads only the files that can hold a
  * matching key. At 100 TB this is the star-join point-lookup shape: a
  * dimension filtered to thousands of keys touches a sliver of the fact
  * layout's files, and scan cost follows the sliver. LITERAL point
  * lookups get the same treatment: a plain `WHERE key IN (…)` /
  * `key = lit` over a registered layout (any top-level conjunct that
  * pins the indexed column to literals, including the optimizer's InSet
  * form) swaps the scan for the candidate files while the Filter stays
  * above it — `BloomIndex.prunedRead` ergonomics for users who only
  * speak SQL. RANGE predicates get the zone-map analog: register a
  * zone-mapped layout ([[registerZone]]) and a plain
  * `WHERE col BETWEEN …` / `col >= lit` (any top-level range or
  * equality conjunct on the zoned column; open-ended bounds allowed)
  * swaps the scan for the files whose min/max zone intersects —
  * `ZoneMap.prunedRead` ergonomics, same exactness argument (the
  * Filter stays above; strict bounds probe the closed interval, a
  * sound superset). Zone maps also serve JOINS: an equi-join key
  * landing on a zone-registered column probes with the dim's
  * [min, max] — the natural plan when the layout is range-CLUSTERED on
  * the join key and carries only the cheap zone manifest, no bloom.
  * Multiple pinned conjuncts/columns INTERSECT their candidate sets,
  * across tiers and across legs (join probes ∩ fact-side literal pins ∩
  * fact-side ranges, all on the one swapped scan).
  *
  * Scope is deliberately TIGHT — the rule REFUSES (leaves the plan
  * untouched) unless every condition holds:
  *
  *  - INNER or LEFT-SEMI equi-join (the latter is how `k IN (SELECT …)`
  *    plans) whose every conjunct is a bare cross-side column equality
  *    (expression or non-equi conjuncts refuse); COMPOSITE keys probe
  *    each registered column and INTERSECT the per-column candidate
  *    sets; ANTI joins never prune — they keep exactly the rows a
  *    pruned scan would drop;
  *  - the fact side unwraps through attribute/rename Projects and
  *    Filters to a parquet scan of a REGISTERED layout ([[register]]),
  *    and the join key resolves — through any renames — to that
  *    layout's indexed column;
  *  - the dim side is fully DETERMINISTIC (it is executed once at
  *    optimization time to collect its distinct keys and again at run
  *    time inside the join — a non-deterministic dim could produce
  *    different keys and turn Bloom's false-negative-freedom into real
  *    false negatives);
  *  - the dim's distinct-key count fits the layout's `maxKeys` cap
  *    (hashes-only collect, 8 bytes/key; past that width file skipping
  *    degenerates toward a full scan and the plain join is the honest
  *    plan).
  *
  * Exactness: candidate files are a SUPERSET of every file holding a
  * matching key (Bloom filters have no false negatives); the join itself
  * discards false-positive files' rows, and fact-side Filters stay in
  * place above the swapped scan. The fact scan's output is re-aliased
  * under the ORIGINAL attribute ids, so parents never see the
  * substitution. An empty dim prunes to an empty fact scan — the join's
  * exact answer.
  *
  * Cost & staleness: firing costs two driver-visible jobs at
  * optimization time (the dim distinct-key collect and the files-sized
  * manifest probe) — the price `prunedJoin` callers already pay, moved
  * into planning. The manifest answers AS OF the probe; maintain it with
  * the write path ([[graft.sources.BloomIndex.update]] /
  * [[graft.sources.Compaction]]) exactly as `prunedJoin` requires.
  */
object BloomJoins {

  /** A bloom-indexed fact layout opted into automatic join pruning.
    * `factPath` must carry a `_bloomindex` manifest on `col`. */
  final case class Layout(factPath: String, col: String,
                          maxKeys: Int = 100000)

  /** A zone-mapped fact layout opted into automatic range-scan pruning.
    * `factPath` must carry a `_zonemap` manifest on `col`. */
  final case class ZoneLayout(factPath: String, col: String)

  /** A path may carry SEVERAL bloom layouts — one per indexed column
    * (`_bloomindex` itself is multi-column); a composite-key equi-join
    * INTERSECTS the candidate sets of every registered join column.
    * Re-registering the same (path, col) replaces in place. */
  private val layouts = new PlanShapes.PathRegistry[Layout](_.col)
  private val zones = new PlanShapes.PathRegistry[ZoneLayout](_.col)

  private[plans] def norm(p: String): String = Manifests.normPath(p)

  def register(l: Layout): Unit = layouts.register(l.factPath, l)
  def unregister(factPath: String): Unit = layouts.removeAll(factPath)
  /** Remove ONE indexed column's layout, keeping siblings (the
    * [[SummaryViews.unregister]] two-arg discipline applied here: the
    * single-arg form stays the remove-ALL operation). */
  def unregister(factPath: String, col: String): Unit =
    layouts.remove(factPath, col)
  def registerZone(l: ZoneLayout): Unit = zones.register(l.factPath, l)
  def unregisterZone(factPath: String): Unit = zones.removeAll(factPath)
  /** Remove ONE zoned column's layout, keeping siblings. */
  def unregisterZone(factPath: String, col: String): Unit =
    zones.remove(factPath, col)
  def clear(): Unit = {
    layouts.clear(); zones.clear(); probeCache.clear(); warned.clear()
  }
  def isEmpty: Boolean = layouts.isEmpty && zones.isEmpty

  // ------------------------------------------------------ probe/plan cache

  /** Plan-time probe results keyed by (leg, layout, column, MANIFEST
    * VERSION, probe input — dim plan canonicalized + data fingerprint, or
    * the literal/bound values): a dashboard re-issuing the same query
    * pays the dim key collect + manifest probe ONCE, not per planning —
    * the [[SummaryViews]] version-stamped plan-cache move applied to this
    * rule. Invalidation is the version stamp: every
    * [[graft.sources.BloomIndex]]/[[graft.sources.ZoneMap]] write path
    * bumps [[graft.sources.Manifests.manifestVersion]], changing the key.
    * REFUSALS are cached too (an over-wide dim or a broken manifest would
    * otherwise re-pay its probe on every planning); the sentinel maps
    * back to None. Size bound: ACCESS-ORDER LRU capped at 512 entries —
    * the hot dashboard queries stay cached while one-off probes age out
    * (an eviction costs that query one re-probe). Synchronized map: the
    * cache is touched at PLAN time on the driver, where contention is a
    * handful of concurrent query optimizations at most. */
  private val ProbeCacheCap = 512
  private val probeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Any, Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, Seq[String]]): Boolean =
        size() > ProbeCacheCap
    })
  private val Refused = Seq(" refused sentinel ")

  /** Test spy: probes actually RUN (cache misses). */
  private[graft] val probeRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One probe attempt's outcome, distinguishing CACHEABLE refusals from
    * TRANSIENT ones: an over-wide dim stays over-wide until the data or
    * the manifest version changes (cache it under the stamped key), but an
    * exception-driven refusal (filesystem hiccup, permission blip) must
    * not pin pruning off for the rest of a read-only session — nothing
    * would ever bump the version to clear it. Transient refusals are NOT
    * cached: the next planning retries the probe (the [[SummaryViews]]
    * statePlan discipline). */
  private[plans] sealed trait ProbeOutcome
  private[plans] final case class Probed(files: Seq[String]) extends ProbeOutcome
  private[plans] case object RefusedWide extends ProbeOutcome
  private[plans] case object RefusedTransient extends ProbeOutcome

  /** The join leg's key is (descriptor string, canonicalized dim PLAN) —
    * the plan OBJECT, not its string image: `LocalRelation.toString`
    * elides the row data, so two literal dims with the same schema would
    * collide on a string key and serve each other's candidate files
    * (MISSING JOIN ROWS); structural plan equality includes the rows.
    * Literal/zone legs key on TUPLES of the raw parts for the same
    * reason: a delimiter-joined string would let `IN ('a,b')` and
    * `IN ('a','b')` collide on one key and serve each other's files. */
  private[plans] def cachedProbe(key: Any)
      (compute: => ProbeOutcome): Option[Seq[String]] =
    Option(probeCache.get(key)) match {
      case Some(v) => if (v == Refused) None else Some(v)
      case None =>
        probeRuns.incrementAndGet()
        compute match {
          case Probed(files) =>
            probeCache.put(key, files)
            Some(files)
          case RefusedWide =>
            probeCache.put(key, Refused)
            None
          case RefusedTransient => None // retry next planning
        }
    }

  // --------------------------------------------------- refusal surfacing

  /** Counter (rendered on the /metrics endpoint via
    * [[graft.streaming.GraftMetrics]]) for probe-failure refusals,
    * labelled by layout and rule leg. */
  val RefusalMetric = "graft_rule_refusals_total"

  private val log = org.slf4j.LoggerFactory.getLogger("graft.plans.BloomJoins")
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A probe failure REFUSES (plans stay exact) but must never be silent:
    * at 100 TB a corrupted or permission-broken manifest would otherwise
    * turn every pruned query into an invisible full scan — a 100× cost
    * regression nobody can see. Counted per (layout, leg) and logged once
    * per pair. */
  private[graft] def refused(path: String, leg: String, e: Throwable): Unit = {
    graft.streaming.GraftMetrics.inc(RefusalMetric,
      "layout" -> norm(path), "leg" -> leg)
    if (warned.add(s"$leg|${norm(path)}"))
      log.warn(s"graft BloomJoins: $leg probe failed for layout " +
        s"'${norm(path)}' — refusing to prune (answers stay exact, scans " +
        s"go FULL until the manifest is repaired): $e")
  }

  private[graft] def layoutsFor(path: String): Seq[Layout] = layouts.get(path)

  /** The relation's single layout root, when it is a single-root parquet
    * scan, with catalog discovery probed on the way — shared by every
    * rule in this tier ([[RewriteToBloomPrunedJoin]],
    * [[RewriteToMetaAggregate]]). MULTI-root relations refuse: candidate
    * files of different roots cannot anchor at one `basePath`, and
    * per-root sets would have to union before any intersection. */
  private[plans] def singleRootOf(
      spark: SparkSession,
      rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        val p = fs.location.rootPaths.head.toString
        GraftCatalog.ensureDiscovered(spark, Seq(p))
        Some(p)
      case _ => None
    }

  private[graft] def zoneLayoutsFor(path: String): Seq[ZoneLayout] =
    zones.get(path)

  /** Install on an existing session, in [[PlanShapes.rules]] order. */
  def install(spark: SparkSession): Unit =
    PlanShapes.install(spark, classOf[RewriteToBloomPrunedJoin])

  def uninstall(spark: SparkSession): Unit =
    PlanShapes.uninstall(spark, classOf[RewriteToBloomPrunedJoin])
}

/** The rewrite rule. Runs in the user-provided-optimizer batch; the
  * guarded pattern is `Join(Inner|LeftSemi, …, ⋀ EqualTo(factKeyᵢ,
  * dimKeyᵢ))` with the fact side landing on a registered parquet layout —
  * composite keys probe per column and intersect candidate sets. */
final case class RewriteToBloomPrunedJoin(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  import BloomJoins._

  /** Collecting the dim keys executes a query WHILE this rule is running;
    * that inner query's optimization must not re-enter the rule (a dim
    * containing its own prunable join is served un-pruned — conservative
    * and terminating). */
  private val inRule = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (inRule.get()) plan // registries may fill via catalog DISCOVERY —
    else {                 // no isEmpty fast-path (lookups below are cheap)
      inRule.set(true)
      // TOP-DOWN so the join site sees the fact leg's ORIGINAL Filter
      // stack: the join rewrite collects those conjuncts and intersects
      // their literal/zone candidate sets with the dim-driven ones on ONE
      // scan; bottom-up, the Filter site would swap the scan first and the
      // join leg's pruning would be lost. Filters not under a prunable
      // join still match the Filter case on the downward recursion.
      try plan.transformDown {
        case j @ Join(left, right, Inner, Some(cond), _) =>
          // either side may be the fact, and each equality may be written
          // in either order — normalize conjuncts to (left, right) pairs,
          // then try both orientations, first success wins. COMPOSITE
          // equi-joins prune too: per-column candidate sets INTERSECT.
          PlanShapes.equiPairs(cond, left, right).flatMap { pairs =>
            tryPrune(j, left, right, pairs)
              .orElse(tryPrune(j, right, left, pairs.map(_.swap)))
          }.getOrElse(j)
        case j @ Join(left, right, LeftSemi, Some(cond), _) =>
          // the `k IN (SELECT …)` plan shape: semi output = matching fact
          // rows only, so the candidate-superset swap stays exact. The
          // fact is ALWAYS the left side; anti joins must never prune
          // (they keep exactly the rows a pruned scan would drop).
          PlanShapes.equiPairs(cond, left, right)
            .flatMap(pairs => tryPrune(j, left, right, pairs))
            .getOrElse(j)
        case fl @ Filter(cond, rel: LogicalRelation) =>
          // LITERAL point lookups — `key IN (…)` / `key = lit` spelled as
          // plain SQL over a registered layout: a top-level conjunct that
          // pins the indexed column to literals bounds the matching rows
          // to the files whose filters fire; the Filter itself stays
          // above the swapped scan, so false positives are re-filtered
          // exactly. OR-branches never prune (only top-level conjuncts
          // are inspected). Range conjuncts route through the zone-map
          // registry the same way, and the two tiers COMPOSE: bloom and
          // zone candidate sets on one relation intersect.
          tryPruneFilter(fl, cond, rel).getOrElse(fl)
      } finally inRule.set(false)
    }

  /** Literal values a top-level conjunct pins `key` to — the smallest
    * such list (any pinning conjunct yields a sound candidate superset).
    * NULL literals are dropped: `key = NULL` / `IN (…, NULL)` never
    * match rows, so they need no candidate files. */
  private def pinnedValues(cond: Expression,
                           key: AttributeReference): Option[Seq[Any]] = {
    val toScala = CatalystTypeConverters.createToScalaConverter(key.dataType)
    val lists = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some(Seq(l.value))
      case EqualTo(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some(Seq(l.value))
      case In(a: AttributeReference, vs)
          if a.exprId == key.exprId &&
            vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, hset)
          if a.exprId == key.exprId => Some(hset.toSeq)
      case _ => None
    }
    if (lists.isEmpty) None
    else Some(lists.minBy(_.length)
      .filter(_ != null).map(toScala))
  }

  /** Candidate-file sets from LITERAL pins on bloom-registered columns:
    * one entry per (registered column × pinning conjunct set); None =
    * that leg refused (too wide, probe failure) and contributes nothing.
    * Only when EVERY leg refuses does the caller's rewrite refuse. */
  private def bloomLiteralSets(cond: Expression, rel: LogicalRelation,
                               ls: Seq[Layout]): Seq[Option[Seq[String]]] =
    for {
      l <- ls
      key <- rel.output.find(a => a.name == l.col).toSeq
      values <- pinnedValues(cond, key).toSeq
    } yield {
      if (values.length > l.maxKeys) None
      else if (values.isEmpty)
        // every pinned literal was NULL: no row can match - zero
        // candidates is this conjunct's exact answer
        Some(Nil)
      else {
        // collision-free tuple key: raw parts, values as a sorted LIST
        val ck = ("lit", norm(l.factPath), l.col,
          graft.sources.Manifests.manifestVersion(l.factPath, "_bloomindex"),
          values.map(String.valueOf).sorted.toList)
        cachedProbe(ck) {
          try Probed(BloomIndex.candidateFiles(
            spark, l.factPath, l.col, values))
          catch { case e: Exception =>
            refused(l.factPath, "literal-scan", e); RefusedTransient }
        }
      }
    }

  /** Candidate-file sets from RANGE/equality bounds on zone-registered
    * columns, same refusal semantics as [[bloomLiteralSets]]. */
  private def zoneRangeSets(cond: Expression, rel: LogicalRelation,
                            zls: Seq[ZoneLayout]): Seq[Option[Seq[String]]] =
    for {
      zl <- zls
      key <- rel.output.find(_.name == zl.col).toSeq
      (lo, hi) <- rangeBounds(cond, key)
    } yield {
      val ck = ("zone", norm(zl.factPath), zl.col,
        graft.sources.Manifests.manifestVersion(zl.factPath, "_zonemap"),
        lo, hi)
      cachedProbe(ck) {
        try Probed(graft.sources.ZoneMap.candidateFilesBounded(
          spark, zl.factPath, zl.col, lo, hi))
        catch { case e: Exception =>
          refused(zl.factPath, "zone-scan", e); RefusedTransient }
      }
    }

  /** Swap a registered relation under a literal/range-pinned Filter for
    * the candidate-files scan; None refuses (unregistered, no pinning
    * conjunct, every leg refused). The BLOOM and ZONE tiers COMPOSE here:
    * pins on several bloom-registered columns, ranges on zone-registered
    * columns, and any mix of the two INTERSECT their candidate sets on
    * the one scan — `WHERE key IN (…) AND day BETWEEN …` skips by both
    * legs at once. A leg that refuses (too wide, probe failure)
    * contributes nothing; only when NO leg lands does the rewrite. */
  private def tryPruneFilter(fl: Filter, cond: Expression,
                             rel: LogicalRelation): Option[LogicalPlan] =
    singleRootOf(spark, rel).flatMap { root =>
      val ls = layoutsFor(root)
      val zls = zoneLayoutsFor(root)
      if (zls.exists(zl => rel.output.find(_.name == zl.col)
          .exists(key => nullComparison(cond, key))))
        // a NULL comparison on a zoned column keeps no rows: exact empty
        Some(fl.copy(child = LocalRelation(rel.output)))
      else {
        val probed = (bloomLiteralSets(cond, rel, ls) ++
          zoneRangeSets(cond, rel, zls)).flatten
        if (probed.isEmpty) None
        else swappedScan(rel,
            probed.map(_.toSet).reduce(_ intersect _).toSeq.sorted,
            root, "filter-scan")
          .map(s => fl.copy(child = s))
      }
    }

  /** Swap the registered relation under `factSide` for a candidate-files
    * scan driven by `dimSide`'s distinct keys; None refuses. `pairs` are
    * the normalized (factKey, dimKey) equi-conjuncts — a composite key
    * probes each registered column independently and INTERSECTS the
    * candidate sets (sound: each set is a superset of the files holding
    * rows matching its column, so the intersection is a superset of the
    * files holding rows matching all of them). Only pairs whose dim KEY
    * SET is reproducible ([[deterministic]]) probe; if none qualifies,
    * the join is left untouched. */
  private def tryPrune(join: Join, factSide: LogicalPlan,
                       dimSide: LogicalPlan,
                       pairs: Seq[(AttributeReference, AttributeReference)])
      : Option[LogicalPlan] = {
    val oriented = pairs.filter { case (fk, dk) =>
      factSide.outputSet.contains(fk) && dimSide.outputSet.contains(dk)
    }
    val probeable = oriented.filter { case (_, dk) =>
      deterministic(dimSide, dk)
    }
    if (oriented.length != pairs.length || probeable.isEmpty) None
    else rewriteFact(factSide, probeable, dimSide, Nil).map { newFact =>
      if (factSide eq join.left) join.copy(left = newFact)
      else join.copy(right = newFact)
    }
  }

  /** The dim is executed TWICE — once at plan time (the key collect) and
    * once at run time (inside the join) — so its KEY SET must be
    * reproducible, not merely its expressions:
    *
    *  - expression-level: any non-deterministic expression refuses, and
    *    SUBQUERY expressions are recursed into explicitly — a dim
    *    filtered by `x > (SELECT rand() …)` carries the non-determinism
    *    in a nested PLAN that the expression's own `deterministic` flag
    *    does not reliably surface;
    *  - plan-level: `Sample` and `Limit` select a run-dependent SUBSET of
    *    deterministic rows (a limit without a total order is
    *    whichever-rows-arrive-first), so two executions can legally
    *    return different keys — both refuse, with ONE carve-out: a Limit
    *    above a GLOBAL Sort whose deterministic ordering includes the
    *    key column ITSELF is reproducible in the only sense that matters
    *    here (rows tied on the full ordering carry equal keys, so
    *    whichever tie-rows the limit keeps, the selected KEY SET is
    *    identical run to run — the `ORDER BY price DESC, key LIMIT n`
    *    top-n dim). Bloom's no-false-negatives guarantee only holds when
    *    the run-time keys are a subset of the plan-time collect.
    *
    * `key` is tracked through attribute/rename Projects; in subtrees that
    * do not produce the key (the far side of a nested join — whose row
    * set still selects WHICH keys survive), limits refuse unconditionally
    * because the sort-contains-key carve-out can never certify them. */
  private def deterministic(plan: LogicalPlan,
                            key: AttributeReference): Boolean = plan match {
    case _: Sample => false
    case GlobalLimit(_, child) => limitedSortOk(child, key)
    case LocalLimit(_, child) => limitedSortOk(child, key)
    case Project(exprs, child) if exprs.forall(exprDeterministic) =>
      exprs.collectFirst {
        case al @ Alias(a: AttributeReference, _)
          if al.exprId == key.exprId => a
        case a: AttributeReference if a.exprId == key.exprId => a
      } match {
        case Some(k) => deterministic(child, k)
        case None => // key computed or absent here: no limit may hide below
          deterministic(child, key)
      }
    case p =>
      p.expressions.forall(exprDeterministic) &&
        p.children.forall(c => deterministic(c, key))
  }

  /** The body under a Limit: unwrap the paired inner limit and rename
    * Projects, then demand a global Sort that is deterministic AND orders
    * on the key column (see [[deterministic]]'s carve-out). */
  private def limitedSortOk(plan: LogicalPlan,
                            key: AttributeReference): Boolean = plan match {
    case LocalLimit(_, child) => limitedSortOk(child, key)
    case Project(exprs, child) if exprs.forall(exprDeterministic) =>
      exprs.collectFirst {
        case al @ Alias(a: AttributeReference, _)
          if al.exprId == key.exprId => a
        case a: AttributeReference if a.exprId == key.exprId => a
      }.exists(k => limitedSortOk(child, k))
    case s: Sort if s.global =>
      s.order.forall(o => exprDeterministic(o.child)) &&
        s.order.exists(_.child match {
          case a: AttributeReference => a.exprId == key.exprId
          case _ => false
        }) &&
        deterministic(s.child, key)
    case _ => false
  }

  private def exprDeterministic(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case pe: PlanExpression[_] => pe.plan match {
        case lp: LogicalPlan =>
          // inside a subquery there is no key to track — strict scan:
          // Sample/Limit there are run-dependent row selection too
          lp.exists {
            case _: Sample | _: GlobalLimit | _: LocalLimit => true
            case p => p.expressions.exists(x => !exprDeterministic(x))
          }
        case _ => false
      }
      case _ => false
    }

  /** Unwrap attribute/rename Projects and Filters down to the registered
    * relation, rebuild the same stack over the pruned scan. Each join key
    * is tracked THROUGH renames (`Alias(attr, name)` projections the
    * optimizer interposes), so the registry check compares RELATION-level
    * column names. A key that stops being a bare attribute mid-stack
    * drops out (its conjunct just cannot drive pruning); the rewrite
    * refuses only when NO key survives to a registered column. Filter
    * CONDITIONS on the way down are collected: at the relation, literal
    * pins and zone ranges among them contribute their candidate sets to
    * the same intersection as the dim-driven probe (conjuncts reference
    * attributes by exprId, so a condition above a rename simply never
    * matches the relation's output — a missed opportunity, never a wrong
    * prune). */
  private def rewriteFact(plan: LogicalPlan,
                          pairs: Seq[(AttributeReference, AttributeReference)],
                          dimSide: LogicalPlan,
                          conds: List[Expression]): Option[LogicalPlan] =
    plan match {
      case p @ Project(exprs, child)
          if exprs.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            case _ => false
          } =>
        val mapped = pairs.flatMap { case (fk, dk) =>
          exprs.collectFirst {
            case al @ Alias(c: AttributeReference, _)
                if al.exprId == fk.exprId => (c, dk)
            case a: AttributeReference if a.exprId == fk.exprId => (a, dk)
          }
        }
        if (mapped.isEmpty) None
        else rewriteFact(child, mapped, dimSide, conds)
          .map(c => p.copy(child = c))
      case f @ Filter(fc, child) =>
        rewriteFact(child, pairs, dimSide, fc :: conds)
          .map(c => f.copy(child = c))
      case rel: LogicalRelation =>
        singleRootOf(spark, rel).flatMap { root =>
          val ls = layoutsFor(root)
          val usable = pairs.flatMap { case (fk, dk) =>
            ls.find(l => l.col == fk.name &&
                rel.output.exists(_.exprId == fk.exprId))
              .map(l => (l, dk))
          }
          // ZONE-driven join pruning: an equi-join key landing on a
          // zone-registered column probes with the dim's [min, max] —
          // files whose zone misses that interval cannot hold a matching
          // key. No bloom index needed: the natural plan for layouts
          // that are range-CLUSTERED on the join key (time-bucketed,
          // id-sorted), where a zone map is the cheap manifest.
          val usableZone = pairs.flatMap { case (fk, dk) =>
            zoneLayoutsFor(root).find(z => z.col == fk.name &&
                rel.output.exists(_.exprId == fk.exprId))
              .map(z => (z, dk))
          }
          if (usable.isEmpty && usableZone.isEmpty) None
          else prunedScan(rel, usable, usableZone, dimSide, conds, root)
        }
      case _ => None
    }

  /** The pruned replacement for `rel`: probe the manifest with each dim
    * key's distinct hashes, intersect the per-column candidate sets, scan
    * only surviving files, re-alias to `rel`'s original output ids. Both
    * driver jobs per column (key collect + manifest probe) run under
    * [[BloomJoins.cachedProbe]]: replanning the same query is a memory
    * lookup until either the manifest version bumps or the dim's data
    * fingerprint changes. A column whose probe refuses (over-wide dim,
    * broken manifest) contributes nothing; the swap happens as long as
    * at least one column's probe lands. */
  private def prunedScan(rel: LogicalRelation,
                         usable: Seq[(Layout, AttributeReference)],
                         usableZone: Seq[(ZoneLayout, AttributeReference)],
                         dimSide: LogicalPlan,
                         conds: List[Expression],
                         root: String): Option[LogicalPlan] = {
    val perCol: Seq[Option[Seq[String]]] = usable.map { case (layout, dk) =>
      // the key's POSITION in the dim output is canonical across plan
      // instances (exprIds are re-minted per query, the ordinal is not)
      val keyOrd = dimSide.output.indexWhere(_.exprId == dk.exprId)
      val ck = (s"join|${norm(layout.factPath)}|${layout.col}|" +
        s"${layout.maxKeys}|" +
        s"v${graft.sources.Manifests.manifestVersion(
          layout.factPath, "_bloomindex")}|k$keyOrd|" +
        dimFingerprint(dimSide)) -> dimSide.canonicalized
      cachedProbe(ck) {
        try {
          val dimDf = GraftBridge.ofRows(spark, dimSide)
          // bind by the attribute itself, not the name — dim outputs may
          // carry duplicate names after self-joins
          val keyCol = GraftBridge.column(dk)
          val hashes = dimDf.filter(keyCol.isNotNull)
            .select(keyCol.cast("string").as("__k"))
            .distinct().limit(layout.maxKeys + 1)
            .select(xxhash64(col("__k")).as("h"))
            .collect().map(_.getLong(0))
          if (hashes.length > layout.maxKeys)
            RefusedWide // too wide: plain join wins (stays wide until the
                        // data changes — cacheable under the stamped key)
          else if (hashes.isEmpty)
            // no live dim keys: the inner join is empty - exact
            Probed(Nil)
          else Probed(BloomIndex.candidateFilesForHashes(
            spark, layout.factPath, layout.col, hashes))
        } catch { case e: Exception => // probe failed: refuse, not crash
          refused(layout.factPath, "join", e); RefusedTransient }
      }
    }
    // zone-driven join legs: collect the dim key's [min, max] (one cheap
    // two-value aggregate, cached like the bloom probe) and keep the
    // files whose zone intersects it — a sound candidate superset (every
    // matching key lies inside the dim's own extremes)
    val perZone: Seq[Option[Seq[String]]] = usableZone.map { case (zl, dk) =>
      val keyOrd = dimSide.output.indexWhere(_.exprId == dk.exprId)
      val ck = (s"zjoin|${norm(zl.factPath)}|${zl.col}|" +
        s"v${graft.sources.Manifests.manifestVersion(
          zl.factPath, "_zonemap")}|k$keyOrd|" +
        dimFingerprint(dimSide)) -> dimSide.canonicalized
      cachedProbe(ck) {
        try {
          val dimDf = GraftBridge.ofRows(spark, dimSide)
          val keyCol = GraftBridge.column(dk)
          val mm = dimDf.agg(min(keyCol).as("lo"), max(keyCol).as("hi"))
            .collect().head
          if (mm.isNullAt(0))
            Probed(Nil) // no live dim keys: the inner join is empty
          else Probed(graft.sources.ZoneMap.candidateFilesBounded(
            spark, zl.factPath, zl.col, Some(mm.get(0)), Some(mm.get(1))))
        } catch { case e: Exception =>
          refused(zl.factPath, "zone-join", e); RefusedTransient }
      }
    }
    val joinSets = (perCol ++ perZone).flatten
    if (joinSets.isEmpty) None // no join leg landed: the Filter site (if
    else {                     // any pins match) still fires further down
      // compose with the fact side's own Filters: literal pins on
      // bloom-registered columns and ranges on zone-registered columns
      // contribute their candidate sets to the SAME intersection — the
      // `dim ⋈ fact WHERE fact.day BETWEEN …` shape skips by both legs
      val filterSets = conds.reduceOption(And).toSeq.flatMap { c =>
        bloomLiteralSets(c, rel, layoutsFor(root)) ++
          zoneRangeSets(c, rel, zoneLayoutsFor(root))
      }.flatten
      swappedScan(rel,
        (joinSets ++ filterSets).map(_.toSet).reduce(_ intersect _)
          .toSeq.sorted,
        root, "join")
    }
  }

  /** Data fingerprint of the dim's file-backed leaves (including inside
    * subquery plans): a dim table OVERWRITTEN at the same path must miss
    * the probe cache — the canonicalized plan alone is listing-blind.
    * Parquet (over-)writes mint fresh part-file names, so the listing
    * hash catches them; in-place mutation of an existing file is outside
    * the contract (it would break Spark's own FileIndex caching too). */
  private def dimFingerprint(plan: LogicalPlan): String =
    plan.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles
          s"${files.length}:${files.toSeq.hashCode}:${fs.sizeInBytes}"
        case o => o.toString
      }
    }.mkString(";")

  /** Does any top-level conjunct compare `key` to a NULL literal (either
    * side)? Such a conjunct evaluates to NULL on every row — the Filter
    * keeps nothing — so the pruned scan may collapse to the exact empty
    * answer without relying on downstream null semantics. (The main
    * optimizer's NullPropagation usually folds this shape away before the
    * rule runs; the rule stays explicit about it regardless.) */
  private def nullComparison(cond: Expression,
                             key: AttributeReference): Boolean =
    splitConjunctivePredicates(cond).exists {
      case GreaterThan(a: AttributeReference, Literal(null, _))
        if a.exprId == key.exprId => true
      case LessThan(a: AttributeReference, Literal(null, _))
        if a.exprId == key.exprId => true
      case GreaterThanOrEqual(a: AttributeReference, Literal(null, _))
        if a.exprId == key.exprId => true
      case LessThanOrEqual(a: AttributeReference, Literal(null, _))
        if a.exprId == key.exprId => true
      case EqualTo(a: AttributeReference, Literal(null, _))
        if a.exprId == key.exprId => true
      case GreaterThan(Literal(null, _), a: AttributeReference)
        if a.exprId == key.exprId => true
      case LessThan(Literal(null, _), a: AttributeReference)
        if a.exprId == key.exprId => true
      case GreaterThanOrEqual(Literal(null, _), a: AttributeReference)
        if a.exprId == key.exprId => true
      case LessThanOrEqual(Literal(null, _), a: AttributeReference)
        if a.exprId == key.exprId => true
      case EqualTo(Literal(null, _), a: AttributeReference)
        if a.exprId == key.exprId => true
      case _ => false
    }

  /** (lo, hi) interval bounds a top-level conjunct pins `key` into —
    * None = open on that side. Strict bounds map to the closed interval
    * (a sound candidate superset; the Filter above is exact). NULL
    * literals never match a range comparison and are skipped SYMMETRICALLY
    * (either side of the comparison — a left-side `lit(null) > col` must
    * not leak a `Some(null)` bound into the zone probe); the
    * [[nullComparison]] check above already collapsed the scan. */
  private def rangeBounds(cond: Expression, key: AttributeReference)
      : Seq[(Option[Any], Option[Any])] = {
    val toScala = CatalystTypeConverters.createToScalaConverter(key.dataType)
    def v(l: Literal): Any = toScala(l.value)
    splitConjunctivePredicates(cond).flatMap {
      case _ @ (GreaterThan(_, Literal(null, _)) |
                LessThan(_, Literal(null, _)) |
                GreaterThanOrEqual(_, Literal(null, _)) |
                LessThanOrEqual(_, Literal(null, _)) |
                EqualTo(_, Literal(null, _)) |
                GreaterThan(Literal(null, _), _) |
                LessThan(Literal(null, _), _) |
                GreaterThanOrEqual(Literal(null, _), _) |
                LessThanOrEqual(Literal(null, _), _) |
                EqualTo(Literal(null, _), _)) => None
      case GreaterThan(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some((Some(v(l)), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some((Some(v(l)), None))
      case LessThan(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some((None, Some(v(l))))
      case LessThanOrEqual(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some((None, Some(v(l))))
      case GreaterThan(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some((None, Some(v(l))))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some((None, Some(v(l))))
      case LessThan(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some((Some(v(l)), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some((Some(v(l)), None))
      case EqualTo(a: AttributeReference, l: Literal)
          if a.exprId == key.exprId => Some((Some(v(l)), Some(v(l))))
      case EqualTo(l: Literal, a: AttributeReference)
          if a.exprId == key.exprId => Some((Some(v(l)), Some(v(l))))
      case _ => None
    }
  }

  /** A scan of exactly `files`, re-aliased under `rel`'s original output
    * ids (parents never see the substitution); empty file list collapses
    * to an exact empty LocalRelation. The read is under the same
    * refuse-not-crash discipline as the probes: a candidate file deleted
    * between the manifest probe and the swap (a compaction window, an
    * out-of-process rewrite) refuses to prune instead of failing the
    * whole query at planning time. */
  private def swappedScan(rel: LogicalRelation, files: Seq[String],
                          root: String, leg: String): Option[LogicalPlan] = {
    if (files.isEmpty) Some(LocalRelation(rel.output))
    else try {
      // anchor the candidate-file read at the layout root so a
      // HIVE-PARTITIONED layout (the FileDestination batch_id=/collection=
      // shape) keeps its directory-derived partition columns — without
      // basePath the pruned scan would lose them and the schema guard
      // below would refuse every partitioned layout. `root` is the
      // relation's SINGLE root ([[BloomJoins.singleRootOf]]), by
      // construction the directory every candidate file lives under.
      val scan = graft.sources.Manifests
        .batchedRead(spark, files.iterator, basePath = Some(root))
        .get.queryExecution.analyzed
      val byName = scan.output.map(a => a.name -> a).toMap
      // every original column must exist in the pruned scan (same
      // files, same schema) — refuse on any surprise
      if (!rel.output.forall(o => byName.contains(o.name))) None
      else {
        val restored: Seq[NamedExpression] = rel.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId))
        Some(Project(restored, scan))
      }
    } catch { case e: Exception =>
      refused(root, leg, e); None
    }
  }
}
