package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSession

import graft.model.AggregationMethod
import graft.store.MetricStore

/** Whisper's archive selection (/root/reference/whisper.py:947-954) as a
  * Catalyst optimizer rule: an aggregation that re-derives a coarser
  * rollup from level-0 points is rewritten to SCAN the store's
  * precomputed rollup level instead — materialized-view substitution for
  * the rollup hierarchy.
  *
  * Matches plans of the shape
  *   Aggregate(
  *     groupBy = [metric, interval - (interval % S)],
  *     agg     = [kernel(value)],
  *     child   = <level-0 scan of a registered store>)
  * where the store's policy has a level with secondsPerPoint == S and the
  * kernel matches the policy's aggregation method. The rewrite preserves
  * output attribute ids by aliasing the substituted scan's columns, so
  * parent operators are untouched.
  *
  * Correctness note: substitution is semantics-preserving only because
  * the store maintains level-S with EXACTLY this aggregation (same xff
  * gate, same kernel) — which also means a query whose window matches a
  * level but whose kernel differs is deliberately NOT rewritten. xff>0
  * policies additionally gate rollup rows, so substitution is restricted
  * to xff == 0 policies (where rollup rows = plain window aggregates).
  *
  * Enable per session via `RollupSubstitution.register(spark, store)`
  * (uses `spark.experimental.extraOptimizations`, no session rebuild).
  */
final case class RollupSubstitution(spark: SparkSession, store: MetricStore)
    extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // xff-gated shape: the query reproduces the store's gate explicitly
    //   Project(metric, interval, value,
    //     Filter(known > 0 && known/slots >= xff,
    //       Aggregate([metric, align], [metric, interval, kernel, count])))
    // — sound for ANY policy xff, because level-i rows are exactly the
    // gated window aggregates.
    case p @ Project(_, Filter(cond, agg @ Aggregate(groupingExprs, aggExprs, child, _)))
        if groupingExprs.size == 2 && p.output.size == 3 =>
      rewriteGated(p, cond, agg, groupingExprs, aggExprs, child)
        .orElse(rewriteGatedWindow(p, cond, agg, groupingExprs, aggExprs, child))
        .orElse(rewriteGatedTrunc(p, cond, agg, groupingExprs, aggExprs, child))
        .orElse(rewriteMultiPolicy(p))
        .getOrElse(p)
    // gated shape KEEPING the count output: the passthrough Project is
    // optimized away, leaving the bare Filter over the 4-output Aggregate
    // (align-arithmetic and window() spellings)
    case f @ Filter(cond, agg @ Aggregate(groupingExprs, aggExprs, child, _))
        if groupingExprs.size == 2 && agg.output.size == 4 =>
      rewriteGatedKnown(f, cond, agg, groupingExprs, aggExprs, child)
        .orElse(rewriteGatedKnownWindow(f, cond, agg, groupingExprs, aggExprs, child))
        .orElse(rewriteGatedKnownTrunc(f, cond, agg, groupingExprs, aggExprs, child))
        .orElse(rewriteMultiPolicy(f))
        .getOrElse(f)
    case agg @ Aggregate(groupingExprs, aggExprs, child, _)
        if groupingExprs.size == 2 =>
      rewrite(agg, groupingExprs, aggExprs, child)
        .orElse(rewriteWindow(agg, groupingExprs, aggExprs, child))
        .orElse(rewriteTrunc(agg, groupingExprs, aggExprs, child))
        .orElse(rewritePruned(agg, groupingExprs, aggExprs, child))
        .orElse(rewritePrunedWindow(agg, groupingExprs, aggExprs, child))
        .orElse(rewriteKnown(agg, groupingExprs, aggExprs, child))
        .orElse(rewriteKnownWindow(agg, groupingExprs, aggExprs, child))
        .orElse(rewriteMultiPolicy(agg))
        .getOrElse(agg)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Substitution validates ONE policy's xff/steps/kernel, but the
    * level_i directories are shared by every metric in the store
    * (MetricStore.updateMany supports heterogeneous per-metric
    * policies). Substituting a level scan after checking only one
    * metric's policy would return wrong grids for metrics with a
    * different one — so require the store to be policy-uniform,
    * mirroring upsertRollups' guard; on non-uniform stores
    * [[pinnedPolicy]] still substitutes queries whose predicates pin
    * the scan to metrics of a single policy.
    */
  /** Also requires the store's levels to still BE the cascade of the
    * current level-0 table: points that routed directly into coarser
    * archives (too old for level 0), external rollup upserts, value
    * transforms, per-level merges/fills, and policy edits all make a
    * level scan disagree with a level-0 aggregation — for EVERY kernel —
    * and the store marks that divergence.
    */
  private def uniformPolicy: Option[graft.model.RetentionPolicy] = {
    if (!store.rollupsDerivedFromLevel0) return None
    val ps = store.policies().values.toSeq.distinct
    if (ps.size == 1) ps.headOption else None
  }

  /** Heterogeneous stores (whisper's storage-schemas.conf: per-family
    * retention): substitution is still sound when the query's scan is
    * PINNED to metrics that all share one policy — the pinning conjunct
    * (an equality/IN on `metric` with string literals) restricts the
    * input to a subset of those names, every carried metric predicate is
    * reapplied on the substituted level scan, and each policy's cascade
    * writes its metrics' level-i rollups into the shared `level_i`
    * directory, so the pinned policy's level index + the carried metric
    * filter read exactly the pinned metrics' rollups. Names the store
    * never created contribute no rows on either side; at least one
    * pinned name must resolve to a policy, and all resolving names must
    * agree on it. OR-arms / IN-lists that mix policies refuse — the
    * substituted grid would be wrong for one family.
    */
  /** The metric names a predicate set PINS the scan to: the names of the
    * first conjunct that is an equality / IN / OR-of-equalities on the
    * metric column with string literals (a conjunct restricts the scan
    * to a subset of its names; any non-pinning OR-arm un-pins its Or).
    * None when no conjunct pins.
    */
  private def pinnedNames(preds: Seq[Expression],
                          metricId: Option[ExprId]): Option[Seq[String]] = {
    def isMetric(e: Expression): Boolean = e match {
      case a: Attribute => metricId.contains(a.exprId)
      case _ => false
    }
    def strLit(e: Expression): Option[String] = e match {
      case Literal(v, _: org.apache.spark.sql.types.StringType) if v != null =>
        Some(v.toString)
      case _ => None
    }
    def names(conj: Expression): Option[Seq[String]] = conj match {
      case EqualTo(a, l) if isMetric(a)       => strLit(l).map(Seq(_))
      case EqualTo(l, a) if isMetric(a)       => strLit(l).map(Seq(_))
      case EqualNullSafe(a, l) if isMetric(a) => strLit(l).map(Seq(_))
      case EqualNullSafe(l, a) if isMetric(a) => strLit(l).map(Seq(_))
      case In(a, ls) if isMetric(a) =>
        val ss = ls.map(strLit)
        if (ss.nonEmpty && ss.forall(_.isDefined)) Some(ss.flatten) else None
      case InSet(a, vs) if isMetric(a) =>
        Some(vs.toSeq.collect { case s if s != null => s.toString })
      case Or(x, y) =>
        for { nx <- names(x); ny <- names(y) } yield nx ++ ny
      case _ => None
    }
    preds.flatMap(names(_)).headOption
  }

  private def pinnedPolicy(preds: Seq[Expression],
                           leaf: LogicalPlan): Option[graft.model.RetentionPolicy] = {
    if (!store.rollupsDerivedFromLevel0) return None
    val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
    pinnedNames(preds, metricId).flatMap { ns =>
      val pols = store.policies()
      val found = ns.flatMap(pols.get).distinct
      if (found.size == 1) Some(found.head) else None
    }
  }

  /** Multi-policy pinned substitution: a pin whose names span N > 1
    * retention families refuses the single-policy path — but the
    * grouping includes `metric`, so the aggregate (and any per-group
    * xff gate above it) DISTRIBUTES over a disjoint partition of the
    * pinned names. Rewrite to the UNION of per-family copies of the
    * matched plan, each narrowed by a leading `metric IN (family
    * names)` conjunct that the normal machinery then substitutes with
    * that family's own level choice and carried pin — the Grafana
    * dashboard shape (panels mixing fast/slow metric families) that
    * previously fell back to a full level-0 scan.
    *
    * All-or-nothing: if any family's branch fails to substitute (no
    * matching level, kernel/gate mismatch, depth rule), the whole
    * rewrite refuses and the original single level-0 scan stands — a
    * split that still scans level-0 per branch would trade one scan
    * for N without buying anything. Unpinned heterogeneous reads still
    * refuse: this path only fires on an explicit multi-family pin.
    */
  private def rewriteMultiPolicy(top: LogicalPlan): Option[LogicalPlan] = {
    if (!store.rollupsDerivedFromLevel0) return None
    if (uniformPolicy.isDefined) return None
    val located: Option[(Aggregate, LogicalPlan => LogicalPlan)] = top match {
      case a: Aggregate => Some((a, c => a.copy(child = c)))
      case p @ Project(_, f @ Filter(_, a: Aggregate)) =>
        Some((a, c => p.copy(child = f.copy(child = a.copy(child = c)))))
      case f @ Filter(_, a: Aggregate) =>
        Some((a, c => f.copy(child = a.copy(child = c))))
      case _ => None
    }
    located.flatMap { case (agg, rebuild) =>
      val child = agg.child
      matchLevel0ScanFiltered(child).map(s => (s.leaf, s.preds))
        .orElse(walkWindowChain(child).map(c => (c.leaf, c.resolvedPreds)))
        .flatMap { case (leaf, preds) =>
          val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
          for {
            ns <- pinnedNames(preds, metricId)
            m <- child.output.find(_.name == "metric")
            pols = store.policies()
            families = ns.distinct
              .flatMap(n => pols.get(n).map(_ -> n))
              .groupBy(_._1).toSeq
              .map { case (p, xs) => (p, xs.map(_._2).sorted) }
              .sortBy(_._2.head)
            if families.size >= 2
            branches = families.map { case (_, names) =>
              // the narrowing conjunct lands FIRST in the walked preds,
              // so the branch's pinnedPolicy resolves its one family;
              // it is metric-only, so commutingPreds carries it onto
              // the substituted level scan
              apply(rebuild(Filter(
                In(m, names.map(Literal.create(_,
                  org.apache.spark.sql.types.StringType))), child)))
            }
            // all-or-nothing: every branch must have dropped its level-0
            // scan for the union to beat the original plan
            if branches.forall(_.find(isLevel0Leaf).isEmpty)
          } yield branches.reduce(
            org.apache.spark.sql.catalyst.plans.logical.Union(_, _))
        }
    }
  }

  /** Policy governing a matched scan: the store-uniform policy, else the
    * policy its predicates pin (heterogeneous stores). Re-runs the scan
    * match the caller already did — plan-walk only, optimizer-time cheap
    * — to keep the seventeen rewrite sites a one-line change.
    */
  private def policyFor(child: LogicalPlan): Option[graft.model.RetentionPolicy] =
    uniformPolicy.orElse {
      matchLevel0ScanFiltered(child).map(sm => (sm.preds, sm.leaf))
        .orElse(walkWindowChain(child).map(c => (c.resolvedPreds, c.leaf)))
        .flatMap { case (ps, leaf) => pinnedPolicy(ps, leaf) }
    }

  /** The store cascade computes level i from level i-1 (matching
    * whisper.py:858-875), so a level>=2 Average VALUE is an avg-of-avgs —
    * it differs from the query's true average over level-0 points
    * whenever subwindow point counts vary. Sum/Max/Min/Last cascade
    * exactly (missing subwindows contribute nothing; extrema and
    * chronological-last compose), but ONLY under the xff==0 gate the
    * non-gated paths already require: an xff>0 gate at depth>=2 counts
    * known level-(i-1) rows, not known level-0 points, so the surviving
    * row sets can differ for any kernel.
    *
    * Deep Average IS substitutable when the level carries exact
    * contribution counts (schema with known/vsum, no degraded writers):
    * vsum/known reconstructs the true level-0 average per window — the
    * substituted scan then projects that instead of `value` (see
    * [[substitutedScan]]).
    */
  private def depthOk(levelIdx: Int, kernel: AggregationMethod, xff: Float): Boolean =
    levelIdx == 1 ||
      (xff == 0f && (kernel != AggregationMethod.Average || exactCounts(levelIdx)))

  /** Level tables ≥ 1 carry (known, vsum) contribution counts unless the
    * store predates them or a writer couldn't supply them (wsp import,
    * external rollups without counts, value transforms) — MetricStore
    * tracks that with a marker consulted here.
    */
  private def exactCounts(levelIdx: Int): Boolean =
    store.countsExact && store.levelData(levelIdx).columns.contains("vsum")

  /** The substituted level scan: (metric, interval, value[, known]).
    * For deep Average the true level-0 average is reconstructed as
    * vsum/known; every other case reads the stored kernel value.
    */
  private def substitutedScan(levelIdx: Int, kernel: AggregationMethod,
                              withKnown: Boolean): LogicalPlan = {
    val base = store.levelData(levelIdx)
    val valueCol =
      if (levelIdx >= 2 && kernel == AggregationMethod.Average)
        (org.apache.spark.sql.functions.col("vsum") /
          org.apache.spark.sql.functions.col("known"))
          .as("value")
      else org.apache.spark.sql.functions.col("value")
    val cols = Seq(
      org.apache.spark.sql.functions.col("metric"),
      org.apache.spark.sql.functions.col("interval"),
      valueCol) ++
      (if (withKnown) Seq(org.apache.spark.sql.functions.col("known")) else Nil) ++
      // pb/tb LAST so every positional rebinding (indexes 0..3) is
      // untouched: they exist purely for [[applyCarried]]'s partition
      // pruning and are dropped by the output projection otherwise
      Seq(org.apache.spark.sql.functions.col("pb"),
        org.apache.spark.sql.functions.col("tb"))
    base.select(cols: _*).queryExecution.analyzed
  }

  private def doubleLit(e: Expression): Option[Double] = uncast(e) match {
    case Literal(v: Double, _) => Some(v)
    case Literal(v: Int, _)    => Some(v.toDouble)
    case Literal(v: Long, _)   => Some(v.toDouble)
    case _ => None
  }

  /** Substitute a query that restates the store's xff gate over a window
    * aggregate of level-0. Valid for xff > 0 policies — unlike the bare
    * Aggregate rule — because the gate in the plan must match the gate
    * that maintains the level (same slots denominator, same f32-widened
    * xff threshold, same known>0 clause).
    */
  private def rewriteGated(p: Project, cond: Expression, agg: Aggregate,
                           grouping0: Seq[Expression],
                           aggExprs: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
    // the count(value) output the gate must reference
    val knownIds = countOfValueIds(aggExprs)
    // Project must be attribute passthrough; the count output may either
    // be dropped (3-col shape) or passed through as `known` (4-col shape
    // — substitutable from the stored counts when they are exact)
    val projPassthrough = isAttributePassthrough(p.projectList)
    def refsKnown(ne: NamedExpression): Boolean = ne match {
      case a: Attribute => knownIds.contains(a.exprId)
      case Alias(a: Attribute, _) => knownIds.contains(a.exprId)
      case _ => false
    }
    val outputsKnown = p.projectList.exists(refsKnown)
    // positional output ROLES; the names themselves are free (binding is
    // by exprId below, re-aliased to the query's names on substitution)
    val expectedNames =
      if (outputsKnown) Seq("metric", "interval", "value", "known")
      else Seq("metric", "interval", "value")
    for {
      policy <- policyFor(child)
      if knownIds.size == 1 && projPassthrough
      if p.output.size == expectedNames.size
      sm <- matchLevel0ScanFiltered(child)
      grouping = resolveGrouping(grouping0, child)
      (metricExpr, step) <- matchGrouping(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      // output binding: each Project output must reference the aggregate
      // output of the SAME role — names alone pass under cross-renames
      (metricIds, alignIds) = groupingOutputIds(aggExprs, child)
      if p.projectList.zip(expectedNames).forall { case (ne, role) =>
        underlyingId(ne).exists(id => role match {
          case "metric"   => metricIds.contains(id)
          case "interval" => alignIds.contains(id)
          case "value"    => id == kernelId
          case "known"    => knownIds.contains(id)
        })
      }
      levelIdx <- matchedLevel(policy, step, kernel)
      if !outputsKnown || exactCounts(levelIdx)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownIds.head, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = outputsKnown)
      Project(positionalAliases(rel, p.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Gated shape that also RETURNS the window count — output (metric,
    * interval, value, known). Substitutable from the stored counts when
    * they are exact: level-i known is by construction the number of
    * level-0 points in the window, which is what count(value) over the
    * level-0 scan computes.
    */
  private def rewriteGatedKnown(f: Filter, cond: Expression, agg: Aggregate,
                                grouping0: Seq[Expression],
                                aggExprs: Seq[NamedExpression],
                                child: LogicalPlan): Option[LogicalPlan] = {
    val knownIds = countOfValueIds(aggExprs)
    for {
      policy <- policyFor(child)
      if knownIds.size == 1
      if agg.output.size == 4 // names free — binding is by exprId role
      if agg.output(3).exprId == knownIds.head // the kept output IS the count
      sm <- matchLevel0ScanFiltered(child)
      grouping = resolveGrouping(grouping0, child)
      (metricExpr, step) <- matchGrouping(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      // output binding by role, not just name (cross-named agg outputs)
      (metricIds, alignIds) = groupingOutputIds(aggExprs, child)
      if metricIds.contains(agg.output(0).exprId) &&
        alignIds.contains(agg.output(1).exprId) &&
        agg.output(2).exprId == kernelId
      levelIdx <- matchedLevel(policy, step, kernel)
      if exactCounts(levelIdx)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownIds.head, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = true)
      Project(positionalAliases(rel, agg.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Every projection is a bare attribute or a single-attribute alias —
    * the gated shapes' outer Project must not compute anything.
    */
  private def isAttributePassthrough(plist: Seq[NamedExpression]): Boolean =
    plist.forall {
      case _: Attribute => true
      case Alias(_: Attribute, _) => true
      case _ => false
    }

  /** Output exprIds of `count(value)` aggregates — the gated shapes'
    * `known` (shared by every gated rewrite).
    */
  private def countOfValueIds(aggExprs: Seq[NamedExpression]): Seq[ExprId] =
    aggExprs.collect {
      case a @ Alias(AggregateExpression(
            org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(v: Attribute)),
            _, false, None, _), _) if v.name == "value" => a.exprId
    }

  /** The substitutable level for a (step, kernel) pair, or None: a level
    * above 0 with that step must exist, the kernel must be the policy's,
    * and the depth rules must allow it — the guard chain every rewrite
    * shares.
    */
  private def matchedLevel(policy: graft.model.RetentionPolicy, step: Int,
                           kernel: AggregationMethod): Option[Int] = {
    val idx = policy.levels.indexWhere(_.secondsPerPoint == step)
    if (idx > 0 && kernel == policy.aggregation && depthOk(idx, kernel, policy.xff))
      Some(idx)
    else None
  }

  /** metric grouping attribute present + epoch-aligned date_trunc step —
    * the trunc shapes' shared grouping match.
    */
  private def truncGroupStep(grouping: Seq[Expression]): Option[Int] =
    if (grouping.exists {
      case a: Attribute => a.name == "metric"
      case _ => false
    }) grouping.flatMap(truncStep).headOption
    else None

  /** Rebind a node's outputs onto the substituted scan positionally,
    * keeping each output's name and exprId so parents are untouched.
    */
  private def positionalAliases(rel: LogicalPlan,
                                outs: Seq[Attribute]): Seq[NamedExpression] =
    outs.zipWithIndex.map {
      case (attr, i) => Alias(rel.output(i), attr.name)(exprId = attr.exprId)
    }

  /** Positional rebinding for the trunc shapes: the middle output is
    * TimestampType, re-derived as timestamp_seconds(interval) (level
    * intervals are step-aligned, so truncation is the identity on them).
    */
  private def truncOutputAliases(rel: LogicalPlan,
                                 outs: Seq[Attribute]): Seq[NamedExpression] =
    outs.zipWithIndex.map {
      case (attr, 1) =>
        Alias(SecondsToTimestamp(rel.output(1)), attr.name)(exprId = attr.exprId)
      case (attr, i) => Alias(rel.output(i), attr.name)(exprId = attr.exprId)
    }

  /** cond must be exactly {known > 0, known/slots >= xff} (any order).
    * EVERY conjunct must be one of those two recognized predicates — a
    * merely known-referencing extra conjunct (`known > 3`, a second
    * ratio with different slots/xff) would be silently dropped by the
    * substitution, returning rows the original query excludes.
    */
  private def gateMatches(cond: Expression, knownId: ExprId,
                          slots: Int, xff: Float): Boolean = {
    def isKnown(e: Expression): Boolean = uncast(e) match {
      case a: Attribute => a.exprId == knownId
      case _ => false
    }
    def isPositiveGate(e: Expression): Boolean = e match {
      case GreaterThan(k, z) => isKnown(k) && longLit(z).contains(0L)
      case _ => false
    }
    def isXffGate(e: Expression): Boolean = e match {
      case GreaterThanOrEqual(Divide(k, s, _), x) =>
        isKnown(k) && doubleLit(s).contains(slots.toDouble) &&
          doubleLit(x).contains(xff.toDouble)
      case _ => false
    }
    val cs = conjuncts(cond)
    cs.exists(isPositiveGate) && cs.exists(isXffGate) &&
      cs.forall(c => isPositiveGate(c) || isXffGate(c))
  }

  /** Catalyst's PullOutGroupingExpressions moves grouping arithmetic into
    * a child Project as `_groupingexpression` aliases — resolve grouping
    * attributes through those aliases before shape-matching.
    */
  private def resolveGrouping(grouping0: Seq[Expression],
                              child: LogicalPlan): Seq[Expression] = {
    val aliasMap: Map[ExprId, Expression] = child
      .collect { case p: Project => p.projectList }
      .flatten
      .collect { case a: Alias => a.exprId -> a.child }
      .toMap
    grouping0.map {
      case attr: Attribute => aliasMap.getOrElse(attr.exprId, attr)
      case other => other
    }
  }

  private def rewrite(agg: Aggregate, grouping0: Seq[Expression],
                      aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      // outputs are bound by exprId ROLE below, so their NAMES are free
      // (`avg(value) AS v`, `... AS bucket` substitute the same way — the
      // rewrite re-aliases the level columns to whatever the query named)
      if agg.output.size == 3
      sm <- matchLevel0ScanFiltered(child)
      (metricExpr, step) <- matchGrouping(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      // output binding by role, not just name (cross-named agg outputs)
      (metricIds, alignIds) = groupingOutputIds(aggExprs, child)
      if metricIds.contains(agg.output(0).exprId) &&
        alignIds.contains(agg.output(1).exprId) &&
        agg.output(2).exprId == kernelId
      levelIdx <- matchedLevel(policy, step, kernel)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      Project(positionalAliases(rel, agg.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** The PRUNED fetch-grid shape: when a parent reads only
    * (interval, value) — whisper's `__archive_fetch` spelled as a dense
    * slot grid left-joined onto the rollup aggregate — Catalyst's column
    * pruning drops the metric grouping from the aggregate OUTPUT while
    * the grouping itself stays (metric, align). One row per
    * metric×window either way, so the level scan substitutes with its
    * metric column simply not projected; outputs (in either order) bind
    * to the align grouping and the kernel by exprId role.
    */
  private def rewritePruned(agg: Aggregate, grouping0: Seq[Expression],
                            aggExprs: Seq[NamedExpression],
                            child: LogicalPlan): Option[LogicalPlan] = {
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      if agg.output.size == 2
      sm <- matchLevel0ScanFiltered(child)
      (metricExpr, step) <- matchGrouping(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      (metricIds, alignIds) = groupingOutputIds(aggExprs, child)
      // the metric grouping must be PRUNED from the output (the 3-output
      // shape is [[rewrite]]'s), and the two outputs must be exactly the
      // align grouping and the kernel, in either order
      if !agg.output.exists(a => metricIds.contains(a.exprId))
      if agg.output.count(a => alignIds.contains(a.exprId)) == 1
      if agg.output.count(_.exprId == kernelId) == 1
      levelIdx <- matchedLevel(policy, step, kernel)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      val outs = agg.output.map { attr =>
        val src = if (alignIds.contains(attr.exprId)) rel.output(1) else rel.output(2)
        Alias(src, attr.name)(exprId = attr.exprId)
      }
      Project(outs, applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** The 4-output (metric, time, kernel, known) aggregate on an xff=0
    * store with exact counts — substituted at the AGGREGATE node, so any
    * parent (an arbitrary `HAVING known >= k`, `HAVING value > x`, a
    * join, a sort) rides the substituted scan with its exprIds intact.
    * This is what makes user-chosen quality gates over rollups cheap:
    * the gated rewrites only recognize the store's OWN xff gate, but on
    * an ungated store level rows are exactly the window aggregates with
    * their true counts, so every output-level predicate commutes by
    * construction. Align and date_trunc groupings; outputs bind by
    * exprId role in any order. (xff>0 stores stay with the gated
    * rewrites: their levels lack sub-gate rows, so an arbitrary HAVING
    * would see a different input set.)
    */
  private def rewriteKnown(agg: Aggregate, grouping0: Seq[Expression],
                           aggExprs: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
    val knownIds = countOfValueIds(aggExprs)
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      if agg.output.size == 4
      if knownIds.size == 1
      sm <- matchLevel0ScanFiltered(child)
      (step, isTrunc) <- matchGrouping(grouping).map { case (_, s) => (s, false) }
        .orElse(truncGroupStep(grouping).map(s => (s, true)))
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      (metricIds, alignIds) = groupingOutputIds(aggExprs, child)
      timeIds = if (isTrunc) outputIdsWhere(aggExprs, child)(e => truncStep(e).nonEmpty)
                else alignIds
      // all four roles present exactly once, in any output order
      if agg.output.count(a => metricIds.contains(a.exprId)) == 1
      if agg.output.count(a => timeIds.contains(a.exprId)) == 1
      if agg.output.count(_.exprId == kernelId) == 1
      if agg.output.count(a => knownIds.contains(a.exprId)) == 1
      levelIdx <- matchedLevel(policy, step, kernel)
      if exactCounts(levelIdx)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = true)
      val outs = agg.output.map { attr =>
        val src: Expression =
          if (metricIds.contains(attr.exprId)) rel.output(0)
          else if (timeIds.contains(attr.exprId))
            if (isTrunc) SecondsToTimestamp(rel.output(1)) else rel.output(1)
          else if (attr.exprId == kernelId) rel.output(2)
          else rel.output(3)
        Alias(src, attr.name)(exprId = attr.exprId)
      }
      Project(outs, applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Epoch-aligned `date_trunc` units: truncation equals
    * `interval - interval % unitSeconds` ONLY for fixed-length units in a
    * UTC-resolved zone (offset zones shift hour/day boundaries off the
    * epoch grid; week truncates to Monday but the epoch is a Thursday;
    * month/year are variable-length) — everything else must not match.
    */
  private def truncUnitSeconds(unit: String): Option[Int] = unit match {
    case "second" => Some(1)
    case "minute" => Some(60)
    case "hour"   => Some(3600)
    case "day" | "dd" => Some(86400)
    case _ => None
  }

  private def zoneIsUtc(tz: Option[String]): Boolean = {
    val zid = tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone)
    try java.time.ZoneId.of(zid).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }
  }

  /** A `date_trunc(unit, timestamp_seconds(interval))` grouping (the most
    * common hand-written dashboard spelling), or None if the unit is not
    * epoch-aligned, the zone is not UTC, or the base is not the scan's
    * interval column read as epoch seconds.
    */
  private def truncStep(e: Expression): Option[Int] = e match {
    case TruncTimestamp(Literal(fmt, _), base, tzId) if fmt != null =>
      for {
        secs <- truncUnitSeconds(
          fmt.toString.toLowerCase(java.util.Locale.ROOT))
        if zoneIsUtc(tzId)
        _ <- base match {
          case SecondsToTimestamp(a) => intervalAttr(a)
          // a SINGLE integral→timestamp cast is the seconds
          // interpretation too; deeper chains (e.g. long→string→
          // timestamp, which PARSES rather than converts) must not match
          case Cast(a, _: org.apache.spark.sql.types.TimestampType, _, _)
              if a.dataType == org.apache.spark.sql.types.LongType ||
                a.dataType == org.apache.spark.sql.types.IntegerType =>
            intervalAttr(a)
          case _ => None
        }
      } yield secs
    case _ => None
  }

  /** `groupBy(metric, date_trunc(unit, timestamp_seconds(interval)))` —
    * whisper's archive selection for the spelling real dashboards write.
    * The truncated output is TimestampType, so the substituted scan
    * re-derives it as timestamp_seconds(level.interval) (level intervals
    * are step-aligned, so truncation is the identity on them). The middle
    * output may carry any name ("hour", "bucket"); binding is by exprId.
    */
  private def rewriteTrunc(agg: Aggregate, grouping0: Seq[Expression],
                           aggExprs: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      if agg.output.size == 3 // names free — binding is by exprId role
      sm <- matchLevel0ScanFiltered(child)
      step <- truncGroupStep(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      // output binding by role (cross-named agg outputs)
      (metricIds, _) = groupingOutputIds(aggExprs, child)
      truncIds = outputIdsWhere(aggExprs, child)(e => truncStep(e).nonEmpty)
      if metricIds.contains(agg.output(0).exprId) &&
        truncIds.contains(agg.output(1).exprId) &&
        agg.output(2).exprId == kernelId
      levelIdx <- matchedLevel(policy, step, kernel)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      Project(truncOutputAliases(rel, agg.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Gated date_trunc shape — the xff>0 dashboard spelling:
    *   groupBy(metric, date_trunc(unit, timestamp_seconds(interval)))
    *     .agg(kernel(value).as("value"), count(value).as("known"))
    *     .where(known > 0 && known / slots >= xff)
    *     .select(metric, <trunc>, value)
    * Sound for any policy xff like the align/window gated shapes; the
    * truncated output may carry any name — binding is by exprId role.
    */
  private def rewriteGatedTrunc(p: Project, cond: Expression, agg: Aggregate,
                                grouping0: Seq[Expression],
                                aggExprs: Seq[NamedExpression],
                                child: LogicalPlan): Option[LogicalPlan] = {
    val knownIds = countOfValueIds(aggExprs)
    val projPassthrough = isAttributePassthrough(p.projectList)
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if knownIds.size == 1 && projPassthrough
      if p.output.size == 3 // names free — binding is by exprId role
      sm <- matchLevel0ScanFiltered(child)
      step <- truncGroupStep(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      (metricIds, _) = groupingOutputIds(aggExprs, child)
      truncIds = outputIdsWhere(aggExprs, child)(e => truncStep(e).nonEmpty)
      // output binding by role; also excludes the gate count from the
      // output (the 3 slots must be exactly metric/trunc/kernel)
      if p.projectList.zip(0 until 3).forall { case (ne, i) =>
        underlyingId(ne).exists(id => i match {
          case 0 => metricIds.contains(id)
          case 1 => truncIds.contains(id)
          case _ => id == kernelId
        })
      }
      levelIdx <- matchedLevel(policy, step, kernel)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownIds.head, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      Project(truncOutputAliases(rel, p.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Gated date_trunc shape KEEPING the count output — (metric, <trunc>,
    * value, known); the passthrough Project is optimized away, leaving
    * the bare Filter over the 4-output Aggregate. Substitutable from the
    * stored counts when they are exact, like [[rewriteGatedKnown]].
    */
  private def rewriteGatedKnownTrunc(f: Filter, cond: Expression, agg: Aggregate,
                                     grouping0: Seq[Expression],
                                     aggExprs: Seq[NamedExpression],
                                     child: LogicalPlan): Option[LogicalPlan] = {
    val knownIds = countOfValueIds(aggExprs)
    val grouping = resolveGrouping(grouping0, child)
    for {
      policy <- policyFor(child)
      if knownIds.size == 1
      if agg.output.size == 4 // names free — binding is by exprId role
      if agg.output(3).exprId == knownIds.head // the kept output IS the count
      sm <- matchLevel0ScanFiltered(child)
      step <- truncGroupStep(grouping)
      carried <- commutingPreds(sm.preds, sm.leaf, step)
      (kernel, kernelId) <- matchKernel(aggExprs)
      (metricIds, _) = groupingOutputIds(aggExprs, child)
      truncIds = outputIdsWhere(aggExprs, child)(e => truncStep(e).nonEmpty)
      if metricIds.contains(agg.output(0).exprId) &&
        truncIds.contains(agg.output(1).exprId) &&
        agg.output(2).exprId == kernelId
      levelIdx <- matchedLevel(policy, step, kernel)
      if exactCounts(levelIdx)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownIds.head, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = true)
      Project(truncOutputAliases(rel, agg.output), applyCarried(rel, carried, sm.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** child must be a parquet scan of the store's level_0 directory with
    * (metric, interval, value) visible, reached through pass-through
    * Projects (plain attributes, name-preserving aliases, or Catalyst's
    * pulled-out `_groupingexpression` aliases) and Filters whose
    * conjuncts are carried for [[commutingPreds]] to judge: group-key
    * metric predicates and window-edge-aligned interval bounds commute
    * with the grouping and move onto the substituted scan (whisper's
    * fetch shape); anything else — `WHERE value>0`, unaligned bounds —
    * vetoes the rewrite, because substituting the precomputed level
    * would silently change the aggregate's input set. A value-rewriting
    * Project or a join still blocks the match outright.
    */
  // THIS store's level-0 directory, scheme-normalized. Substituting must
  // never trigger on some OTHER store's level_0 scan — the rewrite would
  // splice this store's rollups into a different table's query.
  private lazy val level0Uri =
    new org.apache.hadoop.fs.Path(s"${store.root}/level_0").toUri.getPath

  private def isLevel0Leaf(p: LogicalPlan): Boolean = p match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          hfs.location.rootPaths.nonEmpty &&
            hfs.location.rootPaths.forall(_.toUri.getPath == level0Uri)
        case _ => false
      }
    case _ => false
  }

  /** A matched level-0 scan plus the Filter conjuncts found between the
    * Aggregate and the leaf (whisper's fetch shape: metric + time range).
    */
  private final case class ScanMatch(leaf: LogicalPlan, preds: Seq[Expression])

  private def matchLevel0ScanFiltered(plan: LogicalPlan): Option[ScanMatch] = {
    val buf = Seq.newBuilder[Expression]
    def walk(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(plist, child) =>
        val passthrough = plist.forall {
          case _: Attribute => true
          case a: Alias =>
            (a.child match {
              case attr: Attribute => attr.name == a.name
              case _ => false
            }) || a.name.startsWith("_groupingexpression")
          case _ => false
        }
        if (passthrough) walk(child) else None
      case Filter(cond, child) =>
        buf ++= conjuncts(cond); walk(child)
      case leaf if isLevel0Leaf(leaf) => Some(leaf)
      case _ => None
    }
    walk(plan).map(ScanMatch(_, buf.result()))
  }

  /** Classify carried predicates against the (metric, step-align)
    * grouping, returning the ones to reapply over the substituted scan —
    * or None if ANY predicate does not provably commute:
    *
    *   - deterministic, subquery-free predicates referencing ONLY the
    *     scan's `metric` column commute (metric is a group key — they
    *     select whole groups);
    *   - `interval >= L` / `interval < U` with step-aligned literals
    *     select whole windows (level-0 rows of window w have interval in
    *     [w, w+step), so aligned bounds cut exactly on window edges) —
    *     whisper's fetch range, which update/fetch align the same way
    *     (/root/reference/whisper.py:947-954 picks the archive, then
    *     fromInterval/untilInterval are step-aligned). The bound may be
    *     written in either domain: against the long column, or against a
    *     timestamp view of it (`ts >= timestamp'…'` on window edges,
    *     where ts = timestamp_seconds(interval) — the window()-chain
    *     resolves its `ts` alias to exactly that). Carried bounds are
    *     canonicalized to long-second comparisons so they reach the
    *     level scan as pushable parquet filters;
    *   - IsNotNull on any scan column is dropped, not carried: level
    *     rows are non-null by construction and a null value row joins no
    *     rollup anyway (count/kernels ignore nulls).
    *
    * Anything else — value predicates, unaligned or exclusive interval
    * bounds, non-deterministic or subquery predicates — vetoes the
    * substitution (the rewrite would silently change the input set).
    */
  private def commutingPreds(preds: Seq[Expression], leaf: LogicalPlan,
                             step: Int): Option[Seq[Expression]] = {
    val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
    val intervalOut = leaf.output.find(_.name == "interval")
    val intervalId = intervalOut.map(_.exprId)
    def isIntervalNum(e: Expression): Boolean = uncast(e) match {
      case a: Attribute => intervalId.contains(a.exprId)
      case _ => false
    }
    // a timestamp-typed VIEW of the interval column: timestamp_seconds,
    // or a single integral→timestamp cast (both read the long as epoch
    // seconds; deeper chains may parse instead of convert — no match)
    def isIntervalTs(e: Expression): Boolean = e match {
      case SecondsToTimestamp(a: Attribute) => intervalId.contains(a.exprId)
      case Cast(a: Attribute, _: org.apache.spark.sql.types.TimestampType, _, _)
          if a.dataType == org.apache.spark.sql.types.LongType ||
            a.dataType == org.apache.spark.sql.types.IntegerType =>
        intervalId.contains(a.exprId)
      case _ => false
    }
    // The bound in epoch SECONDS, or None if `col`/`lit` is not an
    // (interval view, literal) pair in a single domain (shared literal
    // helpers: [[tsLitSeconds]], [[nonTemporalLongLit]]).
    def boundSeconds(colSide: Expression, litSide: Expression): Option[Long] =
      if (isIntervalTs(colSide)) tsLitSeconds(litSide)
      else if (isIntervalNum(colSide)) nonTemporalLongLit(litSide)
      else None
    def metricOnly(e: Expression): Boolean =
      e.deterministic &&
        !e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
        e.references.nonEmpty &&
        e.references.forall(a => metricId.contains(a.exprId))
    // aligned half-open bounds, canonicalized to long-second comparisons
    // over the leaf's interval attribute (applyCarried remaps that onto
    // the level scan, where it pushes down as a plain parquet filter).
    // Inclusive spellings (BETWEEN desugars to >= && <=) commute when the
    // NEXT second is window-aligned: intervals are integral, so
    // `col <= U` ⇔ `col < U+1` and `col > L` ⇔ `col >= L+1`.
    def alignedBound(e: Expression): Option[Expression] = {
      def incl(s: Long): Option[Long] =
        if ((s + 1) % step == 0) Some(s + 1) else None
      val canon: Option[(Boolean, Long)] = e match {
        case GreaterThanOrEqual(a, b) =>
          boundSeconds(a, b).map((true, _))                           // col >= L
            .orElse(boundSeconds(b, a).flatMap(incl).map((false, _))) // U >= col ⇔ col < U+1
        case LessThan(a, b) =>
          boundSeconds(a, b).map((false, _))                          // col < U
            .orElse(boundSeconds(b, a).flatMap(incl).map((true, _)))  // L < col ⇔ col >= L+1
        case LessThanOrEqual(a, b) =>
          boundSeconds(a, b).flatMap(incl).map((false, _))            // col <= U ⇔ col < U+1
            .orElse(boundSeconds(b, a).map((true, _)))                // L <= col
        case GreaterThan(a, b) =>
          boundSeconds(a, b).flatMap(incl).map((true, _))             // col > L ⇔ col >= L+1
            .orElse(boundSeconds(b, a).map((false, _)))               // U > col
        case _ => None
      }
      for {
        (isLower, s) <- canon
        if s % step == 0
        iv <- intervalOut
      } yield
        if (isLower) GreaterThanOrEqual(iv, Literal(s)) else LessThan(iv, Literal(s))
    }
    // whole-BLOCK equality selectors: `alignExpr(B) = s` / `date_trunc
    // (unit, ts) = s` select every window inside one B-wide block when B
    // is a multiple of the step and s is B-aligned (an unaligned s
    // selects nothing in the original — veto rather than canonicalize,
    // the recompute answers empty correctly). Carried as the half-open
    // [s, s+B) range over the level's interval.
    def blockEq(colSide: Expression, litSide: Expression): Option[Expression] = {
      val viaAlign = for {
        b <- alignStep(colSide)
        s <- nonTemporalLongLit(litSide)
      } yield (b, s)
      val viaTrunc = for {
        u <- truncStep(colSide)
        s <- tsLitSeconds(litSide)
      } yield (u.toLong, s)
      for {
        (block, s) <- viaAlign.orElse(viaTrunc)
        if block > 0 && block % step == 0 && s % block == 0
        iv <- intervalOut
      } yield And(GreaterThanOrEqual(iv, Literal(s)),
        LessThan(iv, Literal(s + block)))
    }
    def eqSelector(e: Expression): Option[Expression] = e match {
      case EqualTo(a, b) => blockEq(a, b).orElse(blockEq(b, a))
      // null-safe equality degenerates to plain equality here: the
      // matched column side (an alignment/truncation of the non-null
      // interval) is never null and the literal side is non-null
      case EqualNullSafe(a, b) => blockEq(a, b).orElse(blockEq(b, a))
      case _ => None
    }
    // isnotnull over the KEY columns (metric/interval, or
    // timestamp_seconds(interval) — TimeWindowing inserts isnotnull(ts)):
    // those never filter real rows. NOT over `value`: an all-null-value
    // window still materializes a level row with value=null, while
    // `WHERE value IS NOT NULL` removes its rows before aggregation —
    // dropping that predicate would resurrect the group.
    def keyAttr(a: Attribute): Boolean =
      metricId.contains(a.exprId) || intervalId.contains(a.exprId)
    // TimeWindowing's start/end arithmetic — ptc((ptc(ts) − ts%W…),
    // Long→Timestamp) over ts = timestamp_seconds(interval) — is
    // non-null whenever the interval is, so a grid join's key constraint
    // spelled over it filters nothing
    def windowPartNonNull(e0: Expression): Boolean = {
      val e = e0 match { case KnownNullable(c) => c; case c => c }
      e match {
        case PreciseTimestampConversion(inner, _, _) =>
          val bases = inner.collect {
            case PreciseTimestampConversion(t,
                _: org.apache.spark.sql.types.TimestampType, _) => t
          }
          bases.nonEmpty && bases.forall {
            case SecondsToTimestamp(a: Attribute) => keyAttr(a)
            case _ => false
          } && e.references.forall(keyAttr)
        case _ => false
      }
    }
    def droppable(e: Expression): Boolean = e match {
      case IsNotNull(x) => uncast(x) match {
        case a: Attribute => keyAttr(a)
        case SecondsToTimestamp(a: Attribute) => keyAttr(a)
        // constraint inference on a grid join's key adds isnotnull over
        // the GROUPING EXPRESSION itself — an alignment/truncation of a
        // non-null interval is never null, so it filters nothing
        case other => alignStep(other).nonEmpty || truncStep(other).nonEmpty ||
          windowPartNonNull(other)
      }
      case _ => false
    }
    // Some(Some(p)) = carry p; Some(None) = drop; None = veto
    val classified: Seq[Option[Option[Expression]]] = preds.map { p =>
      if (metricOnly(p)) Some(Some(p))
      else alignedBound(p).orElse(eqSelector(p)) match {
        case Some(c) => Some(Some(c))
        case None if droppable(p) => Some(None)
        case None => None
      }
    }
    if (classified.forall(_.isDefined)) Some(classified.flatten.flatten)
    else None
  }

  /** Reapply commuting predicates over the substituted level scan,
    * remapping the level-0 scan's metric/interval attributes to the
    * level's (level intervals are the window starts, so aligned bounds
    * and metric predicates carry over verbatim).
    */
  private def applyCarried(rel: LogicalPlan, preds: Seq[Expression],
                           leaf: LogicalPlan, bucketSecs: Long): LogicalPlan =
    if (preds.isEmpty) rel
    else {
      val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
      val intervalId = leaf.output.find(_.name == "interval").map(_.exprId)
      val remapped = preds.map(_.transformUp {
        case a: Attribute if metricId.contains(a.exprId) => rel.output(0)
        case a: Attribute if intervalId.contains(a.exprId) => rel.output(1)
      })
      // metric pins prune PARTITION DIRECTORIES, not just row groups:
      // pb is a function of the metric name, so a pinned scan needs only
      // the pinned names' buckets — at scale the difference between
      // listing/reading every pb dir and one of them. The pb/tb columns
      // are exposed last on the substituted scan for exactly these
      // conjuncts; the output projection prunes them away again.
      val pbIn = for {
        ns <- pinnedNames(preds, metricId)
        pbAttr <- rel.output.find(_.name == "pb")
      } yield In(pbAttr, ns.map(store.pbOf).distinct.sorted.map(b => Literal(b)))
      // carried interval bounds prune TIME-bucket directories the same
      // way: tb = interval div bucketSecs (the writer's layout), so
      // interval >= L implies tb >= L div bucketSecs and interval < U
      // implies tb <= (U-1) div bucketSecs. `div` truncates toward zero
      // — only derive for non-negative epochs, where that IS floor (a
      // retention span of years narrows to the dashboard's hours).
      val ivAttr = rel.output.lift(1)
      val tbAttr = rel.output.find(_.name == "tb")
      val tbBounds: Seq[Expression] =
        if (bucketSecs <= 0 || tbAttr.isEmpty) Nil
        else remapped.flatMap(conjuncts).flatMap {
          case GreaterThanOrEqual(a: Attribute, Literal(l: Long, _))
              if ivAttr.exists(_.exprId == a.exprId) && l >= 0 =>
            Some(GreaterThanOrEqual(tbAttr.get, Literal(l / bucketSecs)))
          case LessThan(a: Attribute, Literal(u: Long, _))
              if ivAttr.exists(_.exprId == a.exprId) && u >= 1 =>
            Some(LessThanOrEqual(tbAttr.get, Literal((u - 1) / bucketSecs)))
          case _ => None
        }
      Filter((remapped ++ pbIn ++ tbBounds).reduce(And), rel)
    }

  /** The idiomatic Spark spelling — `groupBy(metric, window(ts, "S
    * seconds"))` over `ts = timestamp_seconds(interval)` — lands here
    * after the analyzer's TimeWindowing rewrite as
    *   Aggregate([metric, window],
    *     Project(named_struct(start, …ptc(ts)%S·1e6…, end, …) AS window,
    *       Project(timestamp_seconds(interval) AS ts,
    *         Filter(isnotnull…, <level-0 scan>))))
    * Matched when: the chain holds only Projects and IsNotNull-only
    * Filters; the struct's arithmetic uses one modulus W (micros) with no
    * other literal than 0 (tumbling, zero offset — sliding windows plan
    * through Expand and never reach this shape); every timestamp base is
    * timestamp_seconds over the scan's interval column; and the kernel
    * consumes the scan's value column untransformed. The substituted
    * level scan re-derives the struct as
    * (timestamp_seconds(interval), timestamp_seconds(interval+S)).
    */
  /** The Project/IsNotNull-Filter chain between a window()-shape
    * Aggregate and the level-0 scan, plus an alias resolver through the
    * chain's Projects (TimeWindowing + ts computation land there).
    */
  private final case class WindowChain(leaf: LogicalPlan,
                                       preds: Seq[Expression],
                                       resolve: Expression => Expression) {
    val relOut: Seq[Attribute] = leaf.output
    val intervalAttrId: Option[ExprId] =
      relOut.find(_.name == "interval").map(_.exprId)
    /** Chain predicates resolved to scan terms, for [[commutingPreds]]. */
    def resolvedPreds: Seq[Expression] = preds.map(resolve)
  }

  private def walkWindowChain(child: LogicalPlan): Option[WindowChain] = {
    val aliasBuf = scala.collection.mutable.Map[ExprId, Expression]()
    val predBuf = Seq.newBuilder[Expression]
    def walk(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(plist, c2)
          if plist.forall(e => e.isInstanceOf[Attribute] || e.isInstanceOf[Alias]) =>
        aliasBuf ++= plist.collect { case a: Alias => a.exprId -> a.child }
        walk(c2)
      case Filter(cond, c2) =>
        // collected, not rejected: commutingPreds decides per rewrite
        // whether every conjunct provably commutes (or is droppable —
        // TimeWindowing's isnotnull(ts)) and vetoes otherwise
        predBuf ++= conjuncts(cond)
        walk(c2)
      case leaf if isLevel0Leaf(leaf) => Some(leaf)
      case _ => None
    }
    def resolve(e: Expression): Expression = {
      var cur = e
      var prev: Expression = null
      while (prev == null || !cur.fastEquals(prev)) {
        prev = cur
        cur = cur.transformUp {
          case a: Attribute if aliasBuf.contains(a.exprId) => aliasBuf(a.exprId)
        }
      }
      cur
    }
    walk(child).map(WindowChain(_, predBuf.result(), resolve))
  }

  /** Tumbling step from the window()-grouping — plus the exprIds of the
    * metric grouping attribute and the window-struct grouping attribute,
    * for output binding — or None if the shape deviates (offset windows,
    * non-interval bases, sliding).
    */
  private def windowGroupStep(grouping0: Seq[Expression],
                              chain: WindowChain): Option[(Int, ExprId, ExprId)] =
    for {
      intervalId <- chain.intervalAttrId
      metricId <- grouping0.collectFirst {
        case a: Attribute
            if chain.relOut.exists(o => o.exprId == a.exprId && o.name == "metric") =>
          a.exprId
      }
      stepAndWin <- grouping0.collectFirst {
        case a: Attribute if !chain.relOut.exists(_.exprId == a.exprId) =>
          windowStructStep(chain.resolve(a), intervalId).map(s => (s, a.exprId))
      }.flatten
    } yield (stepAndWin._1, metricId, stepAndWin._2)

  /** Output aliases for a substituted window()-shape plan: re-derives the
    * window struct from the level's interval column.
    */
  private def windowOutputAliases(outAttrs: Seq[Attribute], rel: LogicalPlan,
                                  step: Int): Seq[NamedExpression] = {
    val mOut = rel.output(0); val iOut = rel.output(1); val vOut = rel.output(2)
    val winStruct = windowStructOf(iOut, step)
    outAttrs.map { attr =>
      val e: Expression = attr.name match {
        case "metric" => mOut
        case "window" => winStruct
        case "known"  => rel.output(3)
        case _        => vOut
      }
      Alias(e, attr.name)(exprId = attr.exprId)
    }
  }

  private def rewriteWindow(agg: Aggregate, grouping0: Seq[Expression],
                            aggExprs: Seq[NamedExpression],
                            child: LogicalPlan): Option[LogicalPlan] =
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      chain <- walkWindowChain(child)
      intervalId <- chain.intervalAttrId
      (step, metricId, windowId) <- windowGroupStep(grouping0, chain)
      carried <- commutingPreds(chain.resolvedPreds, chain.leaf, step)
      (kernel, kernelId) <- matchKernelWindow(aggExprs, chain.relOut, intervalId, chain.resolve)
      if agg.output.map(_.name).toSet == Set("metric", "window", "value")
      // windowOutputAliases wires by name — each output must BE the
      // grouping/kernel of that name (cross-named agg outputs)
      if agg.output.forall { attr =>
        attr.name match {
          case "metric" => attr.exprId == metricId
          case "window" => attr.exprId == windowId
          case _        => attr.exprId == kernelId
        }
      }
      levelIdx <- matchedLevel(policy, step, kernel)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      Project(windowOutputAliases(agg.output, rel, step),
        applyCarried(rel, carried, chain.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }

  /** Gated window() shape: the idiomatic streaming-style spelling
    *   groupBy(metric, window(ts, "S seconds"))
    *     .agg(kernel(value).as("value"), count(value).as("known"))
    *     .where(known > 0 && known / slots >= xff)
    * with the count output dropped by the outer Project. Sound for any
    * policy xff, like the align-spelling gated shape.
    */
  private def rewriteGatedWindow(p: Project, cond: Expression, agg: Aggregate,
                                 grouping0: Seq[Expression],
                                 aggExprs: Seq[NamedExpression],
                                 child: LogicalPlan): Option[LogicalPlan] = {
    val projPassthrough = isAttributePassthrough(p.projectList)
    for {
      policy <- policyFor(child)
      if projPassthrough
      if p.output.map(_.name) == Seq("metric", "window", "value")
      chain <- walkWindowChain(child)
      intervalId <- chain.intervalAttrId
      (step, metricId, windowId) <- windowGroupStep(grouping0, chain)
      carried <- commutingPreds(chain.resolvedPreds, chain.leaf, step)
      knownId <- countAggId(aggExprs, chain, intervalId)
      (kernel, kernelId) <- matchKernelWindow(aggExprs, chain.relOut, intervalId, chain.resolve)
      // output binding by role: also excludes the gate count from the
      // output (the 3 slots must be exactly metric/window/kernel)
      if p.projectList.zip(Seq("metric", "window", "value")).forall {
        case (ne, role) =>
          underlyingId(ne).exists(id => role match {
            case "metric" => id == metricId
            case "window" => id == windowId
            case _        => id == kernelId
          })
      }
      levelIdx <- matchedLevel(policy, step, kernel)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownId, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      Project(windowOutputAliases(p.output, rel, step),
        applyCarried(rel, carried, chain.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** Gated window() shape that also RETURNS the window count — output
    * (metric, window, value, known), the streaming-style spelling of
    * [[rewriteGatedKnown]]. The passthrough Project is optimized away,
    * leaving the bare Filter over the 4-output Aggregate. Substitutable
    * from the stored counts when they are exact.
    */
  private def rewriteGatedKnownWindow(f: Filter, cond: Expression, agg: Aggregate,
                                      grouping0: Seq[Expression],
                                      aggExprs: Seq[NamedExpression],
                                      child: LogicalPlan): Option[LogicalPlan] =
    for {
      policy <- policyFor(child)
      if agg.output.map(_.name) == Seq("metric", "window", "value", "known")
      chain <- walkWindowChain(child)
      intervalId <- chain.intervalAttrId
      (step, metricId, windowId) <- windowGroupStep(grouping0, chain)
      carried <- commutingPreds(chain.resolvedPreds, chain.leaf, step)
      knownId <- countAggId(aggExprs, chain, intervalId)
      (kernel, kernelId) <- matchKernelWindow(aggExprs, chain.relOut, intervalId, chain.resolve)
      // output binding by role, not just name (cross-named agg outputs)
      if agg.output(0).exprId == metricId && agg.output(1).exprId == windowId &&
        agg.output(2).exprId == kernelId && agg.output(3).exprId == knownId
      levelIdx <- matchedLevel(policy, step, kernel)
      if exactCounts(levelIdx)
      slots = step / policy.levels.head.secondsPerPoint
      if gateMatches(cond, knownId, slots, policy.xff)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = true)
      Project(windowOutputAliases(agg.output, rel, step),
        applyCarried(rel, carried, chain.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }

  /** The window struct a substituted window()-shape plan re-derives from
    * the level's interval column (shared by every window-shape rewrite).
    */
  private def windowStructOf(iOut: Attribute, step: Int): Expression =
    CreateNamedStruct(Seq(
      Literal("start"), SecondsToTimestamp(iOut),
      Literal("end"), SecondsToTimestamp(Add(iOut, Literal(step.toLong)))))

  /** The PRUNED window() shape — [[rewritePruned]]'s grid-join spelling
    * with window(ts, …) grouping: a parent (the dense fetch-grid join)
    * reads only (window, value), so column pruning drops the metric
    * grouping from the aggregate OUTPUT while the grouping keeps it.
    * Outputs bind by exprId role in either order.
    */
  private def rewritePrunedWindow(agg: Aggregate, grouping0: Seq[Expression],
                                  aggExprs: Seq[NamedExpression],
                                  child: LogicalPlan): Option[LogicalPlan] = {
    // the grid join usually reads window.start, so column pruning leaves
    // `window#g.start AS _extract_start` in the agg list rather than the
    // struct attribute itself — bind either spelling, rebuilding just
    // the extracted field from the level's interval column
    def isTimeOut(ne: NamedExpression, windowId: ExprId): Boolean = ne match {
      case a: Attribute => a.exprId == windowId
      case Alias(GetStructField(b: Attribute, _, _), _) => b.exprId == windowId
      case _ => false
    }
    def timeOut(ne: NamedExpression, windowId: ExprId, step: Int,
                iOut: Attribute): Option[Expression] = ne match {
      case a: Attribute if a.exprId == windowId =>
        Some(windowStructOf(iOut, step))
      case Alias(GetStructField(b: Attribute, ord, _), _) if b.exprId == windowId =>
        if (ord == 0) Some(SecondsToTimestamp(iOut))
        else Some(SecondsToTimestamp(Add(iOut, Literal(step.toLong))))
      case _ => None
    }
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // rollup rows == plain window aggregates
      if agg.output.size == 2
      chain <- walkWindowChain(child)
      intervalId <- chain.intervalAttrId
      (step, metricId, windowId) <- windowGroupStep(grouping0, chain)
      carried <- commutingPreds(chain.resolvedPreds, chain.leaf, step)
      (kernel, kernelId) <- matchKernelWindow(aggExprs, chain.relOut, intervalId, chain.resolve)
      // metric must be PRUNED from the output; the two outputs are
      // exactly a window-derived column (struct or extracted edge) and
      // the kernel, in either order
      if !aggExprs.exists(_.references.exists(_.exprId == metricId))
      if aggExprs.count(isTimeOut(_, windowId)) == 1
      if agg.output.count(_.exprId == kernelId) == 1
      levelIdx <- matchedLevel(policy, step, kernel)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = false)
      val iOut = rel.output(1).asInstanceOf[Attribute]
      val outs = aggExprs.map { ne =>
        val e: Expression = timeOut(ne, windowId, step, iOut)
          .getOrElse(rel.output(2))
        Alias(e, ne.name)(exprId = ne.exprId)
      }
      Project(outs, applyCarried(rel, carried, chain.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }
  }

  /** The 4-output window() shape substituted at the AGGREGATE node —
    * [[rewriteKnown]]'s window(ts, …) spelling: (metric, window, kernel,
    * count(value)) on an xff=0 store with exact counts, so ANY parent
    * (`HAVING known >= k`, `HAVING value > x`, a join, a sort) rides the
    * substituted scan with its exprIds intact. xff>0 stores stay with
    * [[rewriteGatedKnownWindow]]: their levels lack sub-gate rows, so an
    * arbitrary HAVING would see a different input set.
    */
  private def rewriteKnownWindow(agg: Aggregate, grouping0: Seq[Expression],
                                 aggExprs: Seq[NamedExpression],
                                 child: LogicalPlan): Option[LogicalPlan] =
    for {
      policy <- policyFor(child)
      if policy.xff == 0f // any parent predicate sees the same input set
      if agg.output.size == 4
      chain <- walkWindowChain(child)
      intervalId <- chain.intervalAttrId
      (step, metricId, windowId) <- windowGroupStep(grouping0, chain)
      carried <- commutingPreds(chain.resolvedPreds, chain.leaf, step)
      knownId <- countAggId(aggExprs, chain, intervalId)
      (kernel, kernelId) <- matchKernelWindow(aggExprs, chain.relOut, intervalId, chain.resolve)
      // all four roles present exactly once, in any output order
      if agg.output.count(_.exprId == metricId) == 1
      if agg.output.count(_.exprId == windowId) == 1
      if agg.output.count(_.exprId == kernelId) == 1
      if agg.output.count(_.exprId == knownId) == 1
      levelIdx <- matchedLevel(policy, step, kernel)
      if exactCounts(levelIdx)
    } yield {
      val rel = substitutedScan(levelIdx, kernel, withKnown = true)
      val iOut = rel.output(1).asInstanceOf[Attribute]
      val outs = agg.output.map { attr =>
        val e: Expression =
          if (attr.exprId == metricId) rel.output(0)
          else if (attr.exprId == windowId) windowStructOf(iOut, step)
          else if (attr.exprId == kernelId) rel.output(2)
          else rel.output(3)
        Alias(e, attr.name)(exprId = attr.exprId)
      }
      Project(outs, applyCarried(rel, carried, chain.leaf, store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
    }

  /** The count(value) aggregate's output id in a window()-shape agg list
    * (value resolved through the chain to the scan's value column).
    */
  private def countAggId(aggExprs: Seq[NamedExpression], chain: WindowChain,
                         intervalId: ExprId): Option[ExprId] = {
    val ids = aggExprs.collect {
      case a @ Alias(AggregateExpression(
            org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(v: Attribute)),
            _, false, None, _), _)
          if chain.relOut.exists(o => o.exprId == v.exprId && o.name == "value") =>
        a.exprId
    }
    if (ids.size == 1) ids.headOption else None
  }

  /** An output like `round(avg(value), 2).as("value")` CONTAINS a kernel
    * but is not one — substituting the raw rollup value would silently
    * drop the wrapping arithmetic. So every output that contains an
    * aggregate anywhere must BE a bare top-level
    * Alias(AggregateExpression); kernel matchers then look only at those
    * top-level aggregates.
    */
  private def allAggsTopLevel(aggExprs: Seq[NamedExpression]): Boolean =
    aggExprs.forall { ne =>
      !ne.exists(_.isInstanceOf[AggregateExpression]) || (ne match {
        case Alias(_: AggregateExpression, _) => true
        case _ => false
      })
    }

  /** Kernel matcher for the window() shape: the aggregated value must be
    * the SCAN's value column untransformed (attributes here may pass
    * through ts-computing Projects, so name-matching alone is not
    * enough), and `last` accepts max_by(value, ts) for ts =
    * timestamp_seconds(interval) — monotone in interval, so
    * chronologically-last is preserved.
    */
  private def matchKernelWindow(aggExprs: Seq[NamedExpression],
                                relOut: Seq[Attribute], intervalAttrId: ExprId,
                                resolve: Expression => Expression): Option[(AggregationMethod, ExprId)] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
    def isScanValue(v: Attribute): Boolean =
      relOut.exists(o => o.exprId == v.exprId && o.name == "value")
    def isIntervalTime(ord: Expression): Boolean = resolve(ord) match {
      case SecondsToTimestamp(a: Attribute) => a.exprId == intervalAttrId
      case a: Attribute => a.exprId == intervalAttrId
      case _ => false
    }
    if (!allAggsTopLevel(aggExprs)) return None
    val kernels = aggExprs.collect {
      case al @ Alias(AggregateExpression(Average(v: Attribute, _), _, false, None, _), _)
          if isScanValue(v) => (AggregationMethod.Average, al.exprId)
      case al @ Alias(AggregateExpression(Sum(v: Attribute, _), _, false, None, _), _)
          if isScanValue(v) => (AggregationMethod.Sum, al.exprId)
      case al @ Alias(AggregateExpression(Max(v: Attribute), _, false, None, _), _)
          if isScanValue(v) => (AggregationMethod.Max, al.exprId)
      case al @ Alias(AggregateExpression(Min(v: Attribute), _, false, None, _), _)
          if isScanValue(v) => (AggregationMethod.Min, al.exprId)
      case al @ Alias(AggregateExpression(MaxBy(v: Attribute, ord), _, false, None, _), _)
          if isScanValue(v) && isIntervalTime(ord) => (AggregationMethod.Last, al.exprId)
    }
    if (kernels.size == 1) kernels.headOption else None
  }

  /** Extract the tumbling-window step (seconds) from the TimeWindowing
    * struct, or None if any part deviates from the zero-offset tumbling
    * form over `timestamp_seconds(interval)`.
    */
  private def windowStructStep(structExpr: Expression,
                               intervalAttrId: ExprId): Option[Int] = structExpr match {
    case cns: CreateNamedStruct
        if cns.nameExprs.map { case Literal(s, _) => s.toString } == Seq("start", "end") =>
      val exprs = cns.valExprs
      val mods = exprs.flatMap(_.collect {
        case Remainder(_, Literal(w: Long, _), _) => w
        case Pmod(_, Literal(w: Long, _), _) => w
      }).distinct
      val lits = exprs.flatMap(_.collect { case Literal(v: Long, _) => v })
      val bases = exprs.flatMap(_.collect {
        case PreciseTimestampConversion(t, _: org.apache.spark.sql.types.TimestampType, _) => t
      })
      mods match {
        case Seq(w) if w > 0 && w % 1000000L == 0 &&
            lits.forall(v => v == 0L || v == w) &&
            bases.nonEmpty && bases.forall {
              case SecondsToTimestamp(a: Attribute) => a.exprId == intervalAttrId
              case _ => false
            } =>
          Some((w / 1000000L).toInt)
        case _ => None
      }
    case _ => None
  }

  /** Strip no-op casts so `floor(interval / 300L)` and spelling variants
    * reduce to one recognizable core.
    */
  private def uncast(e: Expression): Expression = e match {
    case Cast(child, _, _, _) => uncast(child)
    case other => other
  }

  /** A whole-second timestamp literal as epoch SECONDS. Timestamp
    * literals store MICROS — alignment checks must run on the converted
    * seconds, never the raw value (micros % step == 0 holds for
    * unaligned-second bounds whenever step divides 1e6, e.g. step=100);
    * sub-second instants cut inside a level-0 slot and never commute.
    * Shared by every bound/selector matcher so the unit conversion can
    * not drift between them.
    */
  private def tsLitSeconds(e: Expression): Option[Long] = e match {
    case Literal(micros: Long, _: org.apache.spark.sql.types.TimestampType)
        if micros % 1000000L == 0 =>
      Some(micros / 1000000L)
    case _ => None
  }

  /** A plain integral literal (possibly under residual casts) that is
    * NOT temporal — a TimestampType/NTZ/Date literal also carries a Long
    * payload, and reading it through [[longLit]] would silently treat
    * micros/days as seconds. Shared guard for the numeric-domain bound
    * and equality matchers.
    */
  private def nonTemporalLongLit(e: Expression): Option[Long] =
    uncast(e) match {
      case lit @ Literal(_, dt)
          if !dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
            !dt.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType] &&
            !dt.isInstanceOf[org.apache.spark.sql.types.DateType] =>
        longLit(lit)
      case _ => None
    }

  private def longLit(e: Expression): Option[Long] = uncast(e) match {
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Int, _)  => Some(v.toLong)
    // constant folding rewrites `interval / 300L` to `interval / 300.0`
    case Literal(v: Double, _) if v.isWhole => Some(v.toLong)
    case Literal(v: java.math.BigDecimal, _)
        if v.stripTrailingZeros.scale <= 0 => Some(v.longValueExact)
    case _ => None
  }

  private def intervalAttr(e: Expression): Option[Attribute] = uncast(e) match {
    case a: Attribute if a.name == "interval" => Some(a)
    case _ => None
  }

  /** A step-S alignment of `interval`, in any of its common spellings:
    *   interval - interval % S
    *   (interval div S) * S
    *   floor(interval / S) * S
    */
  private def alignStep(e: Expression): Option[Long] = uncast(e) match {
    case Subtract(l, Pmod(l2, s, _), _) =>
      for (_ <- intervalAttr(l); a <- intervalAttr(l2); st <- longLit(s)) yield st
    case Subtract(l, Remainder(l2, s, _), _) =>
      for (_ <- intervalAttr(l); a <- intervalAttr(l2); st <- longLit(s)) yield st
    case Multiply(q, s, _) =>
      (uncast(q) match {
        case IntegralDivide(l, s2, _) =>
          for (_ <- intervalAttr(l); st2 <- longLit(s2)) yield st2
        case Floor(Divide(l, s2, _)) =>
          for (_ <- intervalAttr(l); st2 <- longLit(s2)) yield st2
        case _ => None
      }).filter(st2 => longLit(s).contains(st2))
    case _ => None
  }

  /** grouping must contain `metric` and a step-S alignment of `interval`. */
  private def matchGrouping(grouping: Seq[Expression]): Option[(Expression, Int)] = {
    val aligned = grouping.flatMap(alignStep).headOption
    val metric = grouping.collectFirst {
      case a: Attribute if a.name == "metric" => a: Expression
    }
    for (s <- aligned; m <- metric) yield (m, s.toInt)
  }

  /** The exprId a pass-through output ultimately references (bare
    * attribute or single-attribute alias).
    */
  private def underlyingId(ne: NamedExpression): Option[ExprId] = ne match {
    case a: Attribute => Some(a.exprId)
    case Alias(a: Attribute, _) => Some(a.exprId)
    case _ => None
  }

  /** Classify the Aggregate's result expressions by ROLE, returning the
    * output exprIds carrying the metric grouping and the aligned-interval
    * grouping. Output wiring is positional-by-name, so every rewrite must
    * bind names to these ids before substituting — a cross-renaming
    * Project (`select(col("interval").as("metric"),
    * col("metric").as("interval"), col("value"))`) passes the bare name
    * check but references the WRONG aggregate outputs (ADVICE r4).
    */
  private def groupingOutputIds(aggExprs: Seq[NamedExpression],
                                child: LogicalPlan): (Seq[ExprId], Seq[ExprId]) = {
    val metricIds = outputIdsWhere(aggExprs, child) {
      case a: Attribute => a.name == "metric"
      case _ => false
    }
    val alignIds = outputIdsWhere(aggExprs, child)(e => alignStep(e).nonEmpty)
    (metricIds, alignIds)
  }

  /** Output exprIds of the agg result expressions whose core — resolved
    * one step through child-Project aliases (Catalyst's pulled-out
    * `_groupingexpression`s live there) — satisfies `pred`.
    */
  private def outputIdsWhere(aggExprs: Seq[NamedExpression], child: LogicalPlan)(
      pred: Expression => Boolean): Seq[ExprId] = {
    val aliasMap: Map[ExprId, Expression] = child
      .collect { case p: Project => p.projectList }
      .flatten
      .collect { case a: Alias => a.exprId -> a.child }
      .toMap
    def core(ne: NamedExpression): Expression = ne match {
      case Alias(c, _) => c
      case o => o
    }
    def resolved(e: Expression): Expression = e match {
      case attr: Attribute => aliasMap.getOrElse(attr.exprId, attr)
      case other => other
    }
    aggExprs.collect { case ne if pred(resolved(core(ne))) => ne.exprId }
  }

  /** single value aggregate matching a policy kernel — top-level
    * aliases only (see [[allAggsTopLevel]]); a Count(value) top (the
    * gated shape's `known`) is permitted and simply matches no kernel.
    * Returns the kernel AND its output exprId, for output binding.
    */
  private def matchKernel(aggExprs: Seq[NamedExpression]): Option[(AggregationMethod, ExprId)] = {
    if (!allAggsTopLevel(aggExprs)) return None
    val kernels = aggExprs.collect {
      case al @ Alias(AggregateExpression(Average(v: Attribute, _), _, false, None, _), _)
          if v.name == "value" => (AggregationMethod.Average, al.exprId)
      case al @ Alias(AggregateExpression(Sum(v: Attribute, _), _, false, None, _), _)
          if v.name == "value" => (AggregationMethod.Sum, al.exprId)
      case al @ Alias(AggregateExpression(Max(v: Attribute), _, false, None, _), _)
          if v.name == "value" => (AggregationMethod.Max, al.exprId)
      case al @ Alias(AggregateExpression(Min(v: Attribute), _, false, None, _), _)
          if v.name == "value" => (AggregationMethod.Min, al.exprId)
      // whisper's `last` = chronologically last known → max_by(value, interval)
      case al @ Alias(AggregateExpression(
            org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
              v: Attribute, ord: Attribute), _, false, None, _), _)
          if v.name == "value" && ord.name == "interval" => (AggregationMethod.Last, al.exprId)
    }
    if (kernels.size == 1) kernels.headOption else None
  }
}

object RollupSubstitution {
  /** Inject into an existing session's optimizer. Idempotent per
    * (session, store root), and meant to stay registered: every new
    * action on a returned Dataset builds a FRESH QueryExecution, and the
    * optimizer reads extraOptimizations at that moment — deregistering
    * after building a frame silently hands its future executions the
    * unsubstituted recompute plan (a `.count()` later would re-aggregate
    * level-0 even though the build-time plan check passed).
    */
  def register(spark: SparkSession, store: MetricStore): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case r: RollupSubstitution =>
        (r.spark eq spark) && r.store.root == store.root
      case _ => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RollupSubstitution(spark, store)
  }
}
