package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

/** Round-6 whole-surface gates — the per-key-funnel siblings of
  * [[GlobalWindowSpec]]'s low-cardinality-partition window gate,
  * covering the remaining plan shapes where a ~5-value key domain
  * funnels fact-scale rows through |domain| tasks at 100 TB:
  *
  *  1. **Shuffle joins keyed only on bounded-domain columns.** Hash
  *     partitioning on `event_type` routes every row of BOTH sides
  *     into ≤|domain| reducer partitions. Unlike groupBy (rescued by
  *     map-side partial aggregation) a join has no contraction before
  *     the shuffle — the funnel is unconditional. Acceptable only
  *     when both sides were already contracted below (tiny frames
  *     joining tiny frames — margin/grid joins).
  *  2. **collect_list / collect_set grouped only by bounded-domain
  *     keys over uncontracted input.** List-agg partials cannot
  *     contract (the partial IS the list), so per-group state grows
  *     with |input| — ~n/|domain| rows held in one task's memory.
  *  3. **Global sorts ordered only by bounded-domain columns over
  *     uncontracted input.** Range partitioning over a |domain|-value
  *     key populates ≤|domain| ranges — a presentation `orderBy` on
  *     `event_type` alone serializes ~n/|domain| per task.
  *
  * The round-6 sweep (a main-side dev probe, since retired; its
  * codegen-fallback audit lives on in graft.Profile) found ZERO
  * genuine offenders
  * across all graded plans — these gates lock that in. The one
  * allowlisted sort is a proof-machinery blind spot, not a funnel:
  * lazy `localCheckpoint` plants an RDD-scan leaf the structural
  * contraction proof cannot see through.
  */
class GlobalFunnelSpec extends GraftSpecBase {

  import GradedPlans.{contractedBelow, lowCardNames}

  private lazy val plans: Seq[(String, SparkPlan)] = GradedPlans.atSf0001

  private def allLowCard(keys: Seq[Expression]): Boolean =
    keys.nonEmpty && keys.forall {
      case a: Attribute => lowCardNames.contains(a.name)
      case _ => false
    }

  // ----- gate 1: bounded-domain-keyed shuffle joins ----------------

  private def joinFunnel(p: SparkPlan): Boolean = p match {
    case j: SortMergeJoinExec =>
      allLowCard(j.leftKeys) &&
        (!contractedBelow(j.left) || !contractedBelow(j.right))
    case j: ShuffledHashJoinExec =>
      allLowCard(j.leftKeys) &&
        (!contractedBelow(j.left) || !contractedBelow(j.right))
    case _ => false
  }

  /** Queries allowed a bounded-domain-keyed shuffle join over
    * uncontracted input, with the documented reason. Empty today —
    * keep it that way (broadcast the contracted side instead). */
  private val joinAllowed: Map[String, String] = Map.empty

  test("no graded plan shuffle-joins fact-scale rows on only low-cardinality keys") {
    val offenders = plans.flatMap { case (name, plan) =>
      if (plan.exists(joinFunnel) && !joinAllowed.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"bounded-domain-keyed shuffle joins over uncontracted input in: ${offenders.mkString(", ")}")
  }

  // ----- gate 1b: strategy-blind join funnel (round-7 verdict) ------
  // Gate 1 matches only SMJ/ShuffledHash PHYSICAL joins — at graded SF
  // the stats plan a fact×fact bounded-key join as BroadcastHashJoin,
  // which escaped it even though broadcasting a corpus-growing side is
  // exactly the 100 TB OOM (this is how q_fs_linkage's nation-blocked
  // O(n²/25) self-join and q_lof's label-only block shipped in round
  // 6). This gate evaluates the OPTIMIZED LOGICAL join: equi keys all
  // bounded-domain between two sides neither of which is provably
  // constant-bounded ⇒ at scale the join must shuffle, and the key
  // caps parallelism at |domain|. A boundedLogical side (a grid /
  // per-bounded-group frame) exempts the join: broadcasting a
  // constant-size frame is the correct plan at every scale. Swept over
  // checkpointed interiors too (CheckpointRegistry.expand).

  private def logicalJoinFunnel(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        graft.plans.ScaleRules.logicalJoinFunnel(j)
      case _ => false
    }

  private val logicalJoinAllowed: Map[String, String] = Map.empty

  test("no graded logical plan joins two corpus-growing sides on only low-cardinality equi keys") {
    val offenders = expanded.flatMap { case (name, ps) =>
      if (ps.exists(logicalJoinFunnel) && !logicalJoinAllowed.contains(name))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"bounded-domain-keyed joins of two corpus-growing sides in: ${offenders.mkString(", ")}")
  }

  test("no cache interior joins two corpus-growing sides on only low-cardinality equi keys (physical twin of gate 1b, round-9)") {
    // a `.persist()` interior exists only PHYSICALLY, so gate 1b's
    // logical sweep can never see it — the physical twin applies the
    // same strategy-blind rule with the physical bounded-rows proofs
    val offenders = GradedPlans.cacheInteriorPlans.flatMap {
      case (name, plan) =>
        val bad = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if graft.plans.ScaleRules.physicalJoinFunnel(j) => j
        }
        if (bad.nonEmpty) Some(name) else None
    }.distinct
    assert(offenders.isEmpty,
      s"bounded-domain-keyed joins of two corpus-growing sides inside " +
        s"persisted interiors: ${offenders.mkString(", ")}")
  }

  test("logicalJoinAllowed allowlist stays minimal (no stale entries)") {
    val stillNeeded = expanded
      .filter { case (name, _) => logicalJoinAllowed.contains(name) }
      .collect { case (name, ps) if ps.exists(logicalJoinFunnel) => name }
      .toSet
    val stale = logicalJoinAllowed.keySet -- stillNeeded
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }

  // ----- gate 2: unbounded list-agg state per bounded group --------

  private def collectFunnel(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.aggregateExpressions.exists(
        _.aggregateFunction.prettyName.startsWith("collect_")) &&
        allLowCard(a.groupingExpressions) && !contractedBelow(a.child)
    case _ => false
  }

  private val collectAllowed: Map[String, String] = Map.empty

  test("no graded plan collects unbounded lists per low-cardinality group") {
    val offenders = plans.flatMap { case (name, plan) =>
      if (plan.exists(collectFunnel) && !collectAllowed.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"unbounded collect_* state per bounded group in: ${offenders.mkString(", ")}")
  }

  // ----- gate 2b: buffering percentile-family aggregates -----------
  // Spark's exact percentile / median / mode are
  // TypedImperativeAggregates buffering a (value → count) map per
  // group: over a near-unique value column that is ~n/|groups|
  // entries in one task when the grouping keys are all bounded-domain
  // (or absent) — the same state explosion as collect_*, with the
  // same non-contracting partial. The contracted-grid path
  // (operators/OrderStats.interpolatedPercentiles) computes the
  // identical value with every stage parallel.

  private val bufferingAggs =
    Set("percentile", "median", "percentile_cont", "percentile_disc", "mode")

  private def percentileFunnel(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.aggregateExpressions.exists(ae =>
        bufferingAggs.contains(ae.aggregateFunction.prettyName)) &&
        (a.groupingExpressions.isEmpty || allLowCard(a.groupingExpressions)) &&
        !contractedBelow(a.child)
    case _ => false
  }

  private val percentileAllowed: Map[String, String] = Map.empty

  test("no graded plan runs a buffering percentile/median/mode aggregate per low-cardinality group over uncontracted input") {
    val offenders = plans.flatMap { case (name, plan) =>
      if (plan.exists(percentileFunnel) && !percentileAllowed.contains(name))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"buffering percentile-family aggregates over uncontracted input in: ${offenders.mkString(", ")}")
  }

  // ----- gate 3: bounded-domain-only global sorts ------------------

  private def sortFunnel(p: SparkPlan): Boolean = p match {
    case s: SortExec =>
      s.global && allLowCard(s.sortOrder.map(_.child)) &&
        !contractedBelow(s.child)
    case _ => false
  }

  /** Global sorts on only bounded-domain keys whose input IS
    * contracted but the structural proof cannot see it. Round 7
    * emptied it: q_ipf_rake's entry (an RDD-scan leaf hiding the cell
    * grid's groupBy contraction) is now proved through the
    * CheckpointRegistry instead of allowlisted. */
  private val sortAllowed: Map[String, String] = Map.empty

  test("no graded plan globally sorts uncontracted rows by only low-cardinality keys") {
    val offenders = plans.flatMap { case (name, plan) =>
      if (plan.exists(sortFunnel) && !sortAllowed.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"bounded-domain-only global sorts over uncontracted input in: ${offenders.mkString(", ")}")
  }

  // ----- gate 4: hint-forced broadcasts of corpus-growing maps -----
  // A broadcast() hint survives at EVERY scale, where a stats-chosen
  // broadcast self-corrects once the frame outgrows the threshold —
  // so hinting a |vocab|- / per-doc / per-user / per-part map (GBs at
  // 100 TB) pins an OOM into the plan that the toy SF can't see. The
  // round-6 audit found and de-hinted 9 such queries (the high-card
  // join key makes the unhinted join parallel at scale, and graded-SF
  // stats still choose broadcast unaided). Scope: derived per-key
  // maps (an Aggregate grouping on a corpus-growing column below the
  // hinted side); raw dim-table broadcasts (the §2-B q_join_broadcast
  // demonstrator family) are a per-deployment dim-size call and stay
  // out of scope.

  private lazy val logicalPlans = GradedPlans.logicalAtSf0001
  // every query's optimized plan PLUS its checkpointed sub-plans
  // (transitively): the round-6 blind spots — a funnel or hint hiding
  // behind a lazy localCheckpoint's RDD-scan leaf — are structurally
  // covered since round 7 (CacheOps.truncated registers provenance)
  private lazy val expanded = GradedPlans.logicalExpanded

  private def growingKeyedAgg(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.exists {
          case att: Attribute => GradedPlans.growingNames.contains(att.name)
          case _ => false
        }
      case _ => false
    }

  private def forcedGrowingBroadcasts(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).exists {
          case (h, side) =>
            h.exists(_.strategy.exists(
              _.toString.toLowerCase.contains("broadcast"))) &&
              growingKeyedAgg(side) && !GradedPlans.boundedLogical(side)
        }
      case _ => false
    }

  /** Hinted sides with a corpus-growing-keyed aggregate that ARE
    * bounded, but by structure the proof cannot see. */
  private val broadcastAllowed: Map[String, String] = Map(
    "q_burrows_delta" -> ("per-term z-stats over the top-20-term x " +
      "<=10-source rate panel (limit 20 crossJoin srcLen, left-join " +
      "fetches <=1 count per cell): <=200 rows; the outer-join " +
      "multiplicity bound is outside boundedLogical"))
    // q_assortativity's round-6 entry (nation-graph stubs whose u/v
    // names collided with growingNames) retired in round 7: the
    // endpoint rename to na/nb plus the cache-transparent bounded
    // proof carry it structurally now

  test("no graded plan hint-forces a broadcast of a corpus-growing keyed map") {
    val offenders = expanded.flatMap { case (name, ps) =>
      if (ps.exists(forcedGrowingBroadcasts) && !broadcastAllowed.contains(name))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"hint-forced broadcasts of corpus-growing maps in: ${offenders.mkString(", ")}")
  }

  // ----- gate 4b: hint-forced broadcasts of raw SF-proportional ----
  // projections — part at 100 TB SF is ~3 TB, customer ~1.5 TB: a
  // hinted broadcast of an uncontracted projection of ANY
  // SF-proportional table pins that OOM at every scale, while the
  // PK-keyed join is parallel without the hint and graded-SF stats
  // still broadcast the small side unaided. Bounded fetches prove out
  // (PK equality pins, `vec_id < K` seed ranges, rank-limited window
  // filters — GradedPlans.boundedLogical); the rest must be the
  // documented demonstrators.

  private val sfTables = Seq("customer", "part", "supplier", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def rawSfProjection(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit}
    val contractedSomewhere = p.exists {
      case _: Aggregate | _: GlobalLimit => true
      case _ => false
    }
    val scansSf = p.exists {
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val path = h.location.rootPaths.mkString(",")
            sfTables.exists(path.contains) && !path.contains("partsupp")
          case _ => false
        }
      case _ => false
    }
    scansSf && !contractedSomewhere
  }

  private def forcedDimBroadcasts(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).exists {
          case (h, side) =>
            h.exists(_.strategy.exists(
              _.toString.toLowerCase.contains("broadcast"))) &&
              rawSfProjection(side) && !GradedPlans.boundedLogical(side)
        }
      case _ => false
    }

  /** The §2-B join-strategy demonstrators: the broadcast hint IS the
    * graded contract (JoinPlanSpec asserts the physical strategy).
    * Real deployments size the dim side per cluster. */
  private val dimBroadcastAllowed: Map[String, String] = Map(
    "q_join_broadcast" -> "the broadcast-join demonstrator row",
    "q_join_star" -> "star-schema demonstrator (customer x nation dims)")
  // round-12: q_join_theta retired — its supplier side is a bounded
  // sample frame now (TakeOrdered ≤ 2¹⁶), so the broadcast is of a
  // provably bounded build, not a raw SF-proportional projection

  test("no graded plan hint-forces a broadcast of an uncontracted SF-proportional projection") {
    val offenders = expanded.flatMap { case (name, ps) =>
      if (ps.exists(forcedDimBroadcasts) && !dimBroadcastAllowed.contains(name))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"hint-forced broadcasts of raw SF-proportional projections in: ${offenders.mkString(", ")}")
  }

  test("dimBroadcastAllowed allowlist stays minimal (no stale entries)") {
    val stillNeeded = expanded
      .filter { case (name, _) => dimBroadcastAllowed.contains(name) }
      .collect { case (name, ps) if ps.exists(forcedDimBroadcasts) => name }
      .toSet
    val stale = dimBroadcastAllowed.keySet -- stillNeeded
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }

  test("broadcastAllowed allowlist stays minimal (no stale entries)") {
    val stillNeeded = expanded
      .filter { case (name, _) => broadcastAllowed.contains(name) }
      .collect { case (name, ps) if ps.exists(forcedGrowingBroadcasts) => name }
      .toSet
    val stale = broadcastAllowed.keySet -- stillNeeded
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }

  // ----- allowlist minimality (the GlobalJoinSpec pattern) ---------

  test("funnel allowlists stay minimal (no stale entries)") {
    def stillNeeded(allowed: Map[String, String],
        pred: SparkPlan => Boolean): Set[String] =
      plans.filter { case (name, _) => allowed.contains(name) }
        .collect { case (name, plan) if plan.exists(pred) => name }.toSet
    val stale =
      (joinAllowed.keySet -- stillNeeded(joinAllowed, joinFunnel)) ++
      (collectAllowed.keySet -- stillNeeded(collectAllowed, collectFunnel)) ++
      (percentileAllowed.keySet --
        stillNeeded(percentileAllowed, percentileFunnel)) ++
      (sortAllowed.keySet -- stillNeeded(sortAllowed, sortFunnel))
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }
}
