package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.plans.ScaleRules

/** The executed physical plan of every graded query, built ONCE per
  * test JVM and shared by all whole-surface plan gates
  * ([[GlobalJoinSpec]], [[GlobalWindowSpec]], [[GlobalFunnelSpec]]).
  * Each suite previously built its own copy of all 538 plans (~2 min
  * per pass); `Test / fork := true` runs every suite in one JVM, so a
  * single shared pass serves them all.
  *
  * The bounded-name vocabulary and the contraction / row-bound proofs
  * moved to the MAIN-side [[graft.plans.ScaleRules]] in round 7
  * (verdict item: single source of truth — a main-side dev probe,
  * since retired, carried a hand-synced mirror that had drifted
  * behind the round-6 alias promotion). The forwarders below keep the gate suites' call sites
  * unchanged; [[VocabularySyncSpec]] pins the delegation.
  *
  * A query that fails to BUILD here throws, which fails whichever
  * gate suite touches the list first — same net effect as the old
  * per-suite `fail(...)`, still build-failing.
  */
object GradedPlans {

  private def strip(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  val lowCardNames: Set[String] = ScaleRules.lowCardNames
  val boundedAliasNames: Set[String] = ScaleRules.boundedAliasNames
  val growingNames: Set[String] = ScaleRules.growingNames

  def contractedBelow(p: SparkPlan): Boolean = ScaleRules.contractedBelow(p)

  def boundedLogical(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    ScaleRules.boundedLogical(p)

  private lazy val executions
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    val spark = GraftSpecBase.session
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df =
        try fn(spark, sf)
        catch { case e: Throwable =>
          throw new AssertionError(
            s"$name failed to build at $sf: ${e.getMessage}", e) }
      name -> df.queryExecution
    }
  }

  /** Cache interiors reachable from `p` (nested included), deduped by
    * CachedRDDBuilder identity: a `.persist()` interior only exists
    * PHYSICALLY (the logical plan shows an InMemoryRelation leaf), so
    * without this the physical gates — cartesian, BNLJ-build,
    * shuffle-join funnel, window — never swept what runs inside a
    * persisted subtree (round-9: the same materialization-opacity
    * class as round 7's checkpoint leaves). The strategy-blind rule
    * is covered for these by physicalJoinFunnel (the logical form is
    * gone), so no gate class is blind to cache interiors. */
  private[graft] def cacheInteriors(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    // round-9 review: a cachedPlan containing any exchange is an
    // AdaptiveSparkPlanExec LEAF on Spark 4.1.2 — without unwrapping,
    // collect-based gates over the interior are vacuous for exactly
    // the join/aggregate interiors this sweep exists to cover
    def unwrap(q: SparkPlan): SparkPlan = q match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    // expose: add a plan AND every query-stage sub-plan under it as
    // separate sweep entries — an EXECUTED cache (materialized during
    // the shared build pass by an eager checkpoint) finalizes with
    // QueryStageExec LEAVES, below which plan.collect in the gates
    // cannot see (round-9 review, second pass)
    val seenStages = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def expose(q: SparkPlan): Unit = {
      out += q
      q.foreach {
        // dedup by stage instance: AQE stage REUSE places the same
        // QueryStageExec at multiple tree positions (round-9 review)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec
            if seenStages.add(st) =>
          expose(unwrap(st.plan))
        case _ => ()
      }
    }
    def go(q: SparkPlan): Unit = q.foreach {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if seen.add(s.relation.cacheBuilder) =>
        val inner = unwrap(s.relation.cachedPlan)
        expose(inner)
        go(inner)
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q2: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        go(q2.plan)
      case _ => ()
    }
    go(p)
    out.toSeq
  }

  private lazy val topLevelAtSf0001: Seq[(String, SparkPlan)] =
    executions.map { case (n, qe) => n -> strip(qe.executedPlan) }

  /** One entry per distinct cache interior per query (same query
    * name, so allowlists keep working). Swept by the physical gates
    * via [[atSf0001]], and by the PHYSICAL join-funnel twin
    * ([[graft.plans.ScaleRules.physicalJoinFunnel]]) — the logical
    * gate 1b cannot see these (interiors exist only physically). */
  lazy val cacheInteriorPlans: Seq[(String, SparkPlan)] =
    topLevelAtSf0001.flatMap { case (n, top) =>
      cacheInteriors(top).map(n -> _) }

  /** Every graded query's executed plan, PLUS the cache interiors. */
  lazy val atSf0001: Seq[(String, SparkPlan)] =
    topLevelAtSf0001 ++ cacheInteriorPlans

  /** Optimized LOGICAL plans from the same build pass — join hints
    * survive here (the physical plan no longer says which broadcasts
    * were hint-forced vs stats-chosen). Building the physical plan
    * first (atSf0001's pass) also populates the CheckpointRegistry,
    * so [[logicalExpanded]] sees checkpointed interiors. */
  lazy val logicalAtSf0001
      : Seq[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    executions.map { case (n, qe) => n -> qe.optimizedPlan }

  /** Same, with each query's checkpointed sub-plans appended
    * (transitively, via the CheckpointRegistry): logical-plan sweeps
    * over THIS list cover the interiors that lazy localCheckpoint
    * previously hid behind RDD-scan leaves. */
  lazy val logicalExpanded: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = {
    atSf0001 // force the physical pass first: it populates the registry
    logicalAtSf0001.map { case (n, p) =>
      n -> graft.plans.CheckpointRegistry.expand(p)
    }
  }
}
