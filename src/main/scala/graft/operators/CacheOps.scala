package graft.operators

import org.apache.spark.sql.DataFrame

import graft.plans.CheckpointRegistry

/** Cache + lineage hygiene for query builders that persist or
  * checkpoint an intermediate (iterative graph algorithms,
  * pair-generation barriers): persisted blocks otherwise accumulate in
  * executor storage memory across a multi-hundred-query bench run
  * (round-3 advice), and unrolled iterations replicate their plan tree
  * multiplicatively without per-round truncation (round-6).
  *
  * [[finalized]] materializes the (small — these results are
  * dimension-sized) result with an EAGER `localCheckpoint`, which cuts
  * the lineage back to the persisted intermediate, then unpersists the
  * intermediates. The caller gets a self-contained DataFrame; the
  * cache's storage is released immediately instead of at session end.
  *
  * [[truncated]] is the LAZY per-round form (lineage truncation +
  * cached-RDD dedup, no extra jobs — the eager form was A/B-measured
  * and rejected in round 6 for taxing the concurrent bench ~8 s).
  * Both register the pre-checkpoint logical plan in
  * [[graft.plans.CheckpointRegistry]] so the scale gates' structural
  * proofs see through the RDD-scan leaf the checkpoint plants —
  * previously the two blind spots behind these leaves were covered by
  * source comments and an allowlist entry (round-6 verdict item 6).
  */
object CacheOps {

  // ------------------------------------------------------------------
  // Round-9 (verdict item 2): checkpoint block LIFECYCLE. Every
  // truncatedCheckpoint/finalized call persists RDD blocks
  // (MEMORY_AND_DISK) that were previously reclaimed only by
  // GC/ContextCleaner — across a 529-query bench pass in one JVM that
  // accumulates ~600+ dead cached frames, and a long-lived job-server
  // session has no release discipline at all. [[scoped]] is the
  // explicit release hook: checkpoints created on the CURRENT THREAD
  // inside the scope are unpersisted when the scope closes (after the
  // query's results are fully consumed — a localCheckpoint's lineage
  // is truncated, so release-before-consumption would be
  // unrecoverable, which is why this is an explicit post-consumption
  // hook and not a finalizer). Thread-local, so Bench's concurrent
  // query streams release only their own frames. Nested scopes
  // release independently (inner first).
  // ------------------------------------------------------------------
  private val ledger =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]]]()

  private def track(out: DataFrame): DataFrame = {
    val buf = ledger.get()
    if (buf != null) out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => buf += l.rdd
      case _ =>
    }
    out
  }

  /** Run `body` (typically: build ONE query and consume its result),
    * then unpersist every checkpoint this thread created inside it.
    * Storage returns to its pre-scope floor — CacheLifecycleSpec pins
    * this for a sequential sweep. */
  def scoped[T](body: => T): T = {
    val prev = ledger.get()
    val buf = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]]()
    ledger.set(buf)
    try body
    finally {
      if (prev == null) ledger.remove() else ledger.set(prev)
      buf.foreach { r =>
        // release the driver-side provenance FIRST (round-9 ADVICE +
        // round-10 review): the registry entry exists for gate sweeps
        // over LIVE frames; once the scope closes the plan is dead
        // weight — one retained optimized LogicalPlan per checkpoint
        // is a real leak in a job-server session running thousands of
        // queries. Ordered before unpersist so a throwing unpersist
        // (stopped context, shutdown race) cannot leak the plan the
        // hook exists to release.
        CheckpointRegistry.deregister(r.id)
        try r.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }

  def finalized(result: DataFrame, cached: DataFrame*): DataFrame = {
    // eager: runs the query now; same dangling-capture sanitation as
    // [[truncated]] (round-11)
    val out = org.apache.spark.sql.GraftSqlBridge
      .sanitizeCheckpointCapture(result.localCheckpoint())
    cached.foreach(_.unpersist())
    track(CheckpointRegistry.register(out, result))
  }

  /** Lazy checkpoint with gate-visible provenance. Without a
    * checkpoint dir = `localCheckpoint` (no extra jobs, no CacheManager
    * contention — measured in round 6). localCheckpoint is
    * NON-FAULT-TOLERANT: an executor loss mid-query fails the job
    * instead of recomputing (round-8 ADVICE). At the 100 TB posture a
    * deployment sets `sparkContext.setCheckpointDir` — the same call
    * sites then write RELIABLE checkpoints to the cluster's checkpoint
    * store, and an executor loss recovers from it. Same plan shape
    * either way (a LogicalRDD leaf, registry-visible to every scale
    * gate). */
  def truncated(df: DataFrame): DataFrame = {
    val raw =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // round-11: over catalog tables the checkpoint's captured physical
    // partitioning/ordering can hold attribute instances that differ
    // from the leaf's own output (unqualified twins of the qualified
    // catalog attrs), which breaks LogicalRDD.newInstance's
    // instance-keyed rewrite and poisons downstream self-join
    // deduplication with INTERNAL_ERROR "conflicting references".
    // Canonicalized at creation; healthy captures pass through
    // untouched; see GraftSqlBridge.sanitizeCheckpointCapture.
    val out = org.apache.spark.sql.GraftSqlBridge
      .sanitizeCheckpointCapture(raw)
    track(CheckpointRegistry.register(out, df))
  }

  /** True when every leaf of `df`'s analyzed plan is already
    * materialization-backed (checkpointed RDD, local relation, small
    * range) — i.e. re-executing the frame touches no base-table scan.
    * Operators that materialize their input for branch fan-out
    * (PrefixOps) skip the checkpoint then: re-deriving a projection
    * from cached rows per branch is cheaper than a second cached
    * copy. */
  def scanFree(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => true
      case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
        r.numElements <= BigInt(65536)
      case _ => false
    }

  /** True when the frame IS a materialization leaf — a checkpointed
    * RDD / local relation, possibly under a column-pruning Project —
    * i.e. re-referencing it N times costs N cache READS and nothing
    * else. STRONGER than [[scanFree]] (round-9 review): a scan-free
    * frame can still carry arbitrary recompute (aggregates, joins,
    * windows) above its cached leaves, and an operator that skips its
    * materialize-once step for such a frame re-runs that compute per
    * branch. WHICH predicate to use is a measured trade, not a rule:
    * PostingsOps uses THIS one (its recompute is a full vocabulary
    * aggregate, far dearer than caching the small postings frame);
    * PrefixOps keeps [[scanFree]] after a round-9 sf0.1 A/B showed
    * the swap cost +12 s (~17%) — its fan-out branches are
    * column-pruned, so their per-branch recompute is cheaper than a
    * full-width cached copy of the chained frame. */
  def materializationLeaf(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) &&
          (p.child.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
            p.child.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      case _ => false
    }

  /** Chain-friendly forms of [[truncated]]/[[finalized]]'s
    * registration, so call sites keep their method-chain shape. */
  implicit class CheckpointSyntax(private val df: DataFrame)
      extends AnyVal {
    /** Lazy `localCheckpoint(eager = false)` + registry. */
    def truncatedCheckpoint(): DataFrame = truncated(df)
    /** Eager `localCheckpoint()` + registry. */
    def eagerCheckpoint(): DataFrame =
      track(CheckpointRegistry.register(
        org.apache.spark.sql.GraftSqlBridge
          .sanitizeCheckpointCapture(df.localCheckpoint()), df))
  }
}
