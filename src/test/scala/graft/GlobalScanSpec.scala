package graft

import org.apache.spark.sql.functions._

import graft.plans.ScanCensus

/** Round-8 whole-surface gate: the FileScan census, promoted from a
  * by-hand dev tool (round-7 found 9 queries silently re-reading fact
  * tables N-fold by running the census by hand, now graft.Profile's
  * census pass — and the round-8
  * rootPath-exact recount found the true tail reached 96 scans in one
  * plan, hidden from the old plan-string census by Spark's Location
  * truncation) to a build-failing gate, the funnel-class pattern.
  *
  * Counting basis: LOGICAL occurrences of each base parquet relation
  * over CheckpointRegistry-EXPANDED optimized plans
  * ([[ScanCensus.tableScanCounts]]) — checkpoint interiors included,
  * matched by the relation's actual rootPaths (plan-string substring
  * matching silently undercounts when Spark truncates long Location
  * strings). Logical occurrence count is an UPPER bound on physical
  * scans (ReuseExchange can dedupe identical subtrees), so a plan
  * that passes here cannot read more at runtime.
  *
  * Why it matters at 100 TB: a query whose plan tree embeds the fact
  * scan k times reads the corpus k times — an N× I/O multiplier
  * invisible at graded SF (the bench persists base tables, so local
  * timings barely move). The round-8 fix wave materializes each
  * shared contracted frame once (lazy localCheckpoint via
  * CacheOps.truncatedCheckpoint — registry-visible to every other
  * gate) and dropped the surface's worst plan from 96 events scans to
  * 2.
  */
class GlobalScanSpec extends GraftSpecBase {

  /** A fact table appearing more than this many times in one query's
    * expanded plan fails the gate. 3 accommodates the legitimate
    * multi-pass shapes (self-joins = 2, three-stage funnels,
    * train/validate splits with a spine) without re-admitting the
    * fixed N-fold class. Round-9 distribution (with the honest
    * counting: persist interiors once per cache, checkpoint interiors
    * by RDD id, subqueries included): 0×3 / 1×322 / 2×170 / 3×44 over
    * the 539-query surface — nothing above the gate, allowlist EMPTY
    * (q_mmd's label-slice materialization took it 6 → 2). */
  private val MaxFactScans = 3

  /** Queries allowed to exceed [[MaxFactScans]], with the inherent
    * reason. Keep minimal — a shared contracted frame re-embedded per
    * branch is a bug (materialize it once), not an allowlist case.
    * EMPTY since round 9: q_mmd (the last entry, 6 scans) now
    * materializes each label slice once, so the xx/yy/xy kernel legs
    * read cached frames — 2 scans, gate-clean. The pairwise kernel
    * cost stays (exact-MMD² demonstrator by contract; scale path =
    * q_mmd_linear), but its I/O no longer multiplies. */
  private val scanAllowed: Map[String, String] = Map.empty

  private lazy val censuses: Seq[(String, Map[String, Int])] =
    GradedPlans.logicalExpanded.map { case (name, plans) =>
      name -> ScanCensus.tableScanCounts(plans)
    }

  test("no graded plan scans a fact table more than MaxFactScans times") {
    val offenders = censuses.flatMap { case (name, counts) =>
      if (scanAllowed.contains(name)) None
      else {
        val over = counts.filter { case (t, c) =>
          ScanCensus.factTables.contains(t) && c > MaxFactScans }
        if (over.isEmpty) None
        else Some(s"$name(${over.map { case (t, c) => s"$t=$c" }.mkString(",")})")
      }
    }
    assert(offenders.isEmpty,
      s"fact tables scanned >$MaxFactScans times (materialize the shared " +
        s"frame once — CacheOps.truncatedCheckpoint): ${offenders.mkString(", ")}")
  }

  test("scanAllowed allowlist stays minimal (no stale entries)") {
    val stillNeeded = censuses
      .filter { case (name, _) => scanAllowed.contains(name) }
      .collect { case (name, counts) if counts.exists { case (t, c) =>
        ScanCensus.factTables.contains(t) && c > MaxFactScans } => name }
      .toSet
    val stale = scanAllowed.keySet -- stillNeeded
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }

  test("every file relation in every graded plan is a recognized table (no census blind spots)") {
    val unknown = censuses.collect {
      case (name, counts) if counts.getOrElse("unknown", 0) > 0 =>
        s"$name(unknown=${counts("unknown")})"
    }
    assert(unknown.isEmpty,
      s"file relations matching no graded table — the census (and every " +
        s"per-table gate) is blind to them: ${unknown.mkString(", ")}")
  }

  // ----- detector self-test (the ScaleRulesSpec done-criterion): the
  // gate must FIRE on a reconstructed pre-fix shape and stay quiet on
  // the fixed one, so a future refactor cannot silently disarm it.

  test("the census fires on a reconstructed pre-fix N-branch shape and passes the fixed form") {
    val ev = Tables.events(spark, sf).select(col("event_type"), col("value"))
    // pre-fix q_pot_gpd shape: one branch per threshold, each
    // re-embedding the scan
    val preFix = Seq(70.0, 75.0, 80.0, 85.0, 90.0)
      .map(u => ev.filter(col("value") > u)
        .agg(count(lit(1)).as("n")).select(lit(u).as("u"), col("n")))
      .reduce(_ unionByName _)
    val preCounts = ScanCensus.tableScanCounts(
      graft.plans.CheckpointRegistry.expand(
        preFix.queryExecution.optimizedPlan))
    assert(preCounts.getOrElse("events", 0) > MaxFactScans,
      s"detector must fire on the 5-branch re-embedded shape, got $preCounts")
    // fixed form: the branches fan out from one materialized frame
    import graft.operators.CacheOps.CheckpointSyntax
    val evM = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).truncatedCheckpoint()
    val fixed = Seq(70.0, 75.0, 80.0, 85.0, 90.0)
      .map(u => evM.filter(col("value") > u)
        .agg(count(lit(1)).as("n")).select(lit(u).as("u"), col("n")))
      .reduce(_ unionByName _)
    val fixedCounts = ScanCensus.tableScanCounts(
      graft.plans.CheckpointRegistry.expand(
        fixed.queryExecution.optimizedPlan))
    assert(fixedCounts.getOrElse("events", 0) <= MaxFactScans,
      s"fixed shape must pass, got $fixedCounts")
  }
}
