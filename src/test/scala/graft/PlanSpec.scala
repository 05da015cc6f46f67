package graft

import graft.queries._

/** Physical-plan assertions for the scale claims in SURVEY.md §4:
  * filters reach the parquet scan, projections prune columns, small
  * dims broadcast, top-k short-circuits — the properties that decide
  * whether a plan survives 100 TB, asserted so regressions fail CI. */
class PlanSpec extends GraftSpecBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_rrf_fusion: both retrieval legs are TakeOrderedAndProject-bounded") {
    val df = RetrievalQueries.rrfFusion(spark, sf)
    df.collect()
    val p = plan(df)
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_lsh_exact: band/shingle-keyed joins only, no cartesian products") {
    val df = DedupLshQueries.lshExact(spark, sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_kmeans_step: centroid frames broadcast to the expansion") {
    val df = KmeansStepQueries.kmeansStep(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_feature_corr: single scan feeds all fifteen moments") {
    val df = FeatureEngQueries.featureCorr(spark, sf)
    // the 1-row moment frame is LAZILY CHECKPOINTED (round-7: without
    // the barrier each union branch column-prunes its OWN 2-column
    // lineitem scan + pruned aggregate — six fact passes, no exchange
    // reuse), so the visible plan reads the checkpoint leaf and the
    // registered interior holds the ONE full-width moment aggregate
    val p = plan(df)
    assert(p.contains("ExistingRDD"), p.take(2000))
    assert(!p.contains("FileScan parquet"),
      "all branches must read the checkpointed moment row, not re-scan")
    val interiors = graft.plans.CheckpointRegistry
      .expand(df.queryExecution.optimizedPlan)
    val oneGlobalAgg = interiors.exists(_.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.isEmpty
      case _ => false
    })
    assert(oneGlobalAgg,
      "the checkpointed interior must hold the single moment aggregate")
  }

  test("q_scan_pushdown pushes the filter to parquet") {
    val p = plan(ScanQueries.scanPushdown(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThanOrEqual"), p.take(2000))
  }

  test("q_scan_project prunes to the selected columns") {
    val p = plan(ScanQueries.scanProject(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey"), read)
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"), read)
  }

  test("q_join_broadcast uses BroadcastHashJoin") {
    val p = plan(JoinQueries.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_join_star broadcasts all dimensions (single fact shuffle)") {
    val p = plan(JoinQueries.joinStar(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_limit plans TakeOrderedAndProject (no full sort)") {
    val p = plan(ScanQueries.limitQ(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_agg_group is a 2-phase hash aggregate inside codegen") {
    val df = AggQueries.aggGroup(spark, sf)
    val p = plan(df)
    // map-side combine (its wide double→decimal sums run exact)
    assert(p.contains("partial_exact_decimal_sum"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    df.collect() // finalize AQE so codegen spans materialize
    // codegen stages print as "*(n) Operator" in the final plan
    assert(plan(df).contains("*("), plan(df).take(2000))
  }

  test("q_win_topk plans a rank-limit pushdown (WindowGroupLimit)") {
    val p = plan(WindowQueries.winTopk(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q_join_asof reduces pairs with a partial-aggregable max(struct), not a window") {
    val p = plan(JoinQueries.joinAsof(spark, sf))
    assert(p.contains("partial_max"), p.take(3000)) // map-side combine
    assert(!p.contains("Window"), p.take(3000))     // no exploded-pair sort
  }

  test("q_join_semi plans a semi join (no row multiplication)") {
    val p = plan(JoinQueries.joinSemi(spark, sf))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("q_join_theta plans a broadcast nested-loop with the small side built") {
    val p = plan(JoinQueries.joinTheta(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_sim_cosine broadcasts the 1-row query vector (no shuffle of the corpus)") {
    val p = plan(SimQueries.simCosine(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("q_gapfill broadcasts the dimension grid against aggregated facts") {
    val p = plan(MoreRelQueries.gapfill(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_dedup_simhash is one wide aggregate, no generator fan-out") {
    val p = plan(DedupQueries.dedupSimhash(spark, sf))
    // tall form would show a second Generate (bit_ids explode); wide
    // form has exactly the tokenizer explode
    assert(p.linesIterator.count(_.trim.startsWith("Generate")) <= 1,
      p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000)) // map-side combine
  }

  test("q_stats_ext computes moments via partial-aggregable sums (no sort)") {
    val p = plan(MoreRelQueries.statsExt(spark, sf))
    // the moments are wide double→decimal sums, run exact
    assert(p.contains("partial_exact_decimal_sum"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q_sample_hash filters at the scan stage, before any exchange") {
    val p = plan(PipelineQueries.sampleHash(spark, sf))
    // the md5 filter cannot push into parquet, but it must sit in the
    // scan stage: Filter below the first Exchange
    val filterIdx = p.indexOf("Filter")
    val exchangeIdx = p.indexOf("Exchange")
    assert(filterIdx >= 0 && exchangeIdx >= 0 && filterIdx > exchangeIdx,
      // executedPlan prints top-down: scan-stage Filter appears AFTER
      // the agg Exchange textually
      p.take(3000))
  }

  test("q_retention broadcasts the per-user cohort aggregate") {
    val p = plan(PipelineQueries.retention(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_ngram_freq builds bigrams without a per-document window") {
    val p = plan(PipelineQueries.ngramFreq(spark, sf))
    // zip_with stays in the project/generate stage; the only Window is
    // the final tiny per-language top-k
    assert(p.contains("Generate"), p.take(3000))
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"expected at most the top-k window, got $windows")
  }

  test("q_join_skew spreads the probe side across salt replicas") {
    val p = plan(PipelineQueries.joinSkew(spark, sf))
    assert(p.contains("Generate") || p.contains("explode"), p.take(3000))
    assert(p.contains("xxhash64"), p.take(3000))
  }

  test("q_time_bucket aggregates in two phases (map-side combine)") {
    val p = plan(WideSurfaceQueries.timeBucket(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(3000))
  }

  test("q_join_anti_nullin plans a broadcast null-aware anti join (no shuffle)") {
    val p = plan(MixSampleQueries.joinAntiNullin(spark, sf))
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as a
    // bare trailing "true" after the build side
    assert(p.contains("LeftAnti, BuildRight, true"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_sample_weighted plans TakeOrderedAndProject (no global sort of the corpus)") {
    val p = plan(MixSampleQueries.sampleWeighted(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_tpch_q3/q10: top-k bounded, no cartesian products") {
    for (q <- Seq(TpchQueries.tpchQ3(spark, sf), TpchQueries.tpchQ10(spark, sf))) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), p.take(3000))
      assert(!p.contains("CartesianProduct"), p.take(3000))
    }
  }

  test("q_tpch_q5: dimension chain broadcasts, filters pushed to scans") {
    val p = plan(TpchQueries.tpchQ5(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(4000))
  }

  /** Spark `Sum`s of an Aggregate, wider than 18 digits, whose input is
    * a double→decimal cast of scale ≤ 15 (Spark's, or the fast
    * kernel's), followed through the aliases anywhere in `plans` — the
    * sums the FastRound rule must have made exact. (Sums in window
    * frames and wider scales are not its.) */
  private def wideDoubleCastSums(
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      : Seq[org.apache.spark.sql.catalyst.expressions.aggregate.Sum] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val defs = plans.flatMap(_.flatMap(_.expressions.flatMap(_.collect {
      case a: Alias => a.exprId -> a.child }))).toMap
    def fromDoubleCast(e: Expression, depth: Int): Boolean = e match {
      case c: Cast => c.child.dataType == DoubleType && (c.dataType match {
        case d: DecimalType => d.scale <= graft.functions.FastRound.MaxScale
        case _ => false
      })
      case _: graft.functions.expressions.FastDecimalCast => true
      case a: Attribute if depth < 16 =>
        defs.get(a.exprId).exists(fromDoubleCast(_, depth + 1))
      case _ => false
    }
    plans.flatMap(_.collect { case a: Aggregate => a }.flatMap(_.aggregateExpressions
        .flatMap(_.collect {
      case s: Sum if (s.dataType match {
            case d: DecimalType => d.precision > 18
            case _ => false
          }) && fromDoubleCast(s.child, 0) => s
    })))
  }

  private def exactSumCount(
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Int =
    plans.map(_.collect { case n => n.expressions.map(_.collect {
      case e: graft.functions.expressions.ExactDecimalSum => e }.size).sum }.sum).sum

  test("q_quantile_reg, q_feature_corr: wide double→decimal sums run exact") {
    for ((name, sums) <- Seq("q_quantile_reg" -> 1, "q_feature_corr" -> 14)) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.executedPlan // registers the checkpointed interiors
      val plans = graft.plans.CheckpointRegistry.expand(df.queryExecution.optimizedPlan)
      assert(exactSumCount(plans) == sums,
        s"$name: expected $sums exact_decimal_sum\n${plans.mkString("\n")}")
      val slow = wideDoubleCastSums(plans)
      assert(slow.isEmpty, s"$name still sums through Spark's Sum: ${slow.mkString(", ")}")
    }
  }

  test("no graded query leaves a wide double→decimal sum to Spark's Sum") {
    val offenders = GradedPlans.logicalExpanded.flatMap { case (name, plans) =>
      wideDoubleCastSums(plans).map(s => s"$name: $s")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
