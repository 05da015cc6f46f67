package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #65: responsible-ML dataset diagnostics — the
  * group-fairness scorecard (demographic parity, disparate impact,
  * equalized-odds gap) for the established "value > 60 predicts
  * purchase" rule, and t-closeness (the k-anonymity-family privacy
  * measure q_k_anonymity / q_l_diversity stop short of): per
  * quasi-identifier group, the normalized 1-D earth-mover distance
  * between the group's sensitive-value distribution and the global
  * one over a bounded bin grid.
  *
  * Scale notes (100 TB): fairness is one keyed contraction to
  * |groups| confusion cells + two broadcast 1-row aggregates; the
  * protected attribute is the deterministic synthetic cohort
  * user_id % 4 (the data ships no demographic column). t-closeness
  * bins acctbal into 20 equal-width bins via a broadcast (min, max)
  * — the bounded-grid contraction — then runs group-partitioned
  * ≤20-row cumulative windows; no partition-less window, no per-value
  * domain growth with SF.
  *
  * Determinism: counts exact; shares round 8dp before |cum diffs|
  * accumulate in decimal sums; final report 6dp; bin indexing uses
  * floor on identical IEEE operands with the top edge clamped.
  */
object FairnessQueries extends QueryFamily {

  /** q_fairness — per synthetic cohort (user_id % 4): selection rate
    * of the established purchase rule, demographic-parity difference
    * vs the pooled rate, disparate-impact ratio vs the most-selected
    * cohort, TPR, and equalized-odds gap |TPR_g − TPR_pooled|. */
  def fairness(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      (col("user_id") % 4).as("grp"),
      (col("event_type") === "purchase").as("actual"),
      (col("value") > 60.0).as("pred"))
    val g = e.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      count(when(col("pred"), lit(1))).as("sel"),
      count(when(col("actual") && col("pred"), lit(1))).as("tp"),
      count(when(col("actual") && !col("pred"), lit(1))).as("fn"))
    val rate = round(col("sel").cast("double") / col("n").cast("double"), 8)
    val tpr = round(col("tp").cast("double")
      / (col("tp") + col("fn")).cast("double"), 8)
    val withRates = g.select(col("grp"), col("n"), col("sel"),
      rate.as("sel_rate"), tpr.as("tpr"))
    val pooled = e.agg(
      round(count(when(col("pred"), lit(1))).cast("double")
        / count(lit(1)).cast("double"), 8).as("pool_rate"),
      round(count(when(col("actual") && col("pred"), lit(1))).cast("double")
        / count(when(col("actual"), lit(1))).cast("double"), 8)
        .as("pool_tpr"))
    val mx = withRates.agg(max(col("sel_rate")).as("max_rate"))
    withRates.crossJoin(broadcast(pooled)).crossJoin(broadcast(mx))
      .select(col("grp"), col("n"), col("sel_rate"), col("tpr"),
        round(col("sel_rate") - col("pool_rate"), 6).as("dem_parity_diff"),
        round(col("sel_rate") / col("max_rate"), 6).as("disparate_impact"),
        round(abs(col("tpr") - col("pool_tpr")), 6).as("eq_odds_gap"))
      .orderBy(col("grp"))
  }

  val fairnessOracle: String =
    """WITH e AS (SELECT user_id % 4 AS grp,
      |    event_type = 'purchase' AS actual, value > 60.0 AS pred
      |  FROM events),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN pred THEN 1 END) AS BIGINT) AS sel,
      |    CAST(count(CASE WHEN actual AND pred THEN 1 END) AS BIGINT) AS tp,
      |    CAST(count(CASE WHEN actual AND NOT pred THEN 1 END) AS BIGINT)
      |      AS fn
      |  FROM e GROUP BY 1),
      |rates AS (SELECT grp, n, sel,
      |    round(CAST(sel AS DOUBLE)/CAST(n AS DOUBLE), 8) AS sel_rate,
      |    round(CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE), 8) AS tpr
      |  FROM g),
      |pooled AS (SELECT
      |    round(CAST(count(CASE WHEN pred THEN 1 END) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS pool_rate,
      |    round(CAST(count(CASE WHEN actual AND pred THEN 1 END) AS DOUBLE)
      |      /CAST(count(CASE WHEN actual THEN 1 END) AS DOUBLE), 8)
      |      AS pool_tpr
      |  FROM e),
      |mx AS (SELECT max(sel_rate) AS max_rate FROM rates)
      |SELECT grp, n, sel_rate, tpr,
      |  round(sel_rate - pool_rate, 6) AS dem_parity_diff,
      |  round(sel_rate/max_rate, 6) AS disparate_impact,
      |  round(abs(tpr - pool_tpr), 6) AS eq_odds_gap
      |FROM rates, pooled, mx
      |ORDER BY grp""".stripMargin

  /** q_t_closeness — per (mktsegment, nation-region) quasi-identifier
    * group: the normalized ordered earth-mover distance between the
    * group's acctbal distribution and the global one over a 20-bin
    * equal-width grid (Σ|cumP−cumQ|/(m−1)), with the table-level t
    * (the max over groups) replicated for the report. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d)
      .join(broadcast(nation(s, d).select(col("n_nationkey"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .select(concat(col("c_mktsegment"), lit("|"),
          col("n_regionkey").cast("string")).as("qid"),
        col("c_acctbal"))
    val bounds = base.agg(min(col("c_acctbal")).as("lo"),
      max(col("c_acctbal")).as("hi"))
    val binned = base.crossJoin(broadcast(bounds))
      .select(col("qid"), least(
        floor((col("c_acctbal") - col("lo")) * lit(20.0)
          / (col("hi") - col("lo"))).cast("int"), lit(19)).as("bin"))
    // ONE pass over the fact rows: the (qid, bin) count grid is the
    // only fact-scale aggregation; group totals / global bin counts /
    // grand total are exact integer folds OF THE GRID (identical
    // values — sums of disjoint counts), not separate passes. The
    // grid is ≤ |qid|·20 rows — materialized once (round-8 scan
    // gate: the four independent passes re-embedded the customer
    // scan 16× in this plan).
    import graft.operators.CacheOps.CheckpointSyntax
    val gCnt = binned.groupBy(col("qid"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val gN = gCnt.groupBy(col("qid")).agg(sum(col("c")).as("gn"))
    val glob = gCnt.groupBy(col("bin")).agg(sum(col("c")).as("gc"))
    val tot = gCnt.agg(sum(col("c")).as("tn"))
    // dense (qid × 20-bin) grid so absent bins carry share 0
    val grid = gN.crossJoin(broadcast(glob.crossJoin(broadcast(tot))))
      .join(gCnt, Seq("qid", "bin"), "left")
      .select(col("qid"), col("bin"),
        round(coalesce(col("c"), lit(0L)).cast("double")
          / col("gn").cast("double"), 8).as("p"),
        round(col("gc").cast("double") / col("tn").cast("double"), 8)
          .as("q"))
    val w = Window.partitionBy(col("qid")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cq", sum(col("q")).over(w))
    val emd = cum.groupBy(col("qid")).agg(
      round(sum(round(abs(col("cp") - col("cq")), 8)
        .cast("decimal(27,8)")).cast("double") / lit(19.0), 6).as("emd"))
    val t = emd.agg(max(col("emd")).as("t_closeness"))
    emd.crossJoin(broadcast(t))
      .select(col("qid"), col("emd"), col("t_closeness"))
      .orderBy(col("qid"))
  }

  val tClosenessOracle: String =
    """WITH base AS (SELECT c_mktsegment || '|'
      |      || CAST(n_regionkey AS VARCHAR) AS qid, c_acctbal
      |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
      |bounds AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi
      |  FROM base),
      |binned AS (SELECT qid,
      |    least(CAST(floor((c_acctbal - lo)*20.0/(hi - lo)) AS INT), 19)
      |      AS bin
      |  FROM base, bounds),
      |gcnt AS (SELECT qid, bin, CAST(count(*) AS BIGINT) AS c
      |  FROM binned GROUP BY 1, 2),
      |gn AS (SELECT qid, CAST(count(*) AS BIGINT) AS gn
      |  FROM binned GROUP BY 1),
      |gdist AS (SELECT bin, CAST(count(*) AS BIGINT) AS gc
      |  FROM binned GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM binned),
      |grid AS (SELECT gn.qid, gdist.bin,
      |    round(CAST(COALESCE(c, 0) AS DOUBLE)/CAST(gn AS DOUBLE), 8)
      |      AS p,
      |    round(CAST(gc AS DOUBLE)/CAST(tn AS DOUBLE), 8) AS q
      |  FROM gn CROSS JOIN gdist CROSS JOIN tot
      |  LEFT JOIN gcnt ON gcnt.qid = gn.qid AND gcnt.bin = gdist.bin),
      |cum AS (SELECT qid,
      |    sum(p) OVER (PARTITION BY qid ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
      |    sum(q) OVER (PARTITION BY qid ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
      |  FROM grid),
      |emd AS (SELECT qid,
      |    round(CAST(sum(CAST(round(abs(cp - cq), 8) AS DECIMAL(27,8)))
      |      AS DOUBLE)/19.0, 6) AS emd
      |  FROM cum GROUP BY 1),
      |t AS (SELECT max(emd) AS t_closeness FROM emd)
      |SELECT qid, emd, t_closeness
      |FROM emd, t
      |ORDER BY qid""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fairness" -> (fairness _),
    "q_t_closeness" -> (tCloseness _))

  val oracle: Map[String, String] = Map(
    "q_fairness" -> fairnessOracle,
    "q_t_closeness" -> tClosenessOracle)
}
