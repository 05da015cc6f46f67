package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening: experimental design and matched
  * observational inference — the two causal-toolkit entries the shelf
  * lacked around q_ab_test/q_did/q_cuped (which analyze experiments)
  * : planning one (power analysis) and building a counterfactual
  * control group when you cannot randomize (propensity matching). */
object CausalDesignQueries extends QueryFamily {

  /** q_power_size — per-segment two-proportion power analysis: the
    * per-arm sample size needed to detect a 20% relative lift over
    * the segment's observed base rate (acctbal > 5000) at α = 0.05
    * (two-sided) and power 0.80:
    * n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁ + p₂q₂))² / (p₂ − p₁)².
    * z literals shared verbatim with the oracle (the q_bh_dunn
    * critical-z convention — no cross-engine quantile functions).
    * ONE bounded groupBy over the segment domain. */
  def powerSize(s: SparkSession, d: String): DataFrame = {
    val za = 1.959964
    val zb = 0.841621
    val base = customer(s, d).groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(when(col("c_acctbal") > 5000.0, 1L).otherwise(0L)).as("n_conv"))
      .select(col("c_mktsegment"), col("n_cust"),
        round(col("n_conv").cast("double") / col("n_cust"), 8).as("p1"))
    val p2 = least(lit(0.999), round(col("p1") * 1.2, 8))
    val pbar = (col("p1") + col("p2")) / 2.0
    val term = lit(za) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(zb) * sqrt(col("p1") * (lit(1.0) - col("p1")) +
        col("p2") * (lit(1.0) - col("p2")))
    base.withColumn("p2", p2)
      .select(col("c_mktsegment"), col("n_cust"), col("p1"), col("p2"),
        // degenerate segments (p1 = 0, or p2 clamped onto p1) would
        // make the ratio 0/0 = NaN, which the two engines coerce
        // differently — emit NULL identically instead
        when(col("p2") > col("p1"),
          ceil(round(term * term / ((col("p2") - col("p1"))
            * (col("p2") - col("p1"))), 6))).as("n_per_arm"))
      .orderBy(col("c_mktsegment"))
  }

  val powerSizeOracle: String =
    """WITH base AS (SELECT c_mktsegment, count(*) AS n_cust,
      |    round(CAST(sum(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
      |      AS DOUBLE)/count(*), 8) AS p1
      |  FROM customer GROUP BY 1),
      |b2 AS (SELECT c_mktsegment, n_cust, p1,
      |    least(0.999, round(p1*1.2, 8)) AS p2
      |  FROM base)
      |SELECT c_mktsegment, n_cust, p1, p2,
      |  CASE WHEN p2 > p1 THEN
      |  CAST(ceil(round((1.959964*sqrt(2.0*((p1 + p2)/2.0)*(1.0 - (p1 + p2)/2.0))
      |      + 0.841621*sqrt(p1*(1.0 - p1) + p2*(1.0 - p2)))
      |    *(1.959964*sqrt(2.0*((p1 + p2)/2.0)*(1.0 - (p1 + p2)/2.0))
      |      + 0.841621*sqrt(p1*(1.0 - p1) + p2*(1.0 - p2)))
      |    /((p2 - p1)*(p2 - p1)), 6)) AS BIGINT) END AS n_per_arm
      |FROM b2 ORDER BY c_mktsegment""".stripMargin

  /** Per-customer lifetime spend as an exact 2dp decimal — the ONE
    * definition of the outcome aggregation every estimator in this
    * file builds on (its SQL twin is [[spendCte]]). */
  private def spendPerCust(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice"), 2).cast("decimal(18,2)"))
        .as("spend_d"))

  /** Oracle CTE body for [[spendPerCust]], shared verbatim by every
    * estimator oracle in this file. */
  private val spendCte: String =
    """spend AS (SELECT o_custkey,
      |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS spend_d
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Shared unit table for the matching/weighting estimators:
    * customer units with treatment flag (BUILDING segment), a fixed
    * logistic propensity of account balance, and lifetime order
    * spend as the outcome. Materialized ONCE per query (each
    * estimator's branches otherwise re-scan the customer/orders
    * facts past the GlobalScanSpec ceiling). */
  private def scoredUnits(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    def ps(bal: Column): Column =
      round(lit(1.0) / (lit(1.0) +
        exp(-(round(bal / 10000.0, 8) - 0.5))), 8)
    customer(s, d)
      .join(spendPerCust(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_mktsegment") === "BUILDING").as("treated"),
        ps(col("c_acctbal")).as("ps"),
        coalesce(col("spend_d").cast("double"), lit(0.0)).as("y"))
      .truncatedCheckpoint()
  }

  /** Oracle CTE text for [[scoredUnits]] — shared verbatim by the
    * three estimator oracles so the unit table is character-identical
    * across engines. */
  private val scoredUnitsSql: String =
    s"""$spendCte,
      |cust AS (SELECT c_custkey, c_nationkey,
      |    c_mktsegment = 'BUILDING' AS treated,
      |    round(1.0/(1.0 + exp(-(round(c_acctbal/10000.0, 8) - 0.5))), 8)
      |      AS ps,
      |    coalesce(CAST(spend_d AS DOUBLE), 0.0) AS y
      |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey)""".stripMargin

  /** q_psm_att — average treatment effect on the treated by
    * 1-nearest-neighbor propensity-score matching WITH replacement,
    * blocked exactly on nation: treated = BUILDING-segment customers,
    * propensity = a fixed logistic of account balance, outcome =
    * lifetime order spend. The matching is TWO backward as-of joins
    * on the custom merge operator (graft.plans.AsOfJoinPlan — the
    * §2-B #15 exec): nearest control below on the score, nearest
    * control above via the negated score, then the closer of the two
    * (ties → below). O(n+m) per nation block, ZERO candidate-pair
    * materialization — the matching shape that survives 100 TB,
    * where a pairwise |ps_t − ps_c| argmin join would be quadratic
    * in the block. Tie determinism: equal scores break by the
    * operator's last-in-sort-order rule = greatest control custkey
    * (mirrored verbatim in the oracle's window ORDER BY). */
  def psmAtt(s: SparkSession, d: String): DataFrame = {
    val cust = scoredUnits(s, d)
    val t = cust.filter(col("treated"))
      .select(col("c_custkey").as("t_key"), col("c_nationkey").as("t_nat"),
        col("ps").as("t_ps"), col("y").as("t_y"))
    val c = cust.filter(!col("treated"))
      .select(col("c_custkey").as("c_key"), col("c_nationkey").as("c_nat"),
        col("ps").as("c_ps"), col("y").as("c_y"))
    // nearest control at or below the treated score (greatest c_ps
    // <= t_ps; equal c_ps -> greatest c_key: the exec keeps the LAST
    // in-window row of its (key, time, tie) ascending sort)
    val below = graft.plans.AsOfJoinPlan.asof(t, c,
        leftKeys = Seq(col("t_nat")), rightKeys = Seq(col("c_nat")),
        leftTime = col("t_ps"), rightTime = col("c_ps"),
        rightTie = Seq(col("c_key")))
      .select(col("t_key"), col("t_ps"), col("t_y"),
        col("c_ps").as("lo_ps"), col("c_y").as("lo_y"))
    // nearest control at or above, by negating the score axis
    val tNeg = t.withColumn("t_neg", -col("t_ps"))
    val cNeg = c.withColumn("c_neg", -col("c_ps"))
    val above = graft.plans.AsOfJoinPlan.asof(tNeg, cNeg,
        leftKeys = Seq(col("t_nat")), rightKeys = Seq(col("c_nat")),
        leftTime = col("t_neg"), rightTime = col("c_neg"),
        rightTie = Seq(col("c_key")))
      .select(col("t_key").as("a_key"),
        col("c_ps").as("hi_ps"), col("c_y").as("hi_y"))
    val pickLo = col("lo_ps").isNotNull && (col("hi_ps").isNull ||
      (col("t_ps") - col("lo_ps")) <= (col("hi_ps") - col("t_ps")))
    val matched = below.join(above, col("t_key") === col("a_key"))
      .select(col("t_key"), col("t_ps"), col("t_y"),
        when(pickLo, col("lo_y"))
          .otherwise(col("hi_y")).as("m_y"),
        when(pickLo, col("lo_ps"))
          .otherwise(col("hi_ps")).as("m_ps"))
    matched.agg(
      count(lit(1)).as("n_treated"),
      count(col("m_y")).as("n_matched"),
      round(sum(round(col("t_y") - col("m_y"), 2).cast("decimal(18,2)"))
        .cast("double") / count(col("m_y")), 4).as("att"),
      round(sum(round(abs(col("t_ps") - col("m_ps")), 8)
        .cast("decimal(18,8)")).cast("double") / count(col("m_ps")), 6)
        .as("avg_ps_gap"))
  }

  val psmAttOracle: String =
    s"""WITH $scoredUnitsSql,
      |t AS (SELECT c_custkey AS t_key, c_nationkey AS t_nat,
      |    ps AS t_ps, y AS t_y FROM cust WHERE treated),
      |c AS (SELECT c_custkey AS c_key, c_nationkey AS c_nat,
      |    ps AS c_ps, y AS c_y FROM cust WHERE NOT treated),
      |lo AS (SELECT * FROM (SELECT t.t_key, c.c_ps AS lo_ps,
      |      c.c_y AS lo_y,
      |      row_number() OVER (PARTITION BY t.t_key
      |        ORDER BY c.c_ps DESC, c.c_key DESC) AS rn
      |    FROM t JOIN c ON c.c_nat = t.t_nat AND c.c_ps <= t.t_ps)
      |  WHERE rn = 1),
      |hi AS (SELECT * FROM (SELECT t.t_key, c.c_ps AS hi_ps,
      |      c.c_y AS hi_y,
      |      row_number() OVER (PARTITION BY t.t_key
      |        ORDER BY c.c_ps ASC, c.c_key DESC) AS rn
      |    FROM t JOIN c ON c.c_nat = t.t_nat AND c.c_ps >= t.t_ps)
      |  WHERE rn = 1),
      |m AS (SELECT t.t_key, t.t_ps, t.t_y,
      |    CASE WHEN lo.lo_ps IS NOT NULL AND (hi.hi_ps IS NULL
      |        OR (t.t_ps - lo.lo_ps) <= (hi.hi_ps - t.t_ps))
      |      THEN lo.lo_y ELSE hi.hi_y END AS m_y,
      |    CASE WHEN lo.lo_ps IS NOT NULL AND (hi.hi_ps IS NULL
      |        OR (t.t_ps - lo.lo_ps) <= (hi.hi_ps - t.t_ps))
      |      THEN lo.lo_ps ELSE hi.hi_ps END AS m_ps
      |  FROM t LEFT JOIN lo ON lo.t_key = t.t_key
      |  LEFT JOIN hi ON hi.t_key = t.t_key)
      |SELECT count(*) AS n_treated, count(m_y) AS n_matched,
      |  round(CAST(sum(CAST(round(t_y - m_y, 2) AS DECIMAL(18,2)))
      |    AS DOUBLE)/count(m_y), 4) AS att,
      |  round(CAST(sum(CAST(round(abs(t_ps - m_ps), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE)/count(m_ps), 6) AS avg_ps_gap
      |FROM m""".stripMargin

  /** q_ipw_ate — inverse-propensity-weighted average treatment
    * effect over the same scored units, with the practical guards:
    * propensity TRIMMED to [0.05, 0.95] (the overlap fix every
    * production IPW applies) and BOTH the Horvitz–Thompson and the
    * Hájek (self-normalized) estimators reported. ONE fold over the
    * unit table — per-row weighted terms rounded into exact decimal
    * sums; no joins at all beyond the shared unit build. */
  def ipwAte(s: SparkSession, d: String): DataFrame = {
    val u = scoredUnits(s, d)
      .withColumn("psc", least(lit(0.95), greatest(lit(0.05), col("ps"))))
      .withColumn("t", col("treated").cast("double"))
    def dsum(c: Column) = sum(round(c, 6).cast("decimal(24,6)"))
    u.agg(
        count(lit(1)).as("n"),
        sum(col("treated").cast("long")).as("n_treated"),
        dsum(col("t") * col("y") / col("psc")).as("s_ty"),
        dsum(col("t") / col("psc")).as("s_tw"),
        dsum((lit(1.0) - col("t")) * col("y") / (lit(1.0) - col("psc")))
          .as("s_cy"),
        dsum((lit(1.0) - col("t")) / (lit(1.0) - col("psc"))).as("s_cw"))
      .select(col("n"), col("n_treated"),
        round((col("s_ty").cast("double") - col("s_cy").cast("double"))
          / col("n"), 4).as("ate_ht"),
        round(col("s_ty").cast("double") / col("s_tw").cast("double")
          - col("s_cy").cast("double") / col("s_cw").cast("double"), 4)
          .as("ate_hajek"))
  }

  val ipwAteOracle: String =
    s"""WITH $scoredUnitsSql,
      |u AS (SELECT *,
      |    least(0.95, greatest(0.05, ps)) AS psc,
      |    CASE WHEN treated THEN 1.0 ELSE 0.0 END AS t
      |  FROM cust),
      |m AS (SELECT count(*) AS n,
      |    sum(CASE WHEN treated THEN 1 ELSE 0 END) AS n_treated,
      |    sum(CAST(round(t*y/psc, 6) AS DECIMAL(24,6))) AS s_ty,
      |    sum(CAST(round(t/psc, 6) AS DECIMAL(24,6))) AS s_tw,
      |    sum(CAST(round((1.0 - t)*y/(1.0 - psc), 6) AS DECIMAL(24,6)))
      |      AS s_cy,
      |    sum(CAST(round((1.0 - t)/(1.0 - psc), 6) AS DECIMAL(24,6)))
      |      AS s_cw
      |  FROM u)
      |SELECT n, CAST(n_treated AS BIGINT) AS n_treated,
      |  round((CAST(s_ty AS DOUBLE) - CAST(s_cy AS DOUBLE))/n, 4)
      |    AS ate_ht,
      |  round(CAST(s_ty AS DOUBLE)/CAST(s_tw AS DOUBLE)
      |    - CAST(s_cy AS DOUBLE)/CAST(s_cw AS DOUBLE), 4) AS ate_hajek
      |FROM m""".stripMargin

  /** q_aipw_dr — doubly-robust (augmented IPW) ATE: the outcome
    * model is the per-nation arm mean (falling back to the global
    * arm mean where a nation lacks an arm), the weighting model the
    * trimmed propensity; the AIPW score φ = μ₁ − μ₀ +
    * t(y − μ₁)/p − (1 − t)(y − μ₀)/(1 − p) is one fold. Consistent
    * if EITHER model is right — the estimator a pipeline actually
    * ships next to raw IPW. Nation means are a 25-row broadcast. */
  def aipwDr(s: SparkSession, d: String): DataFrame = {
    val u = scoredUnits(s, d)
      .withColumn("psc", least(lit(0.95), greatest(lit(0.05), col("ps"))))
      .withColumn("t", col("treated").cast("double"))
    val natMeans = u.groupBy(col("c_nationkey").as("m_nat"))
      .agg(
        round(sum(when(col("treated"), round(col("y"), 2))
            .cast("decimal(18,2)")).cast("double")
          / sum(when(col("treated"), 1L)), 6).as("mu1_nat"),
        round(sum(when(!col("treated"), round(col("y"), 2))
            .cast("decimal(18,2)")).cast("double")
          / sum(when(!col("treated"), 1L)), 6).as("mu0_nat"))
    val globMeans = u.agg(
        round(sum(when(col("treated"), round(col("y"), 2))
            .cast("decimal(18,2)")).cast("double")
          / sum(when(col("treated"), 1L)), 6).as("mu1_glob"),
        round(sum(when(!col("treated"), round(col("y"), 2))
            .cast("decimal(18,2)")).cast("double")
          / sum(when(!col("treated"), 1L)), 6).as("mu0_glob"))
    val withMu = u
      .join(broadcast(natMeans), col("c_nationkey") === col("m_nat"), "left")
      .crossJoin(broadcast(globMeans))
      .withColumn("mu1", coalesce(col("mu1_nat"), col("mu1_glob")))
      .withColumn("mu0", coalesce(col("mu0_nat"), col("mu0_glob")))
    val phi = col("mu1") - col("mu0") +
      col("t") * (col("y") - col("mu1")) / col("psc") -
      (lit(1.0) - col("t")) * (col("y") - col("mu0")) / (lit(1.0) - col("psc"))
    withMu.agg(
        count(lit(1)).as("n"),
        sum(round(phi, 6).cast("decimal(24,6)")).as("s_phi"),
        first(col("mu1_glob")).as("mu1_glob"),
        first(col("mu0_glob")).as("mu0_glob"))
      .select(col("n"),
        round(col("s_phi").cast("double") / col("n"), 4).as("ate_dr"),
        col("mu1_glob"), col("mu0_glob"))
  }

  val aipwDrOracle: String =
    s"""WITH $scoredUnitsSql,
      |u AS (SELECT *,
      |    least(0.95, greatest(0.05, ps)) AS psc,
      |    CASE WHEN treated THEN 1.0 ELSE 0.0 END AS t
      |  FROM cust),
      |nat AS (SELECT c_nationkey AS m_nat,
      |    round(CAST(sum(CASE WHEN treated
      |        THEN CAST(round(y, 2) AS DECIMAL(18,2)) END) AS DOUBLE)
      |      /sum(CASE WHEN treated THEN 1 END), 6) AS mu1_nat,
      |    round(CAST(sum(CASE WHEN NOT treated
      |        THEN CAST(round(y, 2) AS DECIMAL(18,2)) END) AS DOUBLE)
      |      /sum(CASE WHEN NOT treated THEN 1 END), 6) AS mu0_nat
      |  FROM u GROUP BY 1),
      |gmeans AS (SELECT
      |    round(CAST(sum(CASE WHEN treated
      |        THEN CAST(round(y, 2) AS DECIMAL(18,2)) END) AS DOUBLE)
      |      /sum(CASE WHEN treated THEN 1 END), 6) AS mu1_glob,
      |    round(CAST(sum(CASE WHEN NOT treated
      |        THEN CAST(round(y, 2) AS DECIMAL(18,2)) END) AS DOUBLE)
      |      /sum(CASE WHEN NOT treated THEN 1 END), 6) AS mu0_glob
      |  FROM u),
      |wm AS (SELECT u.*, gmeans.mu1_glob, gmeans.mu0_glob,
      |    coalesce(nat.mu1_nat, gmeans.mu1_glob) AS mu1,
      |    coalesce(nat.mu0_nat, gmeans.mu0_glob) AS mu0
      |  FROM u LEFT JOIN nat ON nat.m_nat = u.c_nationkey
      |  CROSS JOIN gmeans)
      |SELECT count(*) AS n,
      |  round(CAST(sum(CAST(round(mu1 - mu0 + t*(y - mu1)/psc
      |    - (1.0 - t)*(y - mu0)/(1.0 - psc), 6) AS DECIMAL(24,6)))
      |    AS DOUBLE)/count(*), 4) AS ate_dr,
      |  any_value(mu1_glob) AS mu1_glob, any_value(mu0_glob) AS mu0_glob
      |FROM wm""".stripMargin

  /** q_rdd_effect — sharp regression discontinuity at the
    * acctbal = 5000 threshold: local LINEAR fits on each side within
    * a literal bandwidth h = 2500, effect = the jump between the two
    * intercepts AT the cutoff. Each side is ONE closed-form OLS
    * moment fold over x = (bal − 5000)/1000 (the q_linreg2 algebra),
    * outcome = lifetime spend in 100k units; side selection is a
    * partial filter pushed to the scan. Completes the identification
    * toolkit next to q_did/q_cuped (designs) and the PSM/IPW/AIPW
    * trio (selection-on-observables). */
  def rddEffect(s: SparkSession, d: String): DataFrame = {
    val u = customer(s, d)
      .filter(col("c_acctbal") >= 2500.0 && col("c_acctbal") <= 7500.0)
      .join(spendPerCust(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(
        round((col("c_acctbal") - 5000.0) / 1000.0, 8).as("x"),
        (col("c_acctbal") >= 5000.0).as("hi"),
        round(coalesce(col("spend_d").cast("double"), lit(0.0))
          / 100000.0, 8).as("y"))
    // BOTH sides in ONE conditional fold (no boolean-keyed groupBy +
    // self-join — a single global aggregate row carries the ten
    // moments, the same shape as q_linreg2's scalar join)
    def f(c: String) = col(c).cast("double")
    def sideSums(p: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(p, col("x")).otherwise(lit(0.0)).cast("decimal(18,8)"))
        .as(s"sx_$tag"),
      sum(round(when(p, col("x") * col("x")).otherwise(lit(0.0)), 10)
        .cast("decimal(27,10)")).as(s"sxx_$tag"),
      sum(when(p, col("y")).otherwise(lit(0.0)).cast("decimal(18,8)"))
        .as(s"sy_$tag"),
      sum(round(when(p, col("x") * col("y")).otherwise(lit(0.0)), 10)
        .cast("decimal(27,10)")).as(s"sxy_$tag"))
    val sums = sideSums(col("hi"), "hi") ++ sideSums(!col("hi"), "lo")
    val m = u.agg(sums.head, sums.tail: _*)
    def aOf(t: String) = round((f(s"sxx_$t") * f(s"sy_$t")
        - f(s"sx_$t") * f(s"sxy_$t"))
      / (f(s"n_$t") * f(s"sxx_$t") - f(s"sx_$t") * f(s"sx_$t")), 8)
    def bOf(t: String) = round((f(s"n_$t") * f(s"sxy_$t")
        - f(s"sx_$t") * f(s"sy_$t"))
      / (f(s"n_$t") * f(s"sxx_$t") - f(s"sx_$t") * f(s"sx_$t")), 8)
    m.select(col("n_lo"), col("n_hi"),
        aOf("lo").as("alpha_lo"), aOf("hi").as("alpha_hi"),
        bOf("lo").as("slope_lo"), bOf("hi").as("slope_hi"),
        round(aOf("hi") - aOf("lo"), 6).as("effect"))
  }

  val rddEffectOracle: String =
    s"""WITH $spendCte,
      |u AS (SELECT round((c_acctbal - 5000.0)/1000.0, 8) AS x,
      |    c_acctbal >= 5000.0 AS hi,
      |    round(coalesce(CAST(spend_d AS DOUBLE), 0.0)/100000.0, 8) AS y
      |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey
      |  WHERE c_acctbal >= 2500.0 AND c_acctbal <= 7500.0),
      |m AS (SELECT
      |    sum(CASE WHEN hi THEN 1 ELSE 0 END) AS n_hi,
      |    CAST(sum(CAST(CASE WHEN hi THEN x ELSE 0.0 END
      |      AS DECIMAL(18,8))) AS DOUBLE) AS sx_hi,
      |    CAST(sum(CAST(round(CASE WHEN hi THEN x*x ELSE 0.0 END, 10)
      |      AS DECIMAL(27,10))) AS DOUBLE) AS sxx_hi,
      |    CAST(sum(CAST(CASE WHEN hi THEN y ELSE 0.0 END
      |      AS DECIMAL(18,8))) AS DOUBLE) AS sy_hi,
      |    CAST(sum(CAST(round(CASE WHEN hi THEN x*y ELSE 0.0 END, 10)
      |      AS DECIMAL(27,10))) AS DOUBLE) AS sxy_hi,
      |    sum(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS n_lo,
      |    CAST(sum(CAST(CASE WHEN NOT hi THEN x ELSE 0.0 END
      |      AS DECIMAL(18,8))) AS DOUBLE) AS sx_lo,
      |    CAST(sum(CAST(round(CASE WHEN NOT hi THEN x*x ELSE 0.0 END,
      |      10) AS DECIMAL(27,10))) AS DOUBLE) AS sxx_lo,
      |    CAST(sum(CAST(CASE WHEN NOT hi THEN y ELSE 0.0 END
      |      AS DECIMAL(18,8))) AS DOUBLE) AS sy_lo,
      |    CAST(sum(CAST(round(CASE WHEN NOT hi THEN x*y ELSE 0.0 END,
      |      10) AS DECIMAL(27,10))) AS DOUBLE) AS sxy_lo
      |  FROM u)
      |SELECT CAST(n_lo AS BIGINT) AS n_lo, CAST(n_hi AS BIGINT) AS n_hi,
      |  round((sxx_lo*sy_lo - sx_lo*sxy_lo)
      |    /(n_lo*sxx_lo - sx_lo*sx_lo), 8) AS alpha_lo,
      |  round((sxx_hi*sy_hi - sx_hi*sxy_hi)
      |    /(n_hi*sxx_hi - sx_hi*sx_hi), 8) AS alpha_hi,
      |  round((n_lo*sxy_lo - sx_lo*sy_lo)
      |    /(n_lo*sxx_lo - sx_lo*sx_lo), 8) AS slope_lo,
      |  round((n_hi*sxy_hi - sx_hi*sy_hi)
      |    /(n_hi*sxx_hi - sx_hi*sx_hi), 8) AS slope_hi,
      |  round(round((sxx_hi*sy_hi - sx_hi*sxy_hi)
      |      /(n_hi*sxx_hi - sx_hi*sx_hi), 8)
      |    - round((sxx_lo*sy_lo - sx_lo*sxy_lo)
      |      /(n_lo*sxx_lo - sx_lo*sx_lo), 8), 6) AS effect
      |FROM m""".stripMargin

  /** q_iv_wald — instrumental-variable LATE by the Wald ratio under
    * a synthetic encouragement design: instrument z = even custkey
    * (as-good-as-random), take-up t follows the encouragement with a
    * balance-dependent compliance rule (documented synthetic: evens
    * take up above 3000, odds only above 7000), outcome = lifetime
    * spend in 100k units. ITT, first stage, and LATE = ITT/first-
    * stage from ONE conditional fold — the two-fold z-split never
    * materializes. */
  def ivWald(s: SparkSession, d: String): DataFrame = {
    val u = customer(s, d)
      .join(spendPerCust(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(
        (col("c_custkey") % 2 === 0).as("z"),
        when(col("c_custkey") % 2 === 0, col("c_acctbal") > 3000.0)
          .otherwise(col("c_acctbal") > 7000.0).cast("double").as("t"),
        round(coalesce(col("spend_d").cast("double"), lit(0.0))
          / 100000.0, 8).as("y"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 8).cast("decimal(20,8)")).cast("double")
    val m = u.agg(
      count(lit(1)).as("n"),
      sum(when(col("z"), 1L).otherwise(0L)).as("n1"),
      dsum(when(col("z"), col("y")).otherwise(lit(0.0))).as("sy1"),
      dsum(when(!col("z"), col("y")).otherwise(lit(0.0))).as("sy0"),
      dsum(when(col("z"), col("t")).otherwise(lit(0.0))).as("st1"),
      dsum(when(!col("z"), col("t")).otherwise(lit(0.0))).as("st0"))
    def f(c: String) = col(c).cast("double")
    val n0 = f("n") - f("n1")
    val itt = round(col("sy1") / f("n1") - col("sy0") / n0, 8)
    val fs = round(col("st1") / f("n1") - col("st0") / n0, 8)
    // fs = 0 (no first stage) guards to NULL explicitly: Spark 0/0
    // yields NULL where DuckDB yields inf/nan, so the degenerate
    // no-compliance corpus must short-circuit identically
    m.select(col("n"), col("n1"),
        itt.as("itt"), fs.as("first_stage"),
        when(fs =!= 0.0, round(itt / fs, 6)).as("late_wald"))
  }

  val ivWaldOracle: String =
    s"""WITH $spendCte,
      |u AS (SELECT c_custkey % 2 = 0 AS z,
      |    CAST(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal > 3000.0
      |      ELSE c_acctbal > 7000.0 END AS DOUBLE) AS t,
      |    round(coalesce(CAST(spend_d AS DOUBLE), 0.0)/100000.0, 8) AS y
      |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey),
      |m AS (SELECT count(*) AS n,
      |    sum(CASE WHEN z THEN 1 ELSE 0 END) AS n1,
      |    CAST(sum(CAST(round(CASE WHEN z THEN y ELSE 0.0 END, 8)
      |      AS DECIMAL(20,8))) AS DOUBLE) AS sy1,
      |    CAST(sum(CAST(round(CASE WHEN NOT z THEN y ELSE 0.0 END, 8)
      |      AS DECIMAL(20,8))) AS DOUBLE) AS sy0,
      |    CAST(sum(CAST(round(CASE WHEN z THEN t ELSE 0.0 END, 8)
      |      AS DECIMAL(20,8))) AS DOUBLE) AS st1,
      |    CAST(sum(CAST(round(CASE WHEN NOT z THEN t ELSE 0.0 END, 8)
      |      AS DECIMAL(20,8))) AS DOUBLE) AS st0
      |  FROM u)
      |SELECT n, CAST(n1 AS BIGINT) AS n1,
      |  round(sy1/n1 - sy0/(n - n1), 8) AS itt,
      |  round(st1/n1 - st0/(n - n1), 8) AS first_stage,
      |  CASE WHEN round(st1/n1 - st0/(n - n1), 8) <> 0
      |    THEN round(round(sy1/n1 - sy0/(n - n1), 8)
      |      /round(st1/n1 - st0/(n - n1), 8), 6) END AS late_wald
      |FROM m""".stripMargin

  /** q_uplift_bins — uplift-model evaluation over FIXED literal
    * score bands (the shelf's bounded-grid stand-in for score
    * deciles, which would need a partition-less ntile): per band the
    * treated-vs-control outcome uplift, and per descending-score
    * cutoff the cumulative Qini value
    * Q(b) = Y_t(≥b) − Y_c(≥b)·N_t(≥b)/N_c(≥b),
    * assembled by a 5×5 band self-join — a bounded contraction at
    * every data scale. Scores reuse the fixed propensity (a model
    * score proxy); empty-arm cutoffs guard to NULL identically in
    * both engines. */
  def upliftBins(s: SparkSession, d: String): DataFrame = {
    val u = scoredUnits(s, d)
      .withColumn("band",
        least(lit(4), floor(col("ps") * 5.0)).cast("int"))
    import graft.operators.CacheOps.CheckpointSyntax
    // the 5-row band table feeds three consumers (cum's two sides and
    // the final join) — materialize it once, like scoredUnits itself
    val bands = u.groupBy(col("band")).agg(
      sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
      sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
      sum(when(col("treated"), round(col("y"), 2)).cast("decimal(18,2)"))
        .as("y_t"),
      sum(when(!col("treated"), round(col("y"), 2)).cast("decimal(18,2)"))
        .as("y_c"))
      .truncatedCheckpoint()
    val cum = bands.select(col("band").as("b0"))
      .join(broadcast(bands), col("band") >= col("b0"))
      .groupBy(col("b0"))
      .agg(sum(col("n_t")).as("c_nt"), sum(col("n_c")).as("c_nc"),
        sum(col("y_t")).as("c_yt"), sum(col("y_c")).as("c_yc"))
    bands.join(broadcast(cum), col("band") === col("b0"))
      .select(col("band"), col("n_t"), col("n_c"),
        when(col("n_t") > 0 && col("n_c") > 0,
          round(col("y_t").cast("double") / col("n_t")
            - col("y_c").cast("double") / col("n_c"), 6)).as("uplift"),
        when(col("c_nc") > 0,
          round(col("c_yt").cast("double")
            - col("c_yc").cast("double") * col("c_nt") / col("c_nc"), 4))
          .as("qini"))
      .orderBy(col("band").desc)
  }

  val upliftBinsOracle: String =
    s"""WITH $scoredUnitsSql,
      |u AS (SELECT *,
      |    CAST(least(4, floor(ps*5.0)) AS INTEGER) AS band
      |  FROM cust),
      |bands AS (SELECT band,
      |    sum(CASE WHEN treated THEN 1 ELSE 0 END) AS n_t,
      |    sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS n_c,
      |    sum(CAST(CASE WHEN treated THEN round(y, 2) END
      |      AS DECIMAL(18,2))) AS y_t,
      |    sum(CAST(CASE WHEN NOT treated THEN round(y, 2) END
      |      AS DECIMAL(18,2))) AS y_c
      |  FROM u GROUP BY 1),
      |cum AS (SELECT d.b0, sum(b.n_t) AS c_nt, sum(b.n_c) AS c_nc,
      |    sum(b.y_t) AS c_yt, sum(b.y_c) AS c_yc
      |  FROM (SELECT band AS b0 FROM bands) d
      |  JOIN bands b ON b.band >= d.b0
      |  GROUP BY 1)
      |SELECT band, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
      |  CASE WHEN n_t > 0 AND n_c > 0 THEN
      |    round(CAST(y_t AS DOUBLE)/n_t - CAST(y_c AS DOUBLE)/n_c, 6)
      |  END AS uplift,
      |  CASE WHEN c_nc > 0 THEN
      |    round(CAST(c_yt AS DOUBLE)
      |      - CAST(c_yc AS DOUBLE)*c_nt/c_nc, 4)
      |  END AS qini
      |FROM bands JOIN cum ON cum.b0 = bands.band
      |ORDER BY band DESC""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_power_size" -> (powerSize _),
    "q_psm_att" -> (psmAtt _),
    "q_ipw_ate" -> (ipwAte _),
    "q_aipw_dr" -> (aipwDr _),
    "q_rdd_effect" -> (rddEffect _),
    "q_iv_wald" -> (ivWald _),
    "q_uplift_bins" -> (upliftBins _))

  val oracle: Map[String, String] = Map(
    "q_power_size" -> powerSizeOracle,
    "q_psm_att" -> psmAttOracle,
    "q_ipw_ate" -> ipwAteOracle,
    "q_aipw_dr" -> aipwDrOracle,
    "q_rdd_effect" -> rddEffectOracle,
    "q_iv_wald" -> ivWaldOracle,
    "q_uplift_bins" -> upliftBinsOracle)
}
