package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #29: pipeline monitors — the sample-ratio-
  * mismatch guardrail every experimentation platform fires before
  * reading any metric, and seasonal-strength scoring of the
  * decomposition family's output (how much of the series the weekly
  * pattern explains).
  *
  * Scale notes (100 TB): SRM is a two-cell contraction of the
  * assignment stream (one keyed aggregate, exact integers);
  * seasonal strength aggregates the already-graded q_seasonal_decomp
  * relation per type — DECIMAL moment sums over the bounded daily
  * grid, broadcast-free.
  *
  * Determinism: chi-square on exact counts is straight-line double
  * math; variance ratios come from 4dp-rounded component columns
  * re-entering DECIMAL (D2).
  */
object MonitorQueries extends QueryFamily {

  /** q_ab_srm — sample-ratio mismatch for the md5 50/50 user split
    * (the q_ab_test assignment): observed arm sizes vs the expected
    * half-split, the one-degree chi-square statistic, and the
    * per-arm deviation — fired before any experiment readout. */
  def abSrm(s: SparkSession, d: String): DataFrame = {
    val arm = when(substring(md5(col("user_id").cast("string")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    val counts = events(s, d).select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n"))
    val a = counts.filter(col("arm") === "A").select(col("n").as("na"))
    val b = counts.filter(col("arm") === "B").select(col("n").as("nb"))
    val tot = (col("na") + col("nb")).cast("double")
    val exp = tot / 2.0
    val chi2 = (col("na").cast("double") - exp) * (col("na").cast("double") - exp) / exp +
      (col("nb").cast("double") - exp) * (col("nb").cast("double") - exp) / exp
    a.crossJoin(broadcast(b)).select(
      col("na"), col("nb"),
      round(col("na").cast("double") / tot, 6).as("share_a"),
      round(chi2, 6).as("chi2"))
  }

  val abSrmOracle: String =
    """WITH arms AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |    IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |g AS (SELECT arm, count(*) AS n FROM arms GROUP BY 1),
      |a AS (SELECT n AS na FROM g WHERE arm = 'A'),
      |b AS (SELECT n AS nb FROM g WHERE arm = 'B')
      |SELECT na, nb,
      |  round(CAST(na AS DOUBLE)/CAST(na + nb AS DOUBLE), 6) AS share_a,
      |  round(
      |    (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE)/2.0) *
      |    (CAST(na AS DOUBLE) - CAST(na + nb AS DOUBLE)/2.0) /
      |    (CAST(na + nb AS DOUBLE)/2.0) +
      |    (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE)/2.0) *
      |    (CAST(nb AS DOUBLE) - CAST(na + nb AS DOUBLE)/2.0) /
      |    (CAST(na + nb AS DOUBLE)/2.0), 6) AS chi2
      |FROM a CROSS JOIN b""".stripMargin

  /** q_seasonal_strength — per type over the q_seasonal_decomp
    * relation: Fs = max(0, 1 − Var(resid)/Var(seasonal+resid)) (the
    * STL-strength formula) — how much of the detrended series the
    * weekly pattern explains. Population variances from DECIMAL
    * moments of the 4dp component columns. */
  def seasonalStrength(s: SparkSession, d: String): DataFrame = {
    val decomp = RiskStatsQueries.seasonalDecomp(s, d)
      .select(col("t"), col("seasonal"), col("resid"))
      .withColumn("sr", round(col("seasonal") + col("resid"), 4))
    val g = decomp.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(col("resid").cast("decimal(18,4)")).cast("double").as("s_r"),
      sum(round(col("resid") * col("resid"), 4).cast("decimal(27,4)"))
        .cast("double").as("s_rr"),
      sum(col("sr").cast("decimal(18,4)")).cast("double").as("s_x"),
      sum(round(col("sr") * col("sr"), 4).cast("decimal(27,4)"))
        .cast("double").as("s_xx"))
    val nD = col("n").cast("double")
    val varR = col("s_rr") / nD - (col("s_r") / nD) * (col("s_r") / nD)
    val varX = col("s_xx") / nD - (col("s_x") / nD) * (col("s_x") / nD)
    g.select(col("t"), col("n"),
        round(varR, 4).as("var_resid"),
        round(varX, 4).as("var_deseason"),
        round(greatest(lit(0.0), lit(1.0) - varR / varX), 6).as("strength"))
      .orderBy(col("t"))
  }

  def seasonalStrengthOracle(decompSql: String): String =
    s"""WITH decomp AS ($decompSql),
      |comp AS (SELECT t, resid,
      |    round(seasonal + resid, 4) AS sr
      |  FROM decomp),
      |g AS (SELECT t, count(*) AS n,
      |    CAST(sum(CAST(resid AS DECIMAL(18,4))) AS DOUBLE) AS s_r,
      |    CAST(sum(CAST(round(resid*resid, 4) AS DECIMAL(27,4))) AS DOUBLE) AS s_rr,
      |    CAST(sum(CAST(sr AS DECIMAL(18,4))) AS DOUBLE) AS s_x,
      |    CAST(sum(CAST(round(sr*sr, 4) AS DECIMAL(27,4))) AS DOUBLE) AS s_xx
      |  FROM comp GROUP BY 1)
      |SELECT t, n,
      |  round(s_rr/CAST(n AS DOUBLE) -
      |    (s_r/CAST(n AS DOUBLE))*(s_r/CAST(n AS DOUBLE)), 4) AS var_resid,
      |  round(s_xx/CAST(n AS DOUBLE) -
      |    (s_x/CAST(n AS DOUBLE))*(s_x/CAST(n AS DOUBLE)), 4) AS var_deseason,
      |  round(greatest(0.0, 1.0 -
      |    (s_rr/CAST(n AS DOUBLE) -
      |      (s_r/CAST(n AS DOUBLE))*(s_r/CAST(n AS DOUBLE))) /
      |    (s_xx/CAST(n AS DOUBLE) -
      |      (s_x/CAST(n AS DOUBLE))*(s_x/CAST(n AS DOUBLE)))), 6) AS strength
      |FROM g ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ab_srm" -> (abSrm _),
    "q_seasonal_strength" -> (seasonalStrength _))

  val oracle: Map[String, String] = Map(
    "q_ab_srm" -> abSrmOracle,
    "q_seasonal_strength" ->
      seasonalStrengthOracle(RiskStatsQueries.oracle("q_seasonal_decomp")))
}
