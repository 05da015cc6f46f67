package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #67: forecast-accuracy scorecard and residual
  * heteroscedasticity — the sMAPE / WAPE / MPE panel for the
  * seasonal-naive-7 forecast (completing q_mase / q_theil_u's error
  * family with the percentage-style measures practitioners actually
  * report), and the Breusch–Pagan test for heteroscedastic residuals
  * of the per-type daily linear trend (the variance complement to
  * q_durbin_watson's autocorrelation check on the same model).
  *
  * Scale notes (100 TB): both queries live entirely on the bounded
  * (type, day) grid with type-partitioned windows; Breusch–Pagan is
  * two closed-form OLS folds (decimal moments) joined back through
  * broadcast per-type coefficient rows. No partition-less windows.
  *
  * Determinism: daily values pinned at 4dp (q_mase convention);
  * per-row ratios round at 8dp into decimal sums; residuals and
  * squared residuals round before the second-pass moments; final 6dp.
  */
object ForecastExtraQueries extends QueryFamily {

  /** q_forecast_err — per type, the seasonal-naive-7 forecast scored
    * three ways: sMAPE = mean of 200·|v−f|/(|v|+|f|), WAPE =
    * Σ|v−f| / Σ|v|, MPE = mean of 100·(v−f)/v (bias sign); rows
    * whose denominator is 0 are excluded per the standard
    * definitions. */
  def forecastErr(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val scored = dailyByType(s, d)
      .withColumn("f", lag(col("v"), 7).over(w))
      .filter(col("f").isNotNull)
    val terms = scored.select(col("t"), col("v"),
      round(abs(col("v") - col("f")), 4).as("ae"),
      when(abs(col("v")) + abs(col("f")) > 0.0,
        round(lit(200.0) * abs(col("v") - col("f"))
          / (abs(col("v")) + abs(col("f"))), 8)).as("smape_i"),
      when(col("v") =!= 0.0,
        round(lit(100.0) * (col("v") - col("f")) / col("v"), 8))
        .as("mpe_i"))
    terms.groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        round(sum(col("smape_i").cast("decimal(27,8)")).cast("double")
          / count(col("smape_i")).cast("double"), 6).as("smape"),
        round(sum(col("ae").cast("decimal(18,4)")).cast("double")
          / sum(abs(col("v")).cast("decimal(18,4)")).cast("double"), 6)
          .as("wape"),
        round(sum(col("mpe_i").cast("decimal(27,8)")).cast("double")
          / count(col("mpe_i")).cast("double"), 6).as("mpe"))
      .orderBy(col("t"))
  }

  val forecastErrOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |scored AS (SELECT t, v,
      |    lag(v, 7) OVER (PARTITION BY t ORDER BY day) AS f
      |  FROM daily),
      |terms AS (SELECT t, v,
      |    round(abs(v - f), 4) AS ae,
      |    CASE WHEN abs(v) + abs(f) > 0.0 THEN
      |      round(200.0*abs(v - f)/(abs(v) + abs(f)), 8) END AS smape_i,
      |    CASE WHEN v <> 0.0 THEN
      |      round(100.0*(v - f)/v, 8) END AS mpe_i
      |  FROM scored WHERE f IS NOT NULL)
      |SELECT t, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(smape_i AS DECIMAL(27,8))) AS DOUBLE)
      |    /CAST(count(smape_i) AS DOUBLE), 6) AS smape,
      |  round(CAST(sum(CAST(ae AS DECIMAL(18,4))) AS DOUBLE)
      |    /CAST(sum(CAST(abs(v) AS DECIMAL(18,4))) AS DOUBLE), 6) AS wape,
      |  round(CAST(sum(CAST(mpe_i AS DECIMAL(27,8))) AS DOUBLE)
      |    /CAST(count(mpe_i) AS DOUBLE), 6) AS mpe
      |FROM terms GROUP BY t ORDER BY t""".stripMargin

  /** q_breusch_pagan — per type: OLS of the daily value on the day
    * index (row_number over the type's calendar — partitioned), then
    * the auxiliary OLS of the squared residual on the same index; the
    * LM statistic is n·R²_aux with df = 1. Both regressions are
    * closed-form decimal-moment folds; residuals round at 4dp before
    * squaring (D2). */
  def breuschPagan(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val base = dailyByType(s, d)
      .withColumn("x", row_number().over(w).cast("double"))
    val m1 = base.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,4)")).as("sx"),
      sum(col("v").cast("decimal(18,4)")).as("sv"),
      sum(round(col("x") * col("v"), 4).cast("decimal(27,4)")).as("sxv"),
      sum(round(col("x") * col("x"), 4).cast("decimal(27,4)")).as("sxx"))
    val nD = col("n").cast("double")
    def d1(c: String) = col(c).cast("double")
    val beta = (nD * d1("sxv") - d1("sx") * d1("sv")) /
      (nD * d1("sxx") - d1("sx") * d1("sx"))
    val coef = m1.select(col("t"), col("n"),
      round(beta, 8).as("b1"),
      round((d1("sv") - round(beta, 8) * d1("sx")) / nD, 8).as("b0"))
    val resid = base.join(broadcast(coef), "t")
      .select(col("t"), col("x"), col("n"),
        round(col("v") - (col("b0") + col("b1") * col("x")), 4).as("e"))
      .withColumn("e2", round(col("e") * col("e"), 4))
    val m2 = resid.groupBy(col("t"), col("n")).agg(
      sum(col("x").cast("decimal(18,4)")).as("sx"),
      sum(col("e2").cast("decimal(27,4)")).as("se"),
      sum(round(col("x") * col("e2"), 4).cast("decimal(38,4)")).as("sxe"),
      sum(round(col("x") * col("x"), 4).cast("decimal(27,4)")).as("sxx"),
      sum(round(col("e2") * col("e2"), 4).cast("decimal(38,4)")).as("see"))
    val sxyC = nD * d1("sxe") - d1("sx") * d1("se")
    val sxxC = nD * d1("sxx") - d1("sx") * d1("sx")
    val syyC = nD * d1("see") - d1("se") * d1("se")
    val r2 = round(sxyC * sxyC / (sxxC * syyC), 8)
    m2.select(col("t"), col("n"), r2.as("r2_aux"),
        round(nD * r2, 6).as("bp_lm"), lit(1).as("df"))
      .orderBy(col("t"))
  }

  val breuschPaganOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |base AS (SELECT t, v,
      |    CAST(row_number() OVER (PARTITION BY t ORDER BY day)
      |      AS DOUBLE) AS x
      |  FROM daily),
      |m1 AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(round(x*v, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxv,
      |    CAST(sum(CAST(round(x*x, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxx
      |  FROM base GROUP BY 1),
      |coef AS (SELECT t, n,
      |    round((CAST(n AS DOUBLE)*sxv - sx*sv)
      |      /(CAST(n AS DOUBLE)*sxx - sx*sx), 8) AS b1,
      |    round((sv - round((CAST(n AS DOUBLE)*sxv - sx*sv)
      |        /(CAST(n AS DOUBLE)*sxx - sx*sx), 8)*sx)
      |      /CAST(n AS DOUBLE), 8) AS b0
      |  FROM m1),
      |resid AS (SELECT base.t, x, n,
      |    round(round(v - (b0 + b1*x), 4)
      |      * round(v - (b0 + b1*x), 4), 4) AS e2
      |  FROM base JOIN coef ON coef.t = base.t),
      |m2 AS (SELECT t, n,
      |    CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(e2 AS DECIMAL(27,4))) AS DOUBLE) AS se,
      |    CAST(sum(CAST(round(x*e2, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxe,
      |    CAST(sum(CAST(round(x*x, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(e2*e2, 4) AS DECIMAL(38,4))) AS DOUBLE) AS see
      |  FROM resid GROUP BY 1, 2)
      |SELECT t, n,
      |  round((CAST(n AS DOUBLE)*sxe - sx*se)
      |      *(CAST(n AS DOUBLE)*sxe - sx*se)
      |    /((CAST(n AS DOUBLE)*sxx - sx*sx)
      |      *(CAST(n AS DOUBLE)*see - se*se)), 8) AS r2_aux,
      |  round(CAST(n AS DOUBLE)
      |    * round((CAST(n AS DOUBLE)*sxe - sx*se)
      |        *(CAST(n AS DOUBLE)*sxe - sx*se)
      |      /((CAST(n AS DOUBLE)*sxx - sx*sx)
      |        *(CAST(n AS DOUBLE)*see - se*se)), 8), 6) AS bp_lm,
      |  1 AS df
      |FROM m2 ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_forecast_err" -> (forecastErr _),
    "q_breusch_pagan" -> (breuschPagan _))

  val oracle: Map[String, String] = Map(
    "q_forecast_err" -> forecastErrOracle,
    "q_breusch_pagan" -> breuschPaganOracle)
}
