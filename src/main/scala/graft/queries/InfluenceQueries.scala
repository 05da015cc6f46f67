package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #75: regression influence diagnostics — leverage,
  * internally-studentized residuals, and Cook's distance for the
  * per-type daily trend OLS (the "which day broke the fit" companion
  * to q_durbin_watson / q_breusch_pagan on the same model), reporting
  * the top-10 most influential (type, day) points.
  *
  * Scale notes (100 TB): the model is fitted once per type from
  * decimal moments (keyed fold), coefficients broadcast back, and
  * every per-point diagnostic is a closed scalar form — the final
  * top-10 is TakeOrderedAndProject. All windows are type-partitioned
  * over the bounded calendar.
  *
  * Determinism: daily values at 4dp; residuals at 4dp; MSE and
  * leverage from exact-decimal-derived doubles in spelled-out
  * operation order; final 6dp with (type, day) tie-break. */
object InfluenceQueries extends QueryFamily {

  /** q_cooks_d — top-10 influential days across types: leverage
    * h = 1/n + (x−x̄)²/Sxx, studentized residual
    * t = e/√(s²(1−h)), Cook's D = e²·h / (p·s²·(1−h)²) with p = 2. */
  def cooksD(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val base = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
      .withColumn("x", row_number().over(w).cast("double"))
      // (type, day) panel feeds the fit moments + residual/MSE
      // branches — materialize once (round-8 scan gate: was 4 scans)
      .truncatedCheckpoint()
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
      round((d1("sv") - round(beta, 8) * d1("sx")) / nD, 8).as("b0"),
      round(d1("sx") / nD, 8).as("xbar"),
      round(d1("sxx") - d1("sx") * d1("sx") / nD, 4).as("sxx_c"))
    val resid = base.join(broadcast(coef), "t")
      .withColumn("e", round(col("v") - (col("b0") + col("b1") * col("x")), 4))
    val mse = resid.groupBy(col("t")).agg(
      round(sum(round(col("e") * col("e"), 4).cast("decimal(27,4)"))
        .cast("double")
        / (count(lit(1)) - lit(2L)).cast("double"), 8).as("s2"))
    resid.join(broadcast(mse), "t")
      .withColumn("h", round(lit(1.0) / col("n").cast("double")
        + (col("x") - col("xbar")) * (col("x") - col("xbar"))
          / col("sxx_c"), 8))
      .withColumn("t_stud", round(col("e")
        / sqrt(round(col("s2") * (lit(1.0) - col("h")), 8)), 6))
      .withColumn("cooks_d", round(col("e") * col("e") * col("h")
        / (lit(2.0) * col("s2")
          * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))), 6))
      .select(col("t"), col("day"), col("v"), col("e"), col("h"),
        col("t_stud"), col("cooks_d"))
      .orderBy(col("cooks_d").desc, col("t"), col("day"))
      .limit(10)
  }

  val cooksDOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |base AS (SELECT t, day, v,
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
      |      /CAST(n AS DOUBLE), 8) AS b0,
      |    round(sx/CAST(n AS DOUBLE), 8) AS xbar,
      |    round(sxx - sx*sx/CAST(n AS DOUBLE), 4) AS sxx_c
      |  FROM m1),
      |resid AS (SELECT base.t, day, v, x, n, b0, b1, xbar, sxx_c,
      |    round(v - (b0 + b1*x), 4) AS e
      |  FROM base JOIN coef ON coef.t = base.t),
      |mse AS (SELECT t,
      |    round(CAST(sum(CAST(round(e*e, 4) AS DECIMAL(27,4))) AS DOUBLE)
      |      /CAST(count(*) - 2 AS DOUBLE), 8) AS s2
      |  FROM resid GROUP BY 1),
      |diag AS (SELECT resid.t, day, v, e,
      |    round(1.0/CAST(n AS DOUBLE)
      |      + (x - xbar)*(x - xbar)/sxx_c, 8) AS h, s2
      |  FROM resid JOIN mse ON mse.t = resid.t)
      |SELECT t, day, v, e, h,
      |  round(e/sqrt(round(s2*(1.0 - h), 8)), 6) AS t_stud,
      |  round(e*e*h/(2.0*s2*(1.0 - h)*(1.0 - h)), 6) AS cooks_d
      |FROM diag
      |ORDER BY cooks_d DESC, t, day
      |LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cooks_d" -> (cooksD _))

  val oracle: Map[String, String] = Map(
    "q_cooks_d" -> cooksDOracle)
}
