package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #21: forecast-accuracy scoring — MASE (the
  * scale-free benchmark metric of the M-competitions) and Theil's U1
  * for the naive-1 forecaster over per-type daily series. These grade
  * any forecasting pipeline's output against the two canonical
  * baselines: "yesterday's value" and "the value a week ago".
  *
  * Scale notes (100 TB): the raw stream first contracts to the
  * (type, day) calendar grid — bounded by types × horizon, the
  * established rolling-window domain (q_rolling_corr precedent) — so
  * the lag windows are per-type partitioned over at most a few
  * thousand rows per key; every error sum re-enters DECIMAL after a
  * fixed round (D2). No global windows.
  *
  * Determinism: daily totals are 4dp-rounded exact-decimal sums;
  * absolute errors are single IEEE subtractions rounded back to 4dp
  * before the decimal reduction; ratios rounded at output.
  */
object ForecastQueries extends QueryFamily {

  /** q_mase — per type: MAE of the naive-1 forecast (previous
    * observed day) scaled by the MAE of the seasonal naive-7 (the
    * value 7 observed days back): MASE < 1 beats the weekly-seasonal
    * baseline. Mean error / MAE gives the bias direction alongside. */
  def mase(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val lagged = dailyByType(s, d)
      .withColumn("f1", lag(col("v"), 1).over(w))
      .withColumn("f7", lag(col("v"), 7).over(w))
    val scored = lagged.select(col("t"),
      round(col("v") - col("f1"), 4).as("e1"),
      round(abs(col("v") - col("f1")), 4).as("a1"),
      round(abs(col("v") - col("f7")), 4).as("a7"))
    val mae1 = sum(col("a1").cast("decimal(18,4)")).cast("double") /
      count(col("a1")).cast("double")
    val mae7 = sum(col("a7").cast("decimal(18,4)")).cast("double") /
      count(col("a7")).cast("double")
    val me1 = sum(col("e1").cast("decimal(18,4)")).cast("double") /
      count(col("e1")).cast("double")
    scored.groupBy(col("t"))
      .agg(count(col("a1")).as("n1"), count(col("a7")).as("n7"),
        round(mae1, 4).as("mae_naive1"),
        round(mae7, 4).as("mae_naive7"),
        round(mae1 / mae7, 6).as("mase"),
        round(me1 / mae1, 6).as("bias_ratio"))
      .orderBy(col("t"))
  }

  val maseOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |lagged AS (SELECT t, v,
      |    lag(v, 1) OVER (PARTITION BY t ORDER BY day) AS f1,
      |    lag(v, 7) OVER (PARTITION BY t ORDER BY day) AS f7
      |  FROM daily),
      |scored AS (SELECT t,
      |    round(v - f1, 4) AS e1,
      |    round(abs(v - f1), 4) AS a1,
      |    round(abs(v - f7), 4) AS a7
      |  FROM lagged)
      |SELECT t, count(a1) AS n1, count(a7) AS n7,
      |  round(CAST(sum(CAST(a1 AS DECIMAL(18,4))) AS DOUBLE)
      |    / CAST(count(a1) AS DOUBLE), 4) AS mae_naive1,
      |  round(CAST(sum(CAST(a7 AS DECIMAL(18,4))) AS DOUBLE)
      |    / CAST(count(a7) AS DOUBLE), 4) AS mae_naive7,
      |  round((CAST(sum(CAST(a1 AS DECIMAL(18,4))) AS DOUBLE)
      |      / CAST(count(a1) AS DOUBLE)) /
      |    (CAST(sum(CAST(a7 AS DECIMAL(18,4))) AS DOUBLE)
      |      / CAST(count(a7) AS DOUBLE)), 6) AS mase,
      |  round((CAST(sum(CAST(e1 AS DECIMAL(18,4))) AS DOUBLE)
      |      / CAST(count(e1) AS DOUBLE)) /
      |    (CAST(sum(CAST(a1 AS DECIMAL(18,4))) AS DOUBLE)
      |      / CAST(count(a1) AS DOUBLE)), 6) AS bias_ratio
      |FROM scored GROUP BY t ORDER BY t""".stripMargin

  /** q_theil_u — Theil's U1 inequality coefficient of the naive-1
    * forecast per type: √Σ(v−f)² / (√Σv² + √Σf²) over the days where
    * the forecast exists — 0 is perfect, 1 is maximally wrong; immune
    * to the zero-denominators that break percentage-error metrics. */
  def theilU(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val lagged = dailyByType(s, d)
      .withColumn("f1", lag(col("v"), 1).over(w))
      .filter(col("f1").isNotNull)
    val scored = lagged.select(col("t"),
      round((col("v") - col("f1")) * (col("v") - col("f1")), 4).as("se"),
      round(col("v") * col("v"), 4).as("v2"),
      round(col("f1") * col("f1"), 4).as("f2"))
    scored.groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        round(sqrt(sum(col("se").cast("decimal(24,4)")).cast("double")) /
          (sqrt(sum(col("v2").cast("decimal(24,4)")).cast("double")) +
           sqrt(sum(col("f2").cast("decimal(24,4)")).cast("double"))), 6)
          .as("u1"))
      .orderBy(col("t"))
  }

  val theilUOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |lagged AS (SELECT t, v,
      |    lag(v, 1) OVER (PARTITION BY t ORDER BY day) AS f1
      |  FROM daily),
      |scored AS (SELECT t,
      |    round((v - f1)*(v - f1), 4) AS se,
      |    round(v*v, 4) AS v2,
      |    round(f1*f1, 4) AS f2
      |  FROM lagged WHERE f1 IS NOT NULL)
      |SELECT t, count(*) AS n,
      |  round(sqrt(CAST(sum(CAST(se AS DECIMAL(24,4))) AS DOUBLE)) /
      |    (sqrt(CAST(sum(CAST(v2 AS DECIMAL(24,4))) AS DOUBLE)) +
      |     sqrt(CAST(sum(CAST(f2 AS DECIMAL(24,4))) AS DOUBLE))), 6) AS u1
      |FROM scored GROUP BY t ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mase" -> (mase _),
    "q_theil_u" -> (theilU _))

  val oracle: Map[String, String] = Map(
    "q_mase" -> maseOracle,
    "q_theil_u" -> theilUOracle)
}
