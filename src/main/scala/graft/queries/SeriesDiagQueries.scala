package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #45: regression / autocorrelation diagnostics on
  * the per-type daily series — the Ljung–Box portmanteau statistic
  * (is there ANY autocorrelation left), the Durbin–Watson statistic
  * on OLS trend residuals (is the trend model's error serially
  * correlated), and AIC/BIC information criteria for the same model
  * (is the trend worth its parameters). The monitoring shelf next to
  * q_acf_multi / q_trend_slope.
  *
  * Scale notes (100 TB): the event stream contracts to the per-type
  * daily grid FIRST (≤ |types|·horizon rows), so every window here is
  * partitioned by type over a bounded domain; per-type means / fits
  * travel back via broadcast |types|-row joins; no global windows.
  *
  * Determinism: daily totals are 4dp exact-decimal sums; deviations
  * and residuals are rounded to fixed scales before products
  * re-enter DECIMAL (D2); ln() appears only after its argument is
  * rounded, and outputs round at 6dp which absorbs cross-libm ulp
  * differences (q_perplexity convention).
  */
object SeriesDiagQueries extends QueryFamily {

  /** q_ljung_box — Ljung–Box Q at lags 1..3 per event type over the
    * daily series: ρ_k = Σ dev_t·dev_{t−k} / Σ dev², Q = n(n+2)
    * Σ_k ρ_k²/(n−k). Deviations from the per-type mean are rounded to
    * 6dp (broadcast mean join), lag products to 4dp, so both engines
    * sum identical decimals. */
  def ljungBox(s: SparkSession, d: String): DataFrame = {
    val dd = dailyByType(s, d)
    val mean = dd.groupBy(col("t"))
      .agg((sum(col("v").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val dev = dd.join(broadcast(mean), "t")
      .withColumn("e", round(col("v") - col("mu"), 6))
      .withColumn("e1", lag(col("e"), 1).over(w))
      .withColumn("e2", lag(col("e"), 2).over(w))
      .withColumn("e3", lag(col("e"), 3).over(w))
    val m = dev.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(round(col("e") * col("e"), 4).cast("decimal(27,4)"))
        .cast("double").as("c0"),
      sum(round(col("e") * col("e1"), 4).cast("decimal(27,4)"))
        .cast("double").as("c1"),
      sum(round(col("e") * col("e2"), 4).cast("decimal(27,4)"))
        .cast("double").as("c2"),
      sum(round(col("e") * col("e3"), 4).cast("decimal(27,4)"))
        .cast("double").as("c3"))
    def rho(k: Int) = col(s"c$k") / col("c0")
    m.select(col("t"), col("n"),
        round(rho(1), 6).as("rho1"),
        round(rho(2), 6).as("rho2"),
        round(rho(3), 6).as("rho3"),
        round(col("n").cast("double") * (col("n") + 2).cast("double") *
          (rho(1) * rho(1) / (col("n") - 1).cast("double") +
           rho(2) * rho(2) / (col("n") - 2).cast("double") +
           rho(3) * rho(3) / (col("n") - 3).cast("double")), 6).as("q_lb"))
      .orderBy(col("t"))
  }

  val ljungBoxOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |mu AS (SELECT t, CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS mu FROM daily GROUP BY 1),
      |dev AS (SELECT daily.t, day, round(v - mu, 6) AS e
      |  FROM daily JOIN mu ON mu.t = daily.t),
      |lagged AS (SELECT t, e,
      |    lag(e, 1) OVER w AS e1,
      |    lag(e, 2) OVER w AS e2,
      |    lag(e, 3) OVER w AS e3
      |  FROM dev WINDOW w AS (PARTITION BY t ORDER BY day)),
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(e*e, 4) AS DECIMAL(27,4))) AS DOUBLE) AS c0,
      |    CAST(sum(CAST(round(e*e1, 4) AS DECIMAL(27,4))) AS DOUBLE) AS c1,
      |    CAST(sum(CAST(round(e*e2, 4) AS DECIMAL(27,4))) AS DOUBLE) AS c2,
      |    CAST(sum(CAST(round(e*e3, 4) AS DECIMAL(27,4))) AS DOUBLE) AS c3
      |  FROM lagged GROUP BY 1)
      |SELECT t, n,
      |  round(c1/c0, 6) AS rho1,
      |  round(c2/c0, 6) AS rho2,
      |  round(c3/c0, 6) AS rho3,
      |  round(CAST(n AS DOUBLE)*CAST(n + 2 AS DOUBLE) *
      |    ((c1/c0)*(c1/c0)/CAST(n - 1 AS DOUBLE) +
      |     (c2/c0)*(c2/c0)/CAST(n - 2 AS DOUBLE) +
      |     (c3/c0)*(c3/c0)/CAST(n - 3 AS DOUBLE)), 6) AS q_lb
      |FROM m ORDER BY t""".stripMargin

  /** Per-type OLS trend fit over the day index (datediff from the
    * per-type first day), coefficients rounded to 8dp, plus 6dp
    * residuals — shared by q_durbin_watson and q_model_ic. */
  private def residuals(s: SparkSession, d: String): DataFrame = {
    // (type, day) panel feeds the anchor probe + fit + residual
    // branches — materialize once (round-8 scan gate: the consumers
    // re-embedded 4 events scans per plan)
    import graft.operators.CacheOps.CheckpointSyntax
    val dd = dailyByType(s, d).truncatedCheckpoint()
    val anchor = dd.groupBy(col("t")).agg(min(col("day")).as("day0"))
    val xy = dd.join(broadcast(anchor), "t")
      .withColumn("x", datediff(col("day"), col("day0")).cast("double"))
    val fit = xy.groupBy(col("t")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(18,4)")).cast("double").as("sx"),
        sum(col("v").cast("decimal(18,4)")).cast("double").as("sy"),
        sum(round(col("x") * col("v"), 4).cast("decimal(27,4)"))
          .cast("double").as("sxy"),
        sum(round(col("x") * col("x"), 4).cast("decimal(27,4)"))
          .cast("double").as("sxx"))
      .select(col("t"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 8).as("b"),
        round(col("sy") / col("n") -
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("sx") / col("n")), 8).as("a"))
    xy.join(broadcast(fit), "t")
      .withColumn("e", round(col("v") - col("a") - col("b") * col("x"), 6))
  }

  private val residualsSql: String =
    s"""daily AS ($dailyByTypeSql),
      |anchor AS (SELECT t, min(day) AS day0 FROM daily GROUP BY 1),
      |xy AS (SELECT daily.t, day,
      |    CAST(date_diff('day', day0, day) AS DOUBLE) AS x, v
      |  FROM daily JOIN anchor ON anchor.t = daily.t),
      |fit AS (SELECT t,
      |    round((n*sxy - sx*sy)/(n*sxx - sx*sx), 8) AS b,
      |    round(sy/n - (n*sxy - sx*sy)/(n*sxx - sx*sx)*(sx/n), 8) AS a
      |  FROM (SELECT t, CAST(count(*) AS DOUBLE) AS n,
      |      CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |      CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |      CAST(sum(CAST(round(x*v, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxy,
      |      CAST(sum(CAST(round(x*x, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxx
      |    FROM xy GROUP BY 1) mom),
      |res AS (SELECT xy.t, day, round(v - a - b*x, 6) AS e
      |  FROM xy JOIN fit ON fit.t = xy.t)""".stripMargin

  /** q_durbin_watson — DW = Σ(e_t − e_{t−1})² / Σe_t² on the trend
    * residuals, per type: ≈2 means no serial correlation, →0 means
    * positive autocorrelation in the errors (trend model too
    * simple). */
  def durbinWatson(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    residuals(s, d)
      .withColumn("ep", lag(col("e"), 1).over(w))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("e") * col("e"), 4).cast("decimal(27,4)"))
          .cast("double").as("sse"),
        sum(round((col("e") - col("ep")) * (col("e") - col("ep")), 4)
          .cast("decimal(27,4)")).cast("double").as("ssd"))
      .select(col("t"), col("n"), round(col("ssd") / col("sse"), 6).as("dw"))
      .orderBy(col("t"))
  }

  val durbinWatsonOracle: String =
    s"""WITH $residualsSql,
      |lagged AS (SELECT t, e, lag(e, 1) OVER (PARTITION BY t ORDER BY day)
      |    AS ep FROM res)
      |SELECT t, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(round((e - ep)*(e - ep), 4) AS DECIMAL(27,4)))
      |      AS DOUBLE) /
      |    CAST(sum(CAST(round(e*e, 4) AS DECIMAL(27,4))) AS DOUBLE), 6)
      |    AS dw
      |FROM lagged GROUP BY 1 ORDER BY t""".stripMargin

  /** q_model_ic — Gaussian-likelihood information criteria of the
    * per-type trend model (k = 2 parameters): AIC = n·ln(RSS/n) + 2k,
    * BIC = n·ln(RSS/n) + k·ln(n). ln() takes a 6dp-rounded argument;
    * outputs round at 4dp. */
  def modelIc(s: SparkSession, d: String): DataFrame = {
    val k = 2.0
    residuals(s, d)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("e") * col("e"), 4).cast("decimal(27,4)"))
          .cast("double").as("rss"))
      .select(col("t"), col("n"), round(col("rss"), 4).as("rss"),
        round(col("n").cast("double") *
          log(round(col("rss") / col("n").cast("double"), 6)) +
          lit(2.0) * lit(k), 4).as("aic"),
        round(col("n").cast("double") *
          log(round(col("rss") / col("n").cast("double"), 6)) +
          lit(k) * log(col("n").cast("double")), 4).as("bic"))
      .orderBy(col("t"))
  }

  val modelIcOracle: String =
    s"""WITH $residualsSql,
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(e*e, 4) AS DECIMAL(27,4))) AS DOUBLE) AS rss
      |  FROM res GROUP BY 1)
      |SELECT t, n, round(rss, 4) AS rss,
      |  round(CAST(n AS DOUBLE)*ln(round(rss/CAST(n AS DOUBLE), 6)) + 4.0, 4)
      |    AS aic,
      |  round(CAST(n AS DOUBLE)*ln(round(rss/CAST(n AS DOUBLE), 6)) +
      |    2.0*ln(CAST(n AS DOUBLE)), 4) AS bic
      |FROM m ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ljung_box" -> (ljungBox _),
    "q_durbin_watson" -> (durbinWatson _),
    "q_model_ic" -> (modelIc _))

  val oracle: Map[String, String] = Map(
    "q_ljung_box" -> ljungBoxOracle,
    "q_durbin_watson" -> durbinWatsonOracle,
    "q_model_ic" -> modelIcOracle)
}
