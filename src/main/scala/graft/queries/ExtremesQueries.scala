package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Round-4 widening #57: extreme-value and distribution-shape
  * operators — Gumbel block-maxima fit with return levels (the EVT
  * capacity-planning statistic), lag-2 partial autocorrelation
  * (Durbin–Levinson closed form, the AR-order diagnostic beside
  * q_acf_multi), and Bowley skewness / Moors kurtosis (the
  * quantile-based robust shape panel beside the moment-based
  * q_moments).
  *
  * Scale notes (100 TB): gumbel contracts events to ≤|days| block
  * maxima (one keyed shuffle) then one moment row; pacf2's windows
  * are type-partitioned over the bounded daily calendar; bowley
  * ranks octiles on the contracted (type, value) count table — the
  * q_median_global percentile_disc shape, keyed by type. No global
  * windows, no raw-row retention.
  *
  * Determinism: block maxima are exact column values; moments travel
  * as DECIMAL with 6dp products; the Gumbel constants (Euler γ,
  * √6/π) and the T=10/T=100 reduced variates are exact double
  * literals in BOTH engines (no cross-engine libm); daily means and
  * correlations round at 8dp before composition (D2).
  */
object ExtremesQueries extends QueryFamily {

  /** q_gumbel_fit — method-of-moments Gumbel fit on daily maxima
    * of `events.value`: β = s·√6/π, μ = m − γ·β, with the 10- and
    * 100-period return levels x_T = μ + β·y_T (y_T = −ln(−ln(1−1/T))
    * inlined as exact literals). */
  def gumbelFit(s: SparkSession, d: String): DataFrame = {
    val blocks = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(max(col("value")).as("mx"))
    val m = blocks.agg(count(lit(1)).as("n"),
      sum(col("mx").cast("decimal(18,6)")).cast("double").as("sx"),
      sum(round(col("mx") * col("mx"), 6).cast("decimal(27,6)"))
        .cast("double").as("sxx"))
    val nD = col("n").cast("double")
    val mean = round(col("sx") / nD, 8)
    val sd = round(sqrt(round((col("sxx") - col("sx") * col("sx") / nD)
      / (nD - 1), 8)), 8)
    // √6/π and Euler–Mascheroni γ as exact double literals
    val beta = round(sd * lit(0.7796968012336761), 8)
    val mu = round(mean - lit(0.5772156649015329) * beta, 8)
    m.select(col("n"), mu.as("mu"), beta.as("beta"),
      // y_10 = −ln(−ln(0.9)), y_100 = −ln(−ln(0.99))
      round(mu + beta * lit(2.2503673273124454), 4).as("rl_10"),
      round(mu + beta * lit(4.600149226776579), 4).as("rl_100"))
  }

  val gumbelFitOracle: String =
    """WITH blocks AS (SELECT CAST(ts AS DATE) AS day,
      |    max(value) AS mx
      |  FROM events GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(mx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(mx*mx, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      |  FROM blocks),
      |fit AS (SELECT n,
      |    round(sx/CAST(n AS DOUBLE), 8) AS mean,
      |    round(sqrt(round((sxx - sx*sx/CAST(n AS DOUBLE))
      |      /(CAST(n AS DOUBLE) - 1), 8)), 8) AS sd
      |  FROM m),
      |p AS (SELECT n, round(sd * 0.7796968012336761, 8) AS beta,
      |    round(mean - 0.5772156649015329
      |      * round(sd * 0.7796968012336761, 8), 8) AS mu
      |  FROM fit)
      |SELECT n, mu, beta,
      |  round(mu + beta * 2.2503673273124454, 4) AS rl_10,
      |  round(mu + beta * 4.600149226776579, 4) AS rl_100
      |FROM p""".stripMargin

  /** q_pacf2 — lag-2 partial autocorrelation per event type over the
    * daily-mean grid: pairwise-Pearson r₁, r₂ from type-partitioned
    * lag windows, φ₂₂ = (r₂ − r₁²)/(1 − r₁²) (Durbin–Levinson). */
  def pacf2(s: SparkSession, d: String): DataFrame = {
    val grid = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts2")).as("day"))
      .agg(round(avg(col("value")), 8).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = grid
      .withColumn("v1", lag(col("v"), 1).over(w))
      .withColumn("v2", lag(col("v"), 2).over(w))
    def pearson(df: DataFrame, a: String, b: String): Column = {
      round((count(lit(1)).cast("double")
          * sum(round(col(a) * col(b), 6).cast("decimal(27,6)")).cast("double")
          - sum(col(a).cast("decimal(18,6)")).cast("double")
            * sum(col(b).cast("decimal(18,6)")).cast("double"))
        / sqrt((count(lit(1)).cast("double")
            * sum(round(col(a) * col(a), 6).cast("decimal(27,6)")).cast("double")
            - pow(sum(col(a).cast("decimal(18,6)")).cast("double"), 2))
          * (count(lit(1)).cast("double")
            * sum(round(col(b) * col(b), 6).cast("decimal(27,6)")).cast("double")
            - pow(sum(col(b).cast("decimal(18,6)")).cast("double"), 2))), 8)
    }
    val r1 = lagged.filter(col("v1").isNotNull).groupBy(col("event_type"))
      .agg(pearson(lagged, "v", "v1").as("r1"))
    val r2 = lagged.filter(col("v2").isNotNull).groupBy(col("event_type"))
      .agg(pearson(lagged, "v", "v2").as("r2"))
    r1.join(r2, "event_type")
      .select(col("event_type"), col("r1"), col("r2"),
        round((col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")), 6).as("pacf2"))
      .orderBy(col("event_type"))
  }

  val pacf2Oracle: String =
    """WITH grid AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    round(avg(value), 8) AS v
      |  FROM events GROUP BY 1, 2),
      |lagged AS (SELECT event_type, v,
      |    lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1,
      |    lag(v, 2) OVER (PARTITION BY event_type ORDER BY day) AS v2
      |  FROM grid),
      |r1 AS (SELECT event_type, round(
      |    (CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v*v1, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
      |        * CAST(sum(CAST(v1 AS DECIMAL(18,6))) AS DOUBLE))
      |    / sqrt((CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v*v, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |        - pow(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 2))
      |      * (CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v1*v1, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |        - pow(CAST(sum(CAST(v1 AS DECIMAL(18,6))) AS DOUBLE), 2))),
      |    8) AS r1
      |  FROM lagged WHERE v1 IS NOT NULL GROUP BY 1),
      |r2 AS (SELECT event_type, round(
      |    (CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v*v2, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
      |        * CAST(sum(CAST(v2 AS DECIMAL(18,6))) AS DOUBLE))
      |    / sqrt((CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v*v, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |        - pow(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 2))
      |      * (CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(round(v2*v2, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |        - pow(CAST(sum(CAST(v2 AS DECIMAL(18,6))) AS DOUBLE), 2))),
      |    8) AS r2
      |  FROM lagged WHERE v2 IS NOT NULL GROUP BY 1)
      |SELECT r1.event_type, r1, r2,
      |  round((r2 - r1*r1)/(1.0 - r1*r1), 6) AS pacf2
      |FROM r1 JOIN r2 ON r2.event_type = r1.event_type
      |ORDER BY r1.event_type""".stripMargin

  /** q_bowley_moors — robust quantile shape per event type: octiles
    * E1..E7 with percentile_disc semantics off the contracted
    * (type, value) count table, Bowley skew =
    * (E6 + E2 − 2·E4)/(E6 − E2), Moors kurtosis =
    * ((E7 − E5) + (E3 − E1))/(E6 − E2). */
  def bowleyMoors(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.withColumn("cum", sum(col("cnt")).over(w))
    val n = events(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    def pick(i: Int) = min(when(col("cum").cast("double") >=
      lit(i / 8.0) * col("n").cast("double"), col("value")))
    val oct = cum.join(broadcast(n), "event_type")
      .groupBy(col("event_type"))
      .agg(pick(1).as("e1"), pick(2).as("e2"), pick(3).as("e3"),
        pick(4).as("e4"), pick(5).as("e5"), pick(6).as("e6"),
        pick(7).as("e7"))
    oct.select(col("event_type"),
        round(col("e2"), 6).as("q1"), round(col("e4"), 6).as("median"),
        round(col("e6"), 6).as("q3"),
        round((col("e6") + col("e2") - lit(2.0) * col("e4"))
          / (col("e6") - col("e2")), 6).as("bowley_skew"),
        round(((col("e7") - col("e5")) + (col("e3") - col("e1")))
          / (col("e6") - col("e2")), 6).as("moors_kurtosis"))
      .orderBy(col("event_type"))
  }

  val bowleyMoorsOracle: String =
    """WITH o AS (SELECT event_type,
      |    percentile_disc(0.125) WITHIN GROUP (ORDER BY value) AS e1,
      |    percentile_disc(0.25)  WITHIN GROUP (ORDER BY value) AS e2,
      |    percentile_disc(0.375) WITHIN GROUP (ORDER BY value) AS e3,
      |    percentile_disc(0.5)   WITHIN GROUP (ORDER BY value) AS e4,
      |    percentile_disc(0.625) WITHIN GROUP (ORDER BY value) AS e5,
      |    percentile_disc(0.75)  WITHIN GROUP (ORDER BY value) AS e6,
      |    percentile_disc(0.875) WITHIN GROUP (ORDER BY value) AS e7
      |  FROM events GROUP BY 1)
      |SELECT event_type,
      |  round(e2, 6) AS q1, round(e4, 6) AS median, round(e6, 6) AS q3,
      |  round((e6 + e2 - 2.0*e4)/(e6 - e2), 6) AS bowley_skew,
      |  round(((e7 - e5) + (e3 - e1))/(e6 - e2), 6) AS moors_kurtosis
      |FROM o ORDER BY event_type""".stripMargin

  /** q_pot_gpd — peaks-over-threshold with a method-of-moments GPD
    * fit on event-value excesses over u=90 (ξ = ½(1−μ²/s²),
    * σ = ½μ(1+μ²/s²) — closed forms, no likelihood iteration),
    * plus the mean-excess ladder at thresholds 70..90 whose
    * linearity-in-u is the standard GPD diagnostic. Everything is
    * one conditional-moment pass: each threshold's excess moments
    * are filtered decimal folds over the same scan. */
  def potGpd(s: SparkSession, d: String): DataFrame = {
    // 1-col projection feeds one excess branch per threshold —
    // materialize once (round-8 scan gate: was 5 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val v = events(s, d).select(col("value"))
      .truncatedCheckpoint()
    val thresholds = Seq(70.0, 75.0, 80.0, 85.0, 90.0)
    def f(c: String) = col(c).cast("double")
    val rows = thresholds.map { u =>
      val ex = v.filter(col("value") > u)
        .select(round(col("value") - u, 2).as("e"))
      val m = ex.agg(count(lit(1)).as("n"),
        sum(col("e").cast("decimal(18,2)")).as("se"),
        sum((col("e") * col("e")).cast("decimal(27,4)")).as("see"))
      val nD = f("n")
      val mu = round(f("se") / nD, 8)
      val s2 = round(f("see") / nD - mu * mu, 8)
      val base = m.select(lit(u).as("u"), col("n"),
        mu.as("mean_excess"), s2.as("var_excess"))
      if (u == 90.0)
        base.select(col("u"), col("n"), col("mean_excess"),
          round(lit(0.5) * (lit(1.0) - col("mean_excess")
            * col("mean_excess") / col("var_excess")), 6).as("xi"),
          round(lit(0.5) * col("mean_excess") * (lit(1.0)
            + col("mean_excess") * col("mean_excess")
            / col("var_excess")), 6).as("sigma"))
      else
        base.select(col("u"), col("n"), col("mean_excess"),
          lit(null).cast("double").as("xi"),
          lit(null).cast("double").as("sigma"))
    }
    rows.reduce(_ unionByName _).orderBy(col("u"))
  }

  val potGpdOracle: String = {
    val rows = Seq(70.0, 75.0, 80.0, 85.0, 90.0).map { u =>
      val fit =
        if (u == 90.0)
          """round(0.5*(1.0 - mean_excess*mean_excess/var_excess), 6)
            |    AS xi,
            |  round(0.5*mean_excess*(1.0
            |    + mean_excess*mean_excess/var_excess), 6) AS sigma""".stripMargin
        else "CAST(NULL AS DOUBLE) AS xi, CAST(NULL AS DOUBLE) AS sigma"
      s"""SELECT u, n, mean_excess, $fit
         |FROM (SELECT CAST($u AS DOUBLE) AS u,
         |    CAST(count(*) AS BIGINT) AS n,
         |    round(CAST(sum(CAST(round(value - $u, 2) AS DECIMAL(18,2)))
         |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 8) AS mean_excess,
         |    round(CAST(sum(CAST(round(value - $u, 2)
         |        *round(value - $u, 2) AS DECIMAL(27,4))) AS DOUBLE)
         |      /CAST(count(*) AS DOUBLE)
         |      - round(CAST(sum(CAST(round(value - $u, 2)
         |          AS DECIMAL(18,2))) AS DOUBLE)
         |        /CAST(count(*) AS DOUBLE), 8)
         |        *round(CAST(sum(CAST(round(value - $u, 2)
         |          AS DECIMAL(18,2))) AS DOUBLE)
         |        /CAST(count(*) AS DOUBLE), 8), 8) AS var_excess
         |  FROM events WHERE value > $u) m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM ($rows) t ORDER BY u""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gumbel_fit" -> (gumbelFit _),
    "q_pacf2" -> (pacf2 _),
    "q_bowley_moors" -> (bowleyMoors _),
    "q_pot_gpd" -> (potGpd _))

  val oracle: Map[String, String] = Map(
    "q_gumbel_fit" -> gumbelFitOracle,
    "q_pacf2" -> pacf2Oracle,
    "q_bowley_moors" -> bowleyMoorsOracle,
    "q_pot_gpd" -> potGpdOracle)
}
