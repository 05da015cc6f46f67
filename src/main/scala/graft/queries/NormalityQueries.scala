package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #30: distribution-shape tests — Grubbs' extreme-
  * outlier statistic and the Jarque–Bera normality test, per event
  * type. Together with q_ks_test/q_runs_test/q_anova these complete
  * the classical testing shelf: location (t/ANOVA), distribution
  * (KS), randomness (runs), trend (Mann–Kendall), outliers (Grubbs),
  * normality (JB).
  *
  * Scale notes (100 TB): both are moment contractions — JB needs one
  * keyed pass accumulating Σx…Σx⁴ in DECIMAL; Grubbs is the same
  * one-pass moment aggregate plus a broadcast join back for the
  * per-row deviation and a max(struct) reduction (no windows, no
  * sorts).
  *
  * Determinism: raw-moment sums are exact DECIMAL; the per-row
  * deviation |x−mean| is one IEEE subtraction of identical doubles on
  * both engines, so the max(struct) argmax is bit-stable; outputs
  * rounded.
  */
object NormalityQueries extends QueryFamily {

  /** q_grubbs — Grubbs' statistic per event type: G =
    * max|x−x̄|/s with the offending value alongside — the single-
    * outlier test a data-quality gate runs per metric. */
  def grubbs(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type").as("t"), col("value"))
    val m = e.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sx"),
      sum((col("value") * col("value")).cast("decimal(27,6)")).cast("double")
        .as("sxx"))
    val withStats = m.select(col("t"), col("n"),
      (col("sx") / col("n").cast("double")).as("mean"),
      sqrt((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) /
        (col("n").cast("double") - 1.0)).as("sd"))
    e.join(broadcast(withStats), "t")
      .select(col("t"), col("n"), col("mean"), col("sd"),
        abs(col("value") - col("mean")).as("dev"), col("value"))
      .groupBy(col("t"))
      .agg(max(col("n")).as("n"), max(col("mean")).as("mean_d"),
        max(col("sd")).as("sd_d"),
        max(struct(col("dev"), col("value"))).as("m"))
      .select(col("t"), col("n"),
        round(col("mean_d"), 4).as("mean"),
        round(col("sd_d"), 4).as("sd"),
        round(col("m.dev") / col("sd_d"), 6).as("g_stat"),
        round(col("m.value"), 2).as("outlier_value"))
      .orderBy(col("t"))
  }

  val grubbsOracle: String =
    """WITH m AS (SELECT event_type AS t, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value*value AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      |  FROM events GROUP BY 1),
      |st AS (SELECT t, n, sx/CAST(n AS DOUBLE) AS mean,
      |    sqrt((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE)-1.0))
      |      AS sd
      |  FROM m),
      |dev AS (SELECT st.t, st.n, st.mean, st.sd,
      |    abs(e.value - st.mean) AS dev, e.value
      |  FROM events e JOIN st ON st.t = e.event_type)
      |SELECT t, max(n) AS n,
      |  round(max(mean), 4) AS mean,
      |  round(max(sd), 4) AS sd,
      |  round(max((dev, value))[1] / max(sd), 6) AS g_stat,
      |  round(max((dev, value))[2], 2) AS outlier_value
      |FROM dev GROUP BY t ORDER BY t""".stripMargin

  /** q_jarque_bera — JB normality statistic per event type from one
    * raw-moment pass (Σx…Σx⁴): skewness, excess kurtosis, JB =
    * n/6·(S² + K²/4); large JB rejects normality. */
  def jarqueBera(s: SparkSession, d: String): DataFrame = {
    val x = col("value")
    val g = events(s, d).select(col("event_type").as("t"), x)
      .groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(18,6)")).cast("double").as("s1"),
        sum((x * x).cast("decimal(27,6)")).cast("double").as("s2"),
        sum((x * x * x).cast("decimal(30,6)")).cast("double").as("s3"),
        sum((x * x * x * x).cast("decimal(33,6)")).cast("double").as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1") / nD
    val m2 = col("s2") / nD - mu * mu
    val m3 = col("s3") / nD - lit(3.0) * mu * col("s2") / nD +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4") / nD - lit(4.0) * mu * col("s3") / nD +
      lit(6.0) * mu * mu * col("s2") / nD - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / sqrt(m2 * m2 * m2)
    val kurt = m4 / (m2 * m2) - 3.0
    g.select(col("t"), col("n"),
        round(skew, 6).as("skewness"),
        round(kurt, 6).as("excess_kurtosis"),
        round(nD / 6.0 * (skew * skew + kurt * kurt / 4.0), 4).as("jb_stat"))
      .orderBy(col("t"))
  }

  val jarqueBeraOracle: String =
    """WITH g AS (SELECT event_type AS t, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(value*value AS DECIMAL(27,6))) AS DOUBLE) AS s2,
      |    CAST(sum(CAST(value*value*value AS DECIMAL(30,6))) AS DOUBLE) AS s3,
      |    CAST(sum(CAST(value*value*value*value AS DECIMAL(33,6))) AS DOUBLE) AS s4
      |  FROM events GROUP BY 1),
      |c AS (SELECT t, n,
      |    s1/CAST(n AS DOUBLE) AS mu,
      |    s2/CAST(n AS DOUBLE) - (s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m2,
      |    s3/CAST(n AS DOUBLE) - 3.0*(s1/CAST(n AS DOUBLE))*s2/CAST(n AS DOUBLE)
      |      + 2.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m3,
      |    s4/CAST(n AS DOUBLE) - 4.0*(s1/CAST(n AS DOUBLE))*s3/CAST(n AS DOUBLE)
      |      + 6.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))*s2/CAST(n AS DOUBLE)
      |      - 3.0*(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE))
      |        *(s1/CAST(n AS DOUBLE))*(s1/CAST(n AS DOUBLE)) AS m4
      |  FROM g)
      |SELECT t, n,
      |  round(m3/sqrt(m2*m2*m2), 6) AS skewness,
      |  round(m4/(m2*m2) - 3.0, 6) AS excess_kurtosis,
      |  round(CAST(n AS DOUBLE)/6.0 *
      |    ((m3/sqrt(m2*m2*m2))*(m3/sqrt(m2*m2*m2)) +
      |     (m4/(m2*m2) - 3.0)*(m4/(m2*m2) - 3.0)/4.0), 4) AS jb_stat
      |FROM c ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grubbs" -> (grubbs _),
    "q_jarque_bera" -> (jarqueBera _))

  val oracle: Map[String, String] = Map(
    "q_grubbs" -> grubbsOracle,
    "q_jarque_bera" -> jarqueBeraOracle)
}
