package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #11: tail risk, seasonal structure, shrinkage
  * estimation, and privacy risk — the Hill tail-index over top-k
  * order statistics, additive seasonal decomposition, empirical-Bayes
  * rate shrinkage, and a k-anonymity audit.
  *
  * Scale notes (100 TB): the Hill estimator touches only the top-50
  * rows per type (row_number + filter plans a WindowGroupLimit — the
  * rank-limit pattern, rows reaching the window capped per
  * partition); seasonal decomposition runs on the per-(type, day)
  * contraction (≤ horizon-days rows per type) with the weekly
  * seasonal means broadcast back; EB shrinkage contracts users to
  * (hits, trials) pairs and broadcasts the two method-of-moments
  * prior scalars; the k-anonymity audit is one groupBy over the
  * quasi-identifier tuple and one over its sizes.
  *
  * Determinism: order statistics use a unique tiebreak; ln on
  * positive rounded ratios; prior parameters computed from
  * 6dp-rounded moments; every sum fixed-scale DECIMAL.
  */
object RiskStatsQueries extends QueryFamily {

  /** q_tail_index — Hill estimator of the right-tail exponent per
    * event_type: mean ln(x_i/x_50) over the 49 largest values
    * (row_number with a unique tiebreak ⇒ deterministic under ties),
    * alpha = 1/mean. Small alpha = heavy tail. */
  def tailIndex(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val top = events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 50)
    val ref = top.where(col("rn") === 50)
      .select(col("event_type"), col("value").as("x50"))
    top.where(col("rn") <= 49)
      .join(broadcast(ref), "event_type")
      .select(col("event_type"),
        round(log(col("value") / col("x50")), 8).as("lr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"),
        sum(col("lr").cast("decimal(20,8)")).as("slr"))
      .select(col("event_type"), col("k"),
        round(dout(col("slr")) / col("k"), 6).as("mean_lr"),
        round(col("k") / dout(col("slr")), 4).as("alpha"))
      .orderBy(col("event_type"))
  }

  val tailIndexOracle: String =
    """WITH ranked AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS rn
      |  FROM events),
      |top AS (SELECT * FROM ranked WHERE rn <= 50),
      |ref AS (SELECT event_type, value AS x50 FROM top WHERE rn = 50),
      |lr AS (SELECT t.event_type,
      |    round(ln(t.value / r.x50), 8) AS lr
      |  FROM top t JOIN ref r ON r.event_type = t.event_type
      |  WHERE t.rn <= 49)
      |SELECT event_type, count(*) AS k,
      |  round(CAST(sum(CAST(lr AS DECIMAL(20,8))) AS DOUBLE)/count(*), 6)
      |    AS mean_lr,
      |  round(count(*)/CAST(sum(CAST(lr AS DECIMAL(20,8))) AS DOUBLE), 4)
      |    AS alpha
      |FROM lr GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_seasonal_decomp — additive decomposition of the daily value
    * series per type: trend = centered 7-day moving average (full
    * windows only), weekly seasonal = day-name mean of the detrended
    * series (broadcast back), residual = the rest. The structure
    * behind anomaly baselines: flag when |resid| is large. */
  def seasonalDecomp(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(dsum(col("value")), 4).as("v"))
    val w7 = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("k", count(lit(1)).over(w7))
      .withColumn("trend",
        round(sum(col("v").cast("decimal(18,4)")).over(w7)
          .cast("double") / col("k"), 4))
      .where(col("k") === 7)
      .withColumn("dow", date_format(col("day"), "EEEE"))
      .withColumn("detr", round(col("v") - col("trend"), 4))
    val seasonal = trended.groupBy(col("t"), col("dow"))
      .agg(round(sum(col("detr").cast("decimal(18,4)")).cast("double") /
        count(lit(1)), 4).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("t", "dow"))
      .select(col("t"), col("day"), col("v"), col("trend"),
        col("seasonal"),
        round(col("detr") - col("seasonal"), 4).as("resid"))
      .orderBy(col("t"), col("day"))
  }

  val seasonalDecompOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |tr AS (SELECT t, day, v,
      |    count(*) OVER w AS k,
      |    round(CAST(sum(CAST(v AS DECIMAL(18,4))) OVER w AS DOUBLE) /
      |      count(*) OVER w, 4) AS trend
      |  FROM daily
      |  WINDOW w AS (PARTITION BY t ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |full7 AS (SELECT t, day, v, trend, dayname(day) AS dow,
      |    round(v - trend, 4) AS detr
      |  FROM tr WHERE k = 7),
      |seas AS (SELECT t, dow,
      |    round(CAST(sum(CAST(detr AS DECIMAL(18,4))) AS DOUBLE) /
      |      count(*), 4) AS seasonal
      |  FROM full7 GROUP BY 1, 2)
      |SELECT f.t, f.day, f.v, f.trend, s.seasonal,
      |  round(f.detr - s.seasonal, 4) AS resid
      |FROM full7 f JOIN seas s ON s.t = f.t AND s.dow = f.dow
      |ORDER BY f.t, f.day""".stripMargin

  /** q_eb_shrinkage — empirical-Bayes purchase-rate smoothing: per
    * user (purchases x, events n), Beta(α, β) prior from the
    * method-of-moments fit to the raw-rate distribution (uniform
    * fallback when the moment condition fails), posterior-mean rate
    * (x+α)/(n+α+β). The estimator behind every "small-sample rates
    * are noise" leaderboard fix. */
  def ebShrinkage(s: SparkSession, d: String): DataFrame = {
    val rates = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
      .withColumn("raw", round(col("x").cast("double") / col("n"), 6))
    val mom = rates.agg(
        count(lit(1)).as("u"),
        sum(col("raw").cast("decimal(18,6)")).cast("double").as("sr"),
        sum((col("raw") * col("raw")).cast("decimal(18,6)"))
          .cast("double").as("srr"))
      .select(col("u"),
        round(col("sr") / col("u"), 6).as("m"),
        round((col("srr") - col("sr") * col("sr") / col("u")) / col("u"), 6)
          .as("v"))
      .withColumn("c",
        when(col("v") > 0 && col("m") * (lit(1.0) - col("m")) / col("v") > 1,
          round(col("m") * (lit(1.0) - col("m")) / col("v") - 1, 6))
          .otherwise(lit(2.0)))
      .select(round(col("m") * col("c"), 6).as("alpha"),
        round((lit(1.0) - col("m")) * col("c"), 6).as("beta"))
    rates.crossJoin(broadcast(mom))
      .select(col("user_id"), col("n"), col("x"), col("raw"),
        col("alpha"), col("beta"),
        round((col("x") + col("alpha")) /
          (col("n") + col("alpha") + col("beta")), 6).as("shrunk"))
      .orderBy(col("user_id"))
  }

  val ebShrinkageOracle: String =
    """WITH rates AS (SELECT user_id, count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    round(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) AS DOUBLE)/count(*), 6) AS raw
      |  FROM events GROUP BY 1),
      |sums AS (SELECT count(*) AS u,
      |    CAST(sum(CAST(raw AS DECIMAL(18,6))) AS DOUBLE) AS sr,
      |    CAST(sum(CAST(raw*raw AS DECIMAL(18,6))) AS DOUBLE) AS srr
      |  FROM rates),
      |mom0 AS (SELECT u, round(sr/u, 6) AS m,
      |    round((srr - sr*sr/u)/u, 6) AS v
      |  FROM sums),
      |mom AS (SELECT
      |    round(m * c, 6) AS alpha, round((1.0 - m) * c, 6) AS beta
      |  FROM (SELECT m, v,
      |      CASE WHEN v > 0 AND m*(1.0 - m)/v > 1
      |        THEN round(m*(1.0 - m)/v - 1, 6) ELSE 2.0 END AS c
      |    FROM mom0))
      |SELECT r.user_id, r.n, r.x, r.raw, mom.alpha, mom.beta,
      |  round((r.x + mom.alpha)/(r.n + mom.alpha + mom.beta), 6) AS shrunk
      |FROM rates r CROSS JOIN mom
      |ORDER BY r.user_id""".stripMargin

  /** q_k_anonymity — privacy-risk audit over the quasi-identifier
    * tuple (market segment, nation, 1000-wide balance band): per
    * segment, the equivalence-class count, the classes smaller than
    * k=5, the customers inside them, and their share — the
    * re-identification exposure a release review reads first. */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val classes = customer(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"))
    classes.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("small_classes"),
        sum(col("sz")).as("n_customers"),
        sum(when(col("sz") < 5, col("sz")).otherwise(lit(0L)))
          .as("at_risk"))
      .select(col("c_mktsegment"), col("n_classes"), col("small_classes"),
        col("n_customers"), col("at_risk"),
        round(col("at_risk").cast("double") / col("n_customers"), 6)
          .as("risk_share"))
      .orderBy(col("c_mktsegment"))
  }

  val kAnonymityOracle: String =
    """WITH classes AS (SELECT c_mktsegment, c_nationkey,
      |    CAST(floor(c_acctbal/1000.0) AS BIGINT) AS bal_band,
      |    count(*) AS sz
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, count(*) AS n_classes,
      |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS small_classes,
      |  CAST(sum(sz) AS BIGINT) AS n_customers,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
      |    AS at_risk,
      |  round(CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE) /
      |    sum(sz), 6) AS risk_share
      |FROM classes GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tail_index" -> (tailIndex _),
    "q_seasonal_decomp" -> (seasonalDecomp _),
    "q_eb_shrinkage" -> (ebShrinkage _),
    "q_k_anonymity" -> (kAnonymity _))

  val oracle: Map[String, String] = Map(
    "q_tail_index" -> tailIndexOracle,
    "q_seasonal_decomp" -> seasonalDecompOracle,
    "q_eb_shrinkage" -> ebShrinkageOracle,
    "q_k_anonymity" -> kAnonymityOracle)
}
