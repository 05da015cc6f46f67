package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #9: audience overlap, rolling correlation,
  * cohort LTV curves, and RSI — the cross-segment / indicator
  * operators rounding out the time-series family.
  *
  * Scale notes (100 TB): the overlap matrix contracts to distinct
  * (type, user) pairs FIRST and self-joins on the user key (the pair
  * space is |types|² — tiny — but the work distributes over the user
  * key); rolling correlation and RSI run on per-day contractions
  * (≤ horizon-days rows per series — documented bounded domains);
  * the LTV curve's cumulative window partitions by cohort
  * (parallel across cohorts, ≤ horizon-weeks rows each).
  *
  * Determinism: set sizes and counts are exact; all rolling sums are
  * fixed-scale DECIMAL; ratios rounded at fixed points; RSI's
  * zero-loss guard avoids the unbounded RS ratio entirely.
  */
object OverlapSeriesQueries extends QueryFamily {

  /** q_user_overlap — audience overlap between event types: for each
    * unordered type pair, the intersection size and Jaccard of their
    * user sets (distinct-pair contraction, then a user-keyed
    * self-join — never a users×users product). */
  def userOverlap(s: SparkSession, d: String): DataFrame = {
    // distinct (type, user) frame feeds the size frame + both
    // self-join legs — materialize once (round-8 scan gate: was 4
    // events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val tu = events(s, d)
      .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      .truncatedCheckpoint()
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("t").as("t1"), col("n").as("n1"))), "t1")
      .join(broadcast(sizes.select(col("t").as("t2"), col("n").as("n2"))), "t2")
      .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")), 6).as("jaccard"))
      .orderBy(col("t1"), col("t2"))
  }

  val userOverlapOracle: String =
    """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
      |  FROM events),
      |sizes AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
      |inter AS (SELECT a.t AS t1, b.t AS t2, count(*) AS n_inter
      |  FROM tu a JOIN tu b ON b.u = a.u AND a.t < b.t
      |  GROUP BY 1, 2)
      |SELECT i.t1, i.t2, s1.n AS n1, s2.n AS n2, i.n_inter,
      |  round(CAST(i.n_inter AS DOUBLE) /
      |    (s1.n + s2.n - i.n_inter), 6) AS jaccard
      |FROM inter i
      |JOIN sizes s1 ON s1.t = i.t1 JOIN sizes s2 ON s2.t = i.t2
      |ORDER BY i.t1, i.t2""".stripMargin

  /** q_rolling_corr — 7-day rolling Pearson correlation between the
    * daily click and purchase value sums: the co-movement indicator
    * over a ≤horizon-days global grid (documented bounded domain —
    * the contraction happens before the window). Null until a full
    * 7-day window is available. */
  def rollingCorr(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(
        round(dsum(when(col("event_type") === "click", col("value"))
          .otherwise(lit(0.0))), 4).as("x"),
        round(dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))), 4).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val rolled = daily
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum(dec(col("x"))).over(w))
      .withColumn("sy", sum(dec(col("y"))).over(w))
      .withColumn("sxx", sum(dec(col("x") * col("x"))).over(w))
      .withColumn("syy", sum(dec(col("y") * col("y"))).over(w))
      .withColumn("sxy", sum(dec(col("x") * col("y"))).over(w))
    rolled.select(col("day"), col("x"), col("y"),
        when(col("k") < 7, lit(null).cast("double"))
          .otherwise(round(
            dout(col("k") * col("sxy") - col("sx") * col("sy")) /
              sqrt(dout(col("k") * col("sxx") - col("sx") * col("sx")) *
                dout(col("k") * col("syy") - col("sy") * col("sy"))), 6))
          .as("corr7"))
      .orderBy(col("day"))
  }

  val rollingCorrOracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value
      |      ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE), 4) AS x,
      |    round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
      |      ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE), 4) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |r AS (SELECT day, x, y,
      |    count(*) OVER w AS k,
      |    sum(CAST(x AS DECIMAL(18,4))) OVER w AS sx,
      |    sum(CAST(y AS DECIMAL(18,4))) OVER w AS sy,
      |    sum(CAST(x*x AS DECIMAL(18,4))) OVER w AS sxx,
      |    sum(CAST(y*y AS DECIMAL(18,4))) OVER w AS syy,
      |    sum(CAST(x*y AS DECIMAL(18,4))) OVER w AS sxy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT day, x, y,
      |  CASE WHEN k < 7 THEN NULL
      |    ELSE round(CAST(k*sxy - sx*sy AS DOUBLE) /
      |      sqrt(CAST(k*sxx - sx*sx AS DOUBLE) *
      |        CAST(k*syy - sy*sy AS DOUBLE)), 6) END AS corr7
      |FROM r ORDER BY day""".stripMargin

  /** q_cohort_ltv — lifetime-value curve by signup cohort: users
    * grouped by first-event week, then the per-user-average
    * cumulative value at each week of age (cumulative window per
    * cohort — parallel across cohorts, ≤ horizon-weeks rows each).
    * The cohort size is pinned at age 0 (denominator stays the
    * cohort, not the survivors — the standard LTV convention). */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val firstWeek = events(s, d).groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts2"))).cast("date").as("cohort"))
    val aged = events(s, d).join(firstWeek, "user_id")
      .withColumn("age_week",
        floor(datediff(to_date(col("ts2")), col("cohort")) / 7)
          .cast("int"))
    val cohortSize = firstWeek.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"))
    val weekly = aged.groupBy(col("cohort"), col("age_week"))
      .agg(round(dsum(col("value")), 4).as("week_value"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, 0)
    weekly.join(broadcast(cohortSize), "cohort")
      .withColumn("cum_value",
        round(sum(col("week_value").cast("decimal(18,4)")).over(w)
          .cast("double"), 4))
      .select(col("cohort"), col("age_week"), col("n_users"),
        col("week_value"), col("cum_value"),
        round(col("cum_value") / col("n_users"), 4).as("ltv"))
      .orderBy(col("cohort"), col("age_week"))
  }

  val cohortLtvOracle: String =
    """WITH fw AS (SELECT user_id,
      |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY 1),
      |aged AS (SELECT e.user_id, fw.cohort, e.value,
      |    CAST(floor(date_diff('day', fw.cohort, CAST(e.ts AS DATE)) / 7)
      |      AS INTEGER) AS age_week
      |  FROM events e JOIN fw ON fw.user_id = e.user_id),
      |cs AS (SELECT cohort, count(*) AS n_users FROM fw GROUP BY 1),
      |weekly AS (SELECT cohort, age_week,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS week_value
      |  FROM aged GROUP BY 1, 2),
      |c AS (SELECT w.cohort, w.age_week, cs.n_users, w.week_value,
      |    round(CAST(sum(CAST(w.week_value AS DECIMAL(18,4)))
      |      OVER (PARTITION BY w.cohort ORDER BY w.age_week
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE), 4) AS cum_value
      |  FROM weekly w JOIN cs ON cs.cohort = w.cohort)
      |SELECT cohort, age_week, n_users, week_value, cum_value,
      |  round(cum_value / n_users, 4) AS ltv
      |FROM c ORDER BY cohort, age_week""".stripMargin

  /** q_rsi — 14-day relative-strength index of the daily value total
    * per event_type (simple-average RSI): gains/losses from the lag
    * delta, 14-row rolling decimal means, RSI = 100·ag/(ag+al) — the
    * algebraic form that needs no unbounded RS ratio and handles the
    * all-gain window exactly. */
  def rsi(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(dsum(col("value")), 4).as("v"))
    val wo = Window.partitionBy(col("t")).orderBy(col("day"))
    val w14 = wo.rowsBetween(-13, 0)
    val delta = daily
      .withColumn("prev", lag(col("v"), 1).over(wo))
      .where(col("prev").isNotNull)
      .withColumn("gain",
        round(greatest(col("v") - col("prev"), lit(0.0)), 4))
      .withColumn("loss",
        round(greatest(col("prev") - col("v"), lit(0.0)), 4))
    delta
      .withColumn("k", count(lit(1)).over(w14))
      .withColumn("ag", sum(dec(col("gain"))).over(w14))
      .withColumn("al", sum(dec(col("loss"))).over(w14))
      .where(col("k") === 14)
      .select(col("t"), col("day"),
        round(lit(100.0) * dout(col("ag")) /
          (dout(col("ag")) + dout(col("al"))), 4).as("rsi"))
      .orderBy(col("t"), col("day"))
  }

  val rsiOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |d AS (SELECT t, day, v,
      |    lag(v, 1) OVER (PARTITION BY t ORDER BY day) AS prev
      |  FROM daily),
      |g AS (SELECT t, day,
      |    round(greatest(v - prev, 0.0), 4) AS gain,
      |    round(greatest(prev - v, 0.0), 4) AS loss
      |  FROM d WHERE prev IS NOT NULL),
      |r AS (SELECT t, day,
      |    count(*) OVER w AS k,
      |    sum(CAST(gain AS DECIMAL(18,4))) OVER w AS ag,
      |    sum(CAST(loss AS DECIMAL(18,4))) OVER w AS al
      |  FROM g
      |  WINDOW w AS (PARTITION BY t ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT t, day,
      |  round(100.0 * CAST(ag AS DOUBLE) /
      |    (CAST(ag AS DOUBLE) + CAST(al AS DOUBLE)), 4) AS rsi
      |FROM r WHERE k = 14 ORDER BY t, day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_user_overlap" -> (userOverlap _),
    "q_rolling_corr" -> (rollingCorr _),
    "q_cohort_ltv" -> (cohortLtv _),
    "q_rsi" -> (rsi _))

  val oracle: Map[String, String] = Map(
    "q_user_overlap" -> userOverlapOracle,
    "q_rolling_corr" -> rollingCorrOracle,
    "q_cohort_ltv" -> cohortLtvOracle,
    "q_rsi" -> rsiOracle)
}
