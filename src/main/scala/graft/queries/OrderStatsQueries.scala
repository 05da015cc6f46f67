package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.PrefixOps

/** Round-4 widening: exact global order statistics WITHOUT a global
  * sort — the flagship application of the two-phase distributed
  * prefix machinery ([[graft.operators.PrefixOps]]) introduced while
  * de-funneling the round-3 global-window queries, plus a
  * time-decayed engagement aggregate.
  *
  * Scale notes (100 TB): a textbook exact median needs a full sort —
  * O(n log n) through a range exchange — or an iterative
  * median-of-medians selection. Contracting to per-distinct-value
  * counts first (one keyed shuffle, map-side combinable) and taking a
  * distributed prefix sum over the contracted domain gives EXACT
  * percentile_disc quantiles in two shuffles, both fully parallel;
  * the quantile pick is then a 1-row aggregate. The same shape yields
  * the weighted median. Decay scoring is one keyed aggregate plus a
  * broadcast 1-row horizon.
  *
  * Determinism: quantiles return actual data values (no
  * interpolation), so no float discipline is needed beyond identical
  * predicates; decay terms are 8dp-rounded DECIMAL before the sum
  * (SURVEY.md D2).
  */
object OrderStatsQueries extends QueryFamily {

  /** q_median_global — exact global quartiles (percentile_disc
    * semantics: the smallest value whose cumulative count reaches
    * q·n) of `events.value`, computed by per-value contraction + a
    * distributed prefix sum — no global sort, no single-partition
    * window. */
  def medianGlobal(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).groupBy(col("value"))
      .agg(count(lit(1)).as("cnt"))
    val cum = PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")), Seq("cum" -> col("cnt")))
    val n = events(s, d).agg(count(lit(1)).as("n_rows"))
    def pick(q: Double) =
      min(when(col("cum").cast("double") >=
        lit(q) * col("n_rows").cast("double"), col("value")))
    cum.crossJoin(broadcast(n))
      .agg(max(col("n_rows")).as("n_rows"),
        pick(0.25).as("q1"), pick(0.5).as("median"), pick(0.75).as("q3"))
  }

  val medianGlobalOracle: String =
    """SELECT count(*) AS n_rows,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS median,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS q3
      |FROM events""".stripMargin

  /** q_weighted_median — exact quantity-weighted median of lineitem
    * extended price: the smallest price whose cumulative quantity
    * weight reaches half the total. Same contracted-domain prefix
    * shape as [[medianGlobal]]; quantities are integral doubles, cast
    * to BIGINT so every sum is exact in both engines. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    val byVal = lineitem(s, d).groupBy(col("l_extendedprice").as("v"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val cum = PrefixOps.runningSums(byVal,
      col("v"), Seq(col("v")), Seq("cw" -> col("w")))
    val tot = lineitem(s, d)
      .agg(sum(col("l_quantity").cast("long")).as("total_weight"))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("total_weight")).as("total_weight"),
        min(when(col("cw").cast("double") >=
          col("total_weight").cast("double") / 2.0, col("v"))).as("w_median"))
  }

  val weightedMedianOracle: String =
    """WITH g AS (SELECT l_extendedprice AS v,
      |    sum(CAST(l_quantity AS BIGINT)) AS w
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT v, sum(w) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM g),
      |t AS (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |    AS total_weight
      |  FROM lineitem)
      |SELECT t.total_weight AS total_weight,
      |  min(CASE WHEN CAST(cw AS DOUBLE) >=
      |    CAST(t.total_weight AS DOUBLE)/2.0 THEN v END) AS w_median
      |FROM c CROSS JOIN t GROUP BY t.total_weight""".stripMargin

  /** q_decay_sum — exponentially time-decayed engagement score per
    * user: Σ value·2^(−age_days), age measured against the broadcast
    * corpus horizon; half-life = 1 day. The freshness-weighted
    * activity score of feed ranking / user-value models. Per-term
    * 8dp-rounded DECIMAL before the keyed sum (order-free). */
  def decaySum(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("value"),
      unix_micros(col("ts2")).as("us"))
    val horizon = e.agg(max(col("us")).as("h_us"))
    val term = round(col("value") * pow(lit(2.0),
        -((col("h_us") - col("us")).cast("double") / lit(86400000000.0))), 8)
      .cast("decimal(20,8)")
    e.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(term).as("decayed_d"))
      .select(col("user_id"), col("n_events"),
        round(col("decayed_d").cast("double"), 4).as("decayed_score"))
      .orderBy(col("user_id"))
  }

  val decaySumOracle: String =
    """WITH e AS (SELECT user_id, value, epoch_us(ts) AS us
      |  FROM events),
      |h AS (SELECT max(us) AS h_us FROM e)
      |SELECT user_id, count(*) AS n_events,
      |  round(CAST(sum(CAST(round(value * power(2.0,
      |      -(CAST(h.h_us - us AS DOUBLE)/86400000000.0)), 8)
      |    AS DECIMAL(20,8))) AS DOUBLE), 4) AS decayed_score
      |FROM e CROSS JOIN h
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_median_global" -> (medianGlobal _),
    "q_weighted_median" -> (weightedMedian _),
    "q_decay_sum" -> (decaySum _))

  val oracle: Map[String, String] = Map(
    "q_median_global" -> medianGlobalOracle,
    "q_weighted_median" -> weightedMedianOracle,
    "q_decay_sum" -> decaySumOracle)
}
