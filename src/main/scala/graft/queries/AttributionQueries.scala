package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #14: marketing-science event attribution and
  * Markov behavior modeling — last-touch credit assignment and the
  * row-normalized event-transition matrix.
  *
  * Scale notes (100 TB): attribution is a single per-user ordered
  * window (IGNORE NULLS running last — O(1) state per row); the
  * transition matrix is a bounded-alphabet aggregate (|types|² rows
  * out) over lead() bigrams on the same window.
  */
object AttributionQueries extends QueryFamily {

  /** q_attribution — last-touch attribution: each purchase credits
    * the latest strictly-preceding non-purchase event of the same
    * user (running IGNORE-NULLS last over a frame ending 1 row
    * before current); purchases with no prior touch credit
    * '(direct)'. Output: credited touches per channel with share. */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val credited = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"), col("event_type"))
      .withColumn("last_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("last_touch"), lit("(direct)")).as("channel"))
    // total purchases as a broadcast 1-row aggregate (no global window)
    val tot = credited.agg(count(lit(1)).as("tot"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(tot))
      .withColumn("share",
        round(col("n_purchases").cast("double") / col("tot").cast("double"), 4))
      .drop("tot")
      .orderBy(col("channel"))
  }

  val attributionOracle: String =
    """WITH c AS (SELECT event_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
      |  FROM events),
      |p AS (SELECT COALESCE(last_touch, '(direct)') AS channel FROM c
      |  WHERE event_type = 'purchase'),
      |g AS (SELECT channel, count(*) AS n_purchases FROM p GROUP BY 1)
      |SELECT channel, n_purchases,
      |  round(CAST(n_purchases AS DOUBLE) /
      |    CAST(sum(n_purchases) OVER () AS DOUBLE), 4) AS share
      |FROM g ORDER BY channel""".stripMargin

  /** q_markov — row-normalized event transition matrix: P(next|cur)
    * over consecutive same-user events, with each row's most likely
    * successor ranked — the behavior model driving next-event
    * prediction and Markov attribution. Counts exact; probabilities
    * are exact-count ratios rounded identically. */
  def markov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val bigrams = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    val rowTot = sum(col("n")).over(Window.partitionBy(col("cur")))
    bigrams
      .withColumn("p", round(col("n").cast("double") / rowTot.cast("double"), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cur")).orderBy(col("n").desc, col("nxt"))))
      .orderBy(col("cur"), col("rk"))
  }

  val markovOracle: String =
    """WITH b AS (SELECT event_type AS cur,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |g AS (SELECT cur, nxt, count(*) AS n FROM b
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
      |SELECT cur, nxt, n,
      |  round(CAST(n AS DOUBLE) /
      |    CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 4) AS p,
      |  row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS rk
      |FROM g ORDER BY cur, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution" -> (attribution _),
    "q_markov" -> (markov _))

  val oracle: Map[String, String] = Map(
    "q_attribution" -> attributionOracle,
    "q_markov" -> markovOracle)
}
