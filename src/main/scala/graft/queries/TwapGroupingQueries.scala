package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #15: time-weighted averaging (TWAP — the
  * irregular-sampling mean every telemetry/market pipeline needs
  * instead of the naive row mean) and explicit grouping_id()
  * disambiguation over CUBE.
  *
  * Scale notes (100 TB): TWAP is a per-user ordered window (lead) +
  * keyed DECIMAL aggregate; grouping_id is the standard Expand-based
  * cube, partial-aggregated map-side.
  */
object TwapGroupingQueries extends QueryFamily {

  /** q_twap — time-weighted average of `value` per user: each
    * observation weighted by the microseconds it remained current
    * (until the next same-user event); the open-ended last
    * observation carries no weight. Exact integer µs × 2dp-rounded
    * value products, DECIMAL-summed; the final ratio uses the
    * D6-safe DECIMAL-cast pairing. */
  def twap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val spans = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"), col("value"))
      .withColumn("dt_us",
        unix_micros(lead(col("ts2"), 1).over(w)) - unix_micros(col("ts2")))
      .filter(col("dt_us").isNotNull)
    spans.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("dt_us")).as("total_us"),
        sum((round(col("value"), 2) * col("dt_us").cast("double"))
          .cast("decimal(28,6)")).as("wsum"))
      .select(col("user_id"), col("n_spans"), col("total_us"),
        (col("wsum").cast("double") / col("total_us").cast("double"))
          .cast("decimal(18,4)").cast("double").as("twap"))
      .orderBy(col("user_id"))
  }

  val twapOracle: String =
    """WITH s AS (SELECT user_id, value,
      |    date_diff('microsecond', ts, lead(ts, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id)) AS dt_us
      |  FROM events),
      |f AS (SELECT * FROM s WHERE dt_us IS NOT NULL)
      |SELECT user_id, count(*) AS n_spans, CAST(sum(dt_us) AS BIGINT) AS total_us,
      |  CAST(CAST(CAST(sum(CAST(round(value, 2) * CAST(dt_us AS DOUBLE)
      |      AS DECIMAL(28,6))) AS DOUBLE) /
      |    CAST(sum(dt_us) AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) AS twap
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_grouping_id — CUBE over (status, priority) with the explicit
    * grouping_id() bitmask and per-column grouping() flags — the
    * disambiguator that separates "NULL because subtotal" from "NULL
    * in the data" (D1-ordered by the bitmask then keys). */
  def groupingId(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping_id().as("gid"),
        grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_prio"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  val groupingIdOracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_prio
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_twap" -> (twap _),
    "q_grouping_id" -> (groupingId _))

  val oracle: Map[String, String] = Map(
    "q_twap" -> twapOracle,
    "q_grouping_id" -> groupingIdOracle)
}
