package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.Tables._

/** Round-3 widening #11: forward-looking window frames, the calendar
  * scalar surface (ISO week / quarter / week-start / month-end),
  * receivables-style aging buckets, and 3-step user-path mining.
  *
  * Scale notes (100 TB): forward frames and paths are bounded-frame
  * windows on the natural user partition; date parts are codegen'd
  * projections; aging is one keyed aggregate (|status×bucket| rows
  * out) after a broadcast of the 1-row reference date.
  */
object CalendarPathQueries extends QueryFamily {

  /** q_win_forward — forward-looking bounded frame: for each event,
    * the count and DECIMAL-exact sum of the NEXT three same-user
    * event values (ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) — the
    * "what happens next" feature window that backward-only frames
    * can't express. */
  def winForward(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id")).rowsBetween(1, 3)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      .withColumn("nxt_n", count(lit(1)).over(w))
      .withColumn("nxt_sum",
        coalesce(sum(col("value").cast("decimal(18,4)")).over(w),
          lit(BigDecimal(0)).cast("decimal(18,4)")).cast("double"))
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
        col("nxt_n"), round(col("nxt_sum"), 4).as("nxt_sum"))
      .orderBy(col("event_id"))
  }

  val winForwardOracle: String =
    """SELECT event_id, user_id, round(value, 2) AS value,
      |  count(*) OVER w AS nxt_n,
      |  round(CAST(COALESCE(sum(CAST(value AS DECIMAL(18,4))) OVER w,
      |    CAST(0 AS DECIMAL(18,4))) AS DOUBLE), 4) AS nxt_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
      |ORDER BY event_id""".stripMargin

  /** q_date_parts — calendar scalar surface: quarter, ISO week,
    * day-of-year, ISO week-start (date_trunc week = Monday in both
    * engines), month-end, and days-remaining-in-month. */
  def dateParts(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("d"),
      quarter(col("o_orderdate")).as("qtr"),
      weekofyear(col("o_orderdate")).as("iso_week"),
      dayofyear(col("o_orderdate")).as("doy"),
      date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
      last_day(col("o_orderdate")).as("month_end"),
      datediff(last_day(col("o_orderdate")), col("o_orderdate").cast("date"))
        .as("days_left_in_month"))
      .orderBy(col("o_orderkey"))

  val datePartsOracle: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS d,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
      |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |    last_day(CAST(o_orderdate AS DATE))) AS INT) AS days_left_in_month
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q_age_buckets — receivables aging: days from each order to the
    * corpus max date, bucketed 0-30 / 31-90 / 91-365 / 365+, counts
    * and DECIMAL-exact totals per (status, bucket). */
  def ageBuckets(s: SparkSession, d: String): DataFrame = {
    // corpus horizon as a broadcast 1-row aggregate — NOT a
    // partition-less window over the raw fact table
    val refDate = orders(s, d).agg(max(col("o_orderdate")).as("ref_max"))
    val age = datediff(col("ref"), col("o_orderdate").cast("date"))
    orders(s, d)
      .crossJoin(broadcast(refDate))
      .withColumn("ref", col("ref_max").cast("date"))
      .withColumn("bucket",
        when(age <= 30, "a_0_30").when(age <= 90, "b_31_90")
          .when(age <= 365, "c_91_365").otherwise("d_over_365"))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"), col("bucket"))
  }

  val ageBucketsOracle: String =
    """WITH t AS (SELECT o_orderstatus, o_totalprice,
      |    date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(max(o_orderdate) OVER () AS DATE)) AS age
      |  FROM orders)
      |SELECT o_orderstatus,
      |  CASE WHEN age <= 30 THEN 'a_0_30' WHEN age <= 90 THEN 'b_31_90'
      |    WHEN age <= 365 THEN 'c_91_365' ELSE 'd_over_365' END AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_user_path — 3-step behavioral paths: the 10 most frequent
    * event-type trigrams across all user timelines (lead×2 over the
    * user window — bounded state), ties broken by path text. The
    * 3-step extension of q_seq_adjacent's transition bigrams. */
  def userPath(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val paths = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  val userPathOracle: String =
    """WITH p AS (SELECT
      |    event_type || '>' || lead(event_type, 1) OVER w || '>' ||
      |      lead(event_type, 2) OVER w AS path,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT path, count(*) AS n FROM p WHERE e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_forward" -> (winForward _),
    "q_date_parts" -> (dateParts _),
    "q_age_buckets" -> (ageBuckets _),
    "q_user_path" -> (userPath _))

  val oracle: Map[String, String] = Map(
    "q_win_forward" -> winForwardOracle,
    "q_date_parts" -> datePartsOracle,
    "q_age_buckets" -> ageBucketsOracle,
    "q_user_path" -> userPathOracle)
}
