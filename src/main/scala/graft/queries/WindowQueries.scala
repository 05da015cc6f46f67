package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Window-function operators (SURVEY.md §2-B #25–#30) and the
  * batch-equivalent streaming window semantics (#47–#49).
  *
  * Scale notes: a window spec `partitionBy(k).orderBy(o)` plans a
  * single hash shuffle on k followed by a per-partition sort — the
  * same shape at 100 TB provided the partition key has enough
  * cardinality (o_custkey / user_id do; a GLOBAL window with no
  * partitionBy would serialize and is deliberately absent here).
  * Time windows (#47-49) use the SAME `window()`/`session_window()`
  * expressions Structured Streaming executes incrementally, so the
  * batch-graded semantics transfer verbatim to the streaming module.
  *
  * Determinism: every window ORDER BY includes a unique tie-break key
  * (D1); window sums are decimal (D2); rank ratios rounded (D2).
  */
object WindowQueries extends QueryFamily {

  /** #25 q_win_rank — row_number/rank/dense_rank per customer over
    * orders by price; unique (price, orderkey) order key. */
  def winRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** #26 q_win_topk — top-3 orders per customer: the windowed-filter
    * form Catalyst optimizes with a rank-limit pushdown
    * (WindowGroupLimit) so each partition keeps only 3 rows pre-sort. */
  def winTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** #27 q_win_lag — lag/lead with defaults over each user's event
    * timeline (D3 timestamps, event_id tie-break). */
  def winLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts2"), col("value"),
        lag(col("value"), 1, -1.0).over(w).as("prev_value"),
        lead(col("event_type"), 1, "none").over(w).as("next_type"))
      .orderBy(col("user_id"), col("ts2"), col("event_id"))
  }

  /** #28 q_win_running — running decimal sum per customer,
    * ROWS UNBOUNDED PRECEDING..CURRENT (order-exact via D2). */
  def winRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        dout(sum(dec(col("o_totalprice"))).over(w)).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** #29 q_win_range_frame — value-based RANGE frame (100 ids back)
    * on the integer event_id axis, exact decimal sums. A RANGE frame
    * is a difference of prefix sums: frame[id−100, id] = cum(id) −
    * cum(pred) where pred is the largest event_id ≤ id−101 present in
    * the type. So: inclusive prefix count/sum per type via the
    * partitioned distributed prefix
    * ([[graft.operators.PrefixOps.runningSums]] — parallel buckets,
    * never a window over the ~5-value event_type), then ONE backward
    * as-of self-join ([[graft.plans.AsOfJoinPlan]], the O(n+m)
    * merge-scan custom exec) fetches each row's predecessor prefix;
    * unmatched rows (frame starts at the beginning) subtract 0.
    * Decimal sums make both differences exact, so the values are
    * bit-identical to the window form's. */
  def winRangeFrame(s: SparkSession, d: String): DataFrame = {
    val cum = graft.operators.PrefixOps.runningSums(
      events(s, d).select(col("event_type"), col("event_id"), col("value")),
      col("event_id"), Seq(col("event_id")),
      Seq("cn" -> lit(1L), "cs" -> dec(col("value"))),
      partitionBy = Seq(col("event_type")))
    val leftDf = cum.select(col("event_type"), col("event_id"),
      col("cn"), col("cs"))
    val rightDf = cum.select(col("event_type").as("r_type"),
      col("event_id").as("r_id"), col("cn").as("p_cn"),
      col("cs").as("p_cs"))
    graft.plans.AsOfJoinPlan.asof(leftDf, rightDf,
        leftKeys = Seq(col("event_type")), rightKeys = Seq(col("r_type")),
        leftTime = col("event_id") - 101, rightTime = col("r_id"),
        rightTie = Seq(col("r_id")))
      .select(col("event_type"), col("event_id"),
        (col("cn") - coalesce(col("p_cn"), lit(0L))).as("n_in_range"),
        dout(col("cs") - coalesce(col("p_cs"),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(28, 4))))
          .as("sum_in_range"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** #30 q_win_analytic — ntile/percent_rank/cume_dist/first/last
    * with explicit full-partition frames for the value functions —
    * reconstructed scale-safe, since the partition key
    * (o_orderstatus) has ~3 values and a plain window would serialize
    * ~n/3 of orders per task:
    *  - rank machinery off the contracted (status, price) grid via
    *    the partitioned prefix
    *    ([[graft.operators.PrefixOps.groupedCumCounts]]): row number
    *    = cum − c (rows strictly below the price) + the rank within
    *    the price's tie group (window on the high-cardinality
    *    (status, price) pair — parallel);
    *  - ntile(4) from the closed-form
    *    [[graft.operators.PrefixOps.ntileFromRowNumber]];
    *    percent_rank = (rn−1)/(n−1) and cume_dist = rn/n — the order
    *    key (price, orderkey) is UNIQUE, so every row is its own peer
    *    group and both rank and peer-inclusive count collapse to the
    *    row number rn;
    *  - first/last over the full frame in (price, orderkey) order =
    *    the orderkey of the lexicographic min/max (price, orderkey)
    *    struct — one tiny per-status aggregate broadcast back. */
  def winAnalytic(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      o.select(col("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderstatus"), "o_totalprice")
    val ext = o.groupBy(col("o_orderstatus")).agg(
      min(struct(col("o_totalprice"), col("o_orderkey"))).as("lo"),
      max(struct(col("o_totalprice"), col("o_orderkey"))).as("hi"))
      .select(col("o_orderstatus"),
        col("lo").getField("o_orderkey").as("cheapest_key"),
        col("hi").getField("o_orderkey").as("priciest_key"))
    val wv = Window.partitionBy(col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
    o.join(grid, Seq("o_orderstatus", "o_totalprice"))
      .join(broadcast(ext), "o_orderstatus")
      .withColumn("rn", col("cum") - col("c") + row_number().over(wv))
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        graft.operators.PrefixOps.ntileFromRowNumber(col("rn"), col("n"), 4)
          .as("quartile"),
        r4(when(col("n") > 1,
            (col("rn") - 1).cast("double") /
              (col("n") - 1).cast("double"))
          .otherwise(lit(0.0))).as("pct_rank"),
        r4(col("rn").cast("double") / col("n").cast("double")).as("cume"),
        col("cheapest_key"), col("priciest_key"))
      .orderBy(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
  }

  /** #47 q_win_tumbling — 1-hour tumbling window per event_type: the
    * exact `window()` expression Structured Streaming aggregates
    * incrementally; batch expands it via Expand+filter. */
  def winTumbling(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts2"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  /** #48 q_win_sliding — 1-hour window sliding every 30 min: each
    * event lands in 2 windows (Expand ×2 — the generator fan-out). */
  def winSliding(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts2"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  /** #49 q_win_session — 5-min-gap session windows per user.
    * `session_window` is the same expression the streaming engine
    * executes with a state store; batch plans a sort + merge of
    * overlapping [ts, ts+gap) intervals per key. */
  def winSession(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts2"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_rank" -> (winRank _),
    "q_win_topk" -> (winTopk _),
    "q_win_lag" -> (winLag _),
    "q_win_running" -> (winRunning _),
    "q_win_range_frame" -> (winRangeFrame _),
    "q_win_analytic" -> (winAnalytic _),
    "q_win_tumbling" -> (winTumbling _),
    "q_win_sliding" -> (winSliding _),
    "q_win_session" -> (winSession _))

  val oracle: Map[String, String] = Map(
    "q_win_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_win_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_win_lag" ->
      """SELECT user_id, event_id, ts AS ts2, value,
        | LAG(value, 1, -1.0) OVER w AS prev_value,
        | LEAD(event_type, 1, 'none') OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_win_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_win_range_frame" ->
      """SELECT event_type, event_id,
        | COUNT(*) OVER w AS n_in_range,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_in_range
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY event_id
        |  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin,
    "q_win_analytic" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        | NTILE(4) OVER w AS quartile,
        | ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
        | ROUND(CUME_DIST() OVER w, 4) AS cume,
        | FIRST_VALUE(o_orderkey) OVER wf AS cheapest_key,
        | LAST_VALUE(o_orderkey) OVER wf AS priciest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin,
    "q_win_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "q_win_sliding" ->
      """SELECT epoch_ms(CAST((floor(epoch(ts)/1800)*1800
        |         - 1800 * shift) * 1000 AS BIGINT)) AS ws,
        |       event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events, (SELECT UNNEST([0, 1]) AS shift) s
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "q_win_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           < INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM events),
        |islands AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 5 MINUTE AS session_end, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM islands GROUP BY user_id, island
        |ORDER BY user_id, session_start""".stripMargin)
}
