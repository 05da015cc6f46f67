package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #32: process-mining analytics — fulfillment
  * latency distributions, the order-backlog (work-in-progress) curve,
  * and per-state transition entropy (how predictable the next step of
  * a user journey is).
  *
  * Scale notes (100 TB): latency is a keyed join + per-priority
  * window median on a unique total order; the backlog sweep
  * contracts ±1 endpoint deltas to the calendar-day domain FIRST and
  * runs the running sum through the distributed prefix operator
  * ([[graft.operators.PrefixOps]]) — never a raw-row global window;
  * transition entropy is per-user lag windows then (from, to) keyed
  * counts.
  *
  * Determinism: date arithmetic and counts are exact; each p·ln p
  * term re-enters DECIMAL after a fixed 12dp round (D2); medians sit
  * on unique total orders.
  */
object ProcessMiningQueries extends QueryFamily {

  /** q_ship_latency — order-to-ship days per order priority: count,
    * mean, exact lower-median, min and max — the fulfillment-SLA
    * readout. The median is an order statistic, so it reads off the
    * contracted (pri, lat) grid (latency in days is a small bounded
    * int domain — ~5k cells) with the cumulative count from the
    * partitioned distributed prefix
    * ([[graft.operators.PrefixOps.groupedCumCounts]]): the lower
    * median is the smallest latency whose cumulative count reaches
    * ⌊(n+1)/2⌋ — tie-break-free, identical to the oracle's
    * row_number formulation. No window ever partitions raw join rows
    * by the 5-value priority. */
  def shipLatency(s: SparkSession, d: String): DataFrame = {
    val lat = lineitem(s, d)
      .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("pri"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lat"))
    val cnt = lat.groupBy(col("pri")).agg(
      count(lit(1)).as("n"),
      round(sum(col("lat").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("avg_days"),
      min(col("lat")).as("min_days"),
      max(col("lat")).as("max_days"))
    val med = graft.operators.PrefixOps.groupedCumCounts(
        lat, Seq("pri"), "lat")
      .filter(col("cum") >= ((col("n") + 1) / 2).cast("long"))
      .groupBy(col("pri")).agg(min(col("lat")).as("p50_days"))
    cnt.join(med, "pri")
      .select(col("pri"), col("n"), col("avg_days"),
        col("p50_days"), col("min_days"), col("max_days"))
      .orderBy(col("pri"))
  }

  val shipLatencyOracle: String =
    """WITH lat AS (SELECT o_orderpriority AS pri,
      |    date_diff('day', o_orderdate, l_shipdate) AS lat,
      |    l_orderkey, l_linenumber
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |ranked AS (SELECT pri, lat,
      |    row_number() OVER (PARTITION BY pri
      |      ORDER BY lat, l_orderkey, l_linenumber) AS rn,
      |    count(*) OVER (PARTITION BY pri) AS n
      |  FROM lat),
      |agg AS (SELECT pri, count(*) AS n,
      |    round(CAST(sum(CAST(lat AS DECIMAL(18,4))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 4) AS avg_days,
      |    min(lat) AS min_days, max(lat) AS max_days
      |  FROM lat GROUP BY 1)
      |SELECT agg.pri, agg.n, agg.avg_days,
      |  r.lat AS p50_days, agg.min_days, agg.max_days
      |FROM ranked r JOIN agg ON agg.pri = r.pri
      |WHERE r.rn = (r.n + 1) // 2
      |ORDER BY agg.pri""".stripMargin

  /** q_backlog — open-order (WIP) curve: +1 on the order date, −1 on
    * the last ship date per order, deltas contracted to the bounded
    * calendar-day domain, running backlog via the distributed prefix
    * operator. */
  def backlog(s: SparkSession, d: String): DataFrame = {
    val span = orders(s, d)
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("start_d"))
      .agg(coalesce(to_date(max(col("l_shipdate"))),
        to_date(max(col("o_orderdate")))).as("end_d"))
    val deltas = span.select(col("start_d").as("day"), lit(1L).as("delta"))
      .unionAll(span.select(col("end_d"), lit(-1L)))
      .groupBy(col("day"))
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("opened"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("closed"),
        sum(col("delta")).as("net"))
    // bucket key must be numeric: epoch-day of the calendar date
    graft.operators.PrefixOps.runningSums(deltas,
        unix_date(col("day")), Seq(col("day")),
        Seq("backlog" -> col("net")))
      .select(col("day"), col("opened"), col("closed"), col("backlog"))
      .orderBy(col("day"))
  }

  val backlogOracle: String =
    """WITH span AS (SELECT o_orderkey,
      |    CAST(o_orderdate AS DATE) AS start_d,
      |    CAST(coalesce(max(l_shipdate), max(o_orderdate)) AS DATE) AS end_d
      |  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |deltas AS (SELECT day,
      |    sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS opened,
      |    sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS closed,
      |    sum(delta) AS net
      |  FROM (SELECT start_d AS day, 1 AS delta FROM span
      |        UNION ALL SELECT end_d, -1 FROM span)
      |  GROUP BY 1)
      |SELECT day, CAST(opened AS BIGINT) AS opened,
      |  CAST(closed AS BIGINT) AS closed,
      |  CAST(sum(net) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS backlog
      |FROM deltas ORDER BY day""".stripMargin

  /** q_transition_entropy — per journey state: Shannon entropy of the
    * next-step distribution (per-user lag transitions), with the
    * normalized predictability score — low entropy means the next
    * event is nearly deterministic. */
  def transitionEntropy(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    val trans = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"),
        col("event_type").as("to_t"))
      .withColumn("from_t", lag(col("to_t"), 1).over(w))
      .filter(col("from_t").isNotNull)
    val cell = trans.groupBy(col("from_t"), col("to_t"))
      .agg(count(lit(1)).as("c"))
    val tot = cell.groupBy(col("from_t"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_targets"))
    val p = col("c").cast("double") / col("tot").cast("double")
    cell.join(broadcast(tot), "from_t")
      .select(col("from_t"), col("n_targets"), col("tot"),
        round(p * log(p), 12).cast("decimal(24,12)").as("term"))
      .groupBy(col("from_t"))
      .agg(max(col("n_targets")).as("n_targets"),
        max(col("tot")).as("n_trans"),
        round(-sum(col("term")).cast("double"), 6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_targets") > 1,
          round(col("entropy") / log(col("n_targets").cast("double")), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("from_t"))
  }

  val transitionEntropyOracle: String =
    """WITH trans AS (SELECT
      |    lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_t,
      |    event_type AS to_t
      |  FROM events),
      |cell AS (SELECT from_t, to_t, count(*) AS c
      |  FROM trans WHERE from_t IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_t, sum(c) AS tot, count(*) AS n_targets
      |  FROM cell GROUP BY 1),
      |terms AS (SELECT cell.from_t, tot.n_targets, tot.tot,
      |    CAST(round((CAST(c AS DOUBLE)/CAST(tot.tot AS DOUBLE)) *
      |      ln(CAST(c AS DOUBLE)/CAST(tot.tot AS DOUBLE)), 12)
      |      AS DECIMAL(24,12)) AS term
      |  FROM cell JOIN tot ON tot.from_t = cell.from_t)
      |SELECT from_t,
      |  CAST(max(n_targets) AS BIGINT) AS n_targets,
      |  CAST(max(tot) AS BIGINT) AS n_trans,
      |  round(-CAST(sum(term) AS DOUBLE), 6) AS entropy,
      |  CASE WHEN max(n_targets) > 1 THEN
      |    round(round(-CAST(sum(term) AS DOUBLE), 6) /
      |      ln(CAST(max(n_targets) AS DOUBLE)), 6)
      |    ELSE 0.0 END AS norm_entropy
      |FROM terms GROUP BY from_t ORDER BY from_t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ship_latency" -> (shipLatency _),
    "q_backlog" -> (backlog _),
    "q_transition_entropy" -> (transitionEntropy _))

  val oracle: Map[String, String] = Map(
    "q_ship_latency" -> shipLatencyOracle,
    "q_backlog" -> backlogOracle,
    "q_transition_entropy" -> transitionEntropyOracle)
}
