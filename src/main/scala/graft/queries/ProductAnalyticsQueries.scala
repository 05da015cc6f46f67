package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax
import graft.operators.PrefixOps

/** Round-4 widening #36: product-engagement analytics — the DAU/WAU
  * stickiness curve and the signup→purchase conversion-lag
  * distribution (the two charts every growth dashboard opens with).
  *
  * Scale notes (100 TB): DAU/WAU contracts the stream to distinct
  * (user, day) FIRST, then the 7-day window is a bounded range join
  * against the |days| calendar domain (≤7× the contraction, never
  * the raw stream); conversion lag contracts to per-gap-value counts
  * and reads exact quartiles off a distributed prefix sum
  * (q_median_global shape — no global sort).
  *
  * Determinism: counts exact; stickiness and quartiles on exact
  * integers; means via DECIMAL sums.
  */
object ProductAnalyticsQueries extends QueryFamily {

  /** q_dau_wau — per day: daily actives, trailing-7-day actives, and
    * DAU/WAU stickiness. */
  def dauWau(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"), to_date(col("ts2")).as("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = dau.select(col("day").as("d0"))
    val wau = days.join(ud,
        col("day") <= col("d0") && col("day") >= date_sub(col("d0"), 6))
      .groupBy(col("d0"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d0"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  val dauWauOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |wau AS (SELECT d.day AS d0, count(DISTINCT ud.user_id) AS wau
      |  FROM dau d JOIN ud
      |    ON ud.day <= d.day AND ud.day >= d.day - 6
      |  GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau,
      |  round(CAST(dau.dau AS DOUBLE)/CAST(wau.wau AS DOUBLE), 6)
      |    AS stickiness
      |FROM dau JOIN wau ON wau.d0 = dau.day
      |ORDER BY dau.day""".stripMargin

  /** q_conversion_lag — signup→purchase latency: per purchase the
    * as-of matched signup (q_join_asof contraction), gap in whole
    * days, then n / mean / exact p25-p50-p75 of the gap distribution
    * via the contracted-domain prefix (no global sort). */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts2").as("p_ts"))
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts2").as("s_ts"))
    val gaps = p.join(sg,
        col("user_id") === col("s_user") && col("s_ts") <= col("p_ts"))
      .groupBy(col("p_id"))
      .agg(max(col("s_ts")).as("m_ts"), max(col("p_ts")).as("p_ts"))
      .select(datediff(to_date(col("p_ts")), to_date(col("m_ts"))).as("gap"))
      // per-purchase gaps feed the gap grid AND the moments fold —
      // materialize once (round-8 scan gate: was 4 events scans)
      .truncatedCheckpoint()
    val byGap = gaps.groupBy(col("gap")).agg(count(lit(1)).as("cnt"))
    val cum = PrefixOps.runningSums(byGap,
      col("gap"), Seq(col("gap")), Seq("cum" -> col("cnt")))
    val tot = gaps.agg(count(lit(1)).as("n"),
      round(sum(col("gap").cast("decimal(18,4)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("mean_days"))
    def pick(q: Double) =
      min(when(col("cum").cast("double") >=
        lit(q) * col("n").cast("double"), col("gap")))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), max(col("mean_days")).as("mean_days"),
        pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.75).as("p75"))
  }

  val conversionLagOracle: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |sg AS (SELECT user_id AS s_user, ts AS s_ts
      |  FROM events WHERE event_type = 'signup'),
      |gaps AS (SELECT
      |    date_diff('day', CAST(max(s_ts) AS DATE), CAST(max(p_ts) AS DATE))
      |      AS gap
      |  FROM p JOIN sg ON s_user = user_id AND s_ts <= p_ts
      |  GROUP BY p_id)
      |SELECT count(*) AS n,
      |  round(CAST(sum(CAST(gap AS DECIMAL(18,4))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 4) AS mean_days,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS p25,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS p50,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS p75
      |FROM gaps""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dau_wau" -> (dauWau _),
    "q_conversion_lag" -> (conversionLag _))

  val oracle: Map[String, String] = Map(
    "q_dau_wau" -> dauWauOracle,
    "q_conversion_lag" -> conversionLagOracle)
}
