package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #4: the gaps-and-islands / interval family —
  * interval coalescing (merge overlapping activity intervals into
  * maximal islands), consecutive-day streaks, and interval
  * concurrency (peak simultaneous sessions via the +1/−1 endpoint
  * sweep). These are the classic temporal-relational operators behind
  * sessionized billing, uptime/SLA reporting, and capacity peaks —
  * none previously in the graded surface (q_win_session covers the
  * gap-based variant; these cover the overlap-based one).
  *
  * Scale notes (100 TB): every window here is PARTITIONED by a key
  * (user_id / event_type) — islands for different keys proceed in
  * parallel and no row crosses keys, so the plan scales with the key
  * cardinality. The concurrency sweep partitions by event_type (a
  * ~|types| domain): each type's endpoint stream is one ordered pass —
  * at extreme per-type volume the PrefixOps two-phase prefix-sum
  * contraction would replace the in-type window (same trade recorded
  * for the global running windows, SURVEY §9); peak extraction joins
  * a broadcast 1-row-per-type max back, never a second global pass.
  *
  * Determinism: interval endpoints are exact micro timestamps
  * (ts2 convention, Tables.scala); island membership and running
  * counts are integer arithmetic; every ORDER BY carries a unique
  * tiebreak (event_id) where the natural key can tie.
  */
object IntervalQueries extends QueryFamily {

  private val sessionLen = "INTERVAL '30' MINUTE"

  /** q_interval_merge — coalesce each user's overlapping 30-minute
    * activity intervals [ts, ts+30m) into maximal islands: running
    * max of interval-end over strictly-earlier rows; a row whose
    * start exceeds that max opens a new island (touching endpoints
    * merge — the half-open intervals are adjacent, not overlapping,
    * but billing-style coalescing joins them; both engines apply the
    * identical rule). */
  def intervalMerge(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(
      col("user_id"), col("event_id"),
      col("ts2").as("st"),
      (col("ts2") + expr(sessionLen)).as("en"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
    val withPrev = base.withColumn("prev_max_en",
      max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
    val flagged = withPrev.withColumn("new_island",
      when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1)
        .otherwise(0))
    val islands = flagged.withColumn("island",
      sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("island_start"),
        max(col("en")).as("island_end"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_sec",
        col("island_end").cast("long") - col("island_start").cast("long"))
      .orderBy(col("user_id"), col("island"))
  }

  val intervalMergeOracle: String =
    """WITH base AS (SELECT user_id, event_id, ts AS st,
      |    ts + INTERVAL '30' MINUTE AS en
      |  FROM events),
      |p AS (SELECT *, max(en) OVER (PARTITION BY user_id
      |    ORDER BY st, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
      |  FROM base),
      |f AS (SELECT *, CASE WHEN prev_max_en IS NULL OR st > prev_max_en
      |    THEN 1 ELSE 0 END AS new_island FROM p),
      |i AS (SELECT *, CAST(sum(new_island) OVER (PARTITION BY user_id
      |    ORDER BY st, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS island
      |  FROM f)
      |SELECT user_id, island, min(st) AS island_start,
      |  max(en) AS island_end, count(*) AS n_events,
      |  date_diff('second', min(st), max(en)) AS duration_sec
      |FROM i GROUP BY user_id, island
      |ORDER BY user_id, island""".stripMargin

  /** q_streak — longest run of consecutive active calendar days per
    * user (the gaps-and-islands row_number-difference trick: day −
    * row_number is constant within a consecutive run). Output: active
    * days, number of distinct runs, longest run. */
  def streak(s: SparkSession, d: String): DataFrame = {
    val days = events(s, d)
      .select(col("user_id"), to_date(col("ts2")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val grp = days
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", date_sub(col("day"), col("rn")))
    grp.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  val streakOracle: String =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |g AS (SELECT user_id, day,
      |    day - CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY day) AS INTEGER) AS grp
      |  FROM days),
      |runs AS (SELECT user_id, grp, count(*) AS len
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
      |  count(*) AS n_streaks, max(len) AS longest_streak
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q_concurrency — peak simultaneous 30-minute sessions per
    * event_type via the endpoint sweep: +1 at each start, −1 at each
    * end, running sum ordered by (time, delta) — closers first, so
    * half-open [st, en) intervals touching at a point do NOT count as
    * concurrent. Peak time = earliest instant the maximum is
    * reached (tie-safe: among equal timestamps the running values
    * form the same multiset under any permutation of identical
    * (t, delta) rows, and the max is first attained at that t). */
  def concurrency(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(
      col("event_type"), col("ts2").as("st"),
      (col("ts2") + expr(sessionLen)).as("en"))
    // running sum via the partitioned distributed prefix (buckets
    // within each type run in parallel) instead of a window
    // partitioned by the ~5-value event_type over 2n endpoint rows.
    // Duplicate (t, delta) endpoints are safe: identical rows are
    // interchangeable, so the (type, t, concur) multiset — all the
    // downstream max/min sees — is permutation-invariant.
    val endpoints = base
      .select(col("event_type"), col("st").as("t"), lit(1).as("delta"))
      .unionAll(base.select(col("event_type"), col("en").as("t"),
        lit(-1).as("delta")))
    val swept = graft.operators.PrefixOps.runningSums(endpoints,
      unix_micros(col("t")), Seq(col("t"), col("delta")),
      Seq("concur" -> col("delta")), partitionBy = Seq(col("event_type")))
    // argmax in ONE grouped pass (round-7): max(struct(concur, −t))
    // picks the peak concurrency and, among its ties, the earliest
    // endpoint — the previous peak-frame + join-back re-executed the
    // whole sweep a second time (the prefix machinery's scan subtrees
    // differ per branch after pushdown, so ReuseExchange could not
    // collapse them all). unix_micros/timestamp_micros round-trip ts2
    // exactly (micro precision by construction).
    swept.groupBy(col("event_type"))
      .agg(max(struct(col("concur").as("c"),
        (-unix_micros(col("t"))).as("negt"))).as("m"))
      .select(col("event_type"),
        col("m.c").as("max_concurrent"),
        timestamp_micros(-col("m.negt")).as("first_peak_at"))
      .orderBy(col("event_type"))
  }

  val concurrencyOracle: String =
    """WITH base AS (SELECT event_type, ts AS st,
      |    ts + INTERVAL '30' MINUTE AS en FROM events),
      |ends AS (
      |  SELECT event_type, st AS t, 1 AS delta FROM base
      |  UNION ALL
      |  SELECT event_type, en AS t, -1 AS delta FROM base),
      |swept AS (SELECT event_type, t,
      |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concur
      |  FROM ends),
      |peak AS (SELECT event_type, max(concur) AS peak
      |  FROM swept GROUP BY 1)
      |SELECT s.event_type, CAST(max(s.concur) AS BIGINT) AS max_concurrent,
      |  min(s.t) AS first_peak_at
      |FROM swept s JOIN peak p
      |  ON p.event_type = s.event_type AND s.concur = p.peak
      |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_merge" -> (intervalMerge _),
    "q_streak" -> (streak _),
    "q_concurrency" -> (concurrency _))

  val oracle: Map[String, String] = Map(
    "q_interval_merge" -> intervalMergeOracle,
    "q_streak" -> streakOracle,
    "q_concurrency" -> concurrencyOracle)
}
