package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #8: seasonal / sequence time-series analytics —
  * inter-order gap statistics, day-of-week load profiles, local-peak
  * detection over the hourly series, CUSUM changepoint scoring, and
  * deterministic k-fold cross-validation splits.
  *
  * Scale notes (100 TB): gap stats are per-customer lag() windows
  * (parallel across customers); the weekday profile, peak scan and
  * CUSUM all contract to calendar-bounded grids FIRST (|types|·7,
  * |types|·hours, |types|·days — documented bounded domains for the
  * in-type windows) so the windowed pass runs over a few hundred
  * rows per type regardless of input volume; fold assignment is a
  * stateless md5 hash evaluated at the scan (no shuffle before the
  * per-fold aggregate).
  *
  * Determinism: gaps and counts are exact integers; day names (not
  * locale-dependent indices — Spark counts Sunday=1 where DuckDB
  * counts Sunday=0) key the weekday profile; CUSUM deviations are
  * fixed-scale DECIMAL; fold ids derive from the shared md5-hex
  * construction (graft.Determinism.hexval).
  */
object SeasonalQueries extends QueryFamily {

  /** q_order_gap — per repeat customer: order count and min / median /
    * max day gap between consecutive orders (lag window per
    * customer; exact integer gaps, median = midpoint average — the
    * q_mad convention in both engines). */
  def orderGap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders(s, d)
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev")).as("gap"))
    gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap"),
        round(median(col("gap")), 1).as("median_gap"),
        max(col("gap")).as("max_gap"))
      .orderBy(col("o_custkey"))
  }

  val orderGapOracle: String =
    """WITH g AS (SELECT o_custkey,
      |    date_diff('day',
      |      lag(CAST(o_orderdate AS DATE), 1) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate, o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS gap
      |  FROM orders)
      |SELECT o_custkey, count(*) AS n_gaps,
      |  min(gap) AS min_gap,
      |  round(median(gap), 1) AS median_gap,
      |  max(gap) AS max_gap
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q_weekday_profile — load profile per (event_type, day name):
    * event count, share of the type's total (broadcast 1-row-per-type
    * aggregate), and the busy-rank within the type (a ≤7-row bounded
    * domain window). Day NAMES key the grid — Spark's dayofweek is
    * 1-based Sunday-first where DuckDB's is 0-based, so indices
    * diverge cross-engine but names cannot. */
  def weekdayProfile(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("event_type").as("t"),
      date_format(col("ts2"), "EEEE").as("dow"))
    val grid = base.groupBy(col("t"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = base.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val w = Window.partitionBy(col("t"))
      .orderBy(col("n").desc, col("dow"))
    grid.join(broadcast(tot), "t")
      .select(col("t"), col("dow"), col("n"),
        round(col("n").cast("double") / col("n_t"), 6).as("share"))
      .withColumn("busy_rank", row_number().over(w))
      .orderBy(col("t"), col("dow"))
  }

  val weekdayProfileOracle: String =
    """WITH base AS (SELECT event_type AS t, dayname(ts) AS dow
      |  FROM events),
      |grid AS (SELECT t, dow, count(*) AS n FROM base GROUP BY 1, 2),
      |tot AS (SELECT t, count(*) AS n_t FROM base GROUP BY 1)
      |SELECT grid.t, grid.dow, grid.n,
      |  round(CAST(grid.n AS DOUBLE)/tot.n_t, 6) AS share,
      |  CAST(row_number() OVER (PARTITION BY grid.t
      |    ORDER BY grid.n DESC, grid.dow) AS INTEGER) AS busy_rank
      |FROM grid JOIN tot ON tot.t = grid.t
      |ORDER BY grid.t, grid.dow""".stripMargin

  /** q_peak_detect — strict local maxima of the hourly event series
    * per type: hours whose count exceeds both calendar neighbors in
    * the observed series (lag/lead over the per-type hourly
    * contraction — a ≤24·days bounded domain). */
  def peakDetect(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type").as("t"),
        date_trunc("hour", col("ts2")).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("t")).orderBy(col("h"))
    hourly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("next_n", lead(col("n"), 1).over(w))
      .where(col("prev_n").isNotNull && col("next_n").isNotNull &&
        col("n") > col("prev_n") && col("n") > col("next_n"))
      .select(col("t"), col("h"), col("n"), col("prev_n"), col("next_n"))
      .orderBy(col("t"), col("h"))
  }

  val peakDetectOracle: String =
    """WITH hourly AS (SELECT event_type AS t, date_trunc('hour', ts) AS h,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |x AS (SELECT t, h, n,
      |    lag(n, 1) OVER (PARTITION BY t ORDER BY h) AS prev_n,
      |    lead(n, 1) OVER (PARTITION BY t ORDER BY h) AS next_n
      |  FROM hourly)
      |SELECT t, h, n, prev_n, next_n FROM x
      |WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      |  AND n > prev_n AND n > next_n
      |ORDER BY t, h""".stripMargin

  /** q_changepoint — CUSUM changepoint score per type: cumulative sum
    * of daily-count deviations from the type mean (exact DECIMAL over
    * the ≤31-day contraction), reporting the day of the maximum
    * |CUSUM| — the classic level-shift detector. Mean arrives by
    * broadcast; the argmax joins a broadcast per-type max back
    * (earliest day wins ties). */
  def changepoint(s: SparkSession, d: String): DataFrame = {
    // (type, day) grid feeds the mean frame + the cusum/peak branches
    // — materialize once (round-8 scan gate: was 4 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("n"))
      .truncatedCheckpoint()
    val m = daily.groupBy(col("t"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(col("n")).cast("double") / count(lit(1)), 6).as("mu"))
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cusum = daily.join(broadcast(m), "t")
      .withColumn("dev", (col("n") - col("mu")).cast("decimal(18,6)"))
      // round in DECIMAL, then convert: the exact scale-6 running sum
      // lands on genuine .xxxx50 ties at 4dp, where double-rounding
      // paths could diverge cross-engine (HALF_UP on exact decimal is
      // identical in both)
      .withColumn("cusum", round(sum(col("dev")).over(w), 4).cast("double"))
      .withColumn("abs_cusum", abs(col("cusum")))
    val peak = cusum.groupBy(col("t"))
      .agg(max(col("abs_cusum")).as("peak"))
    cusum.join(broadcast(peak), "t")
      .where(col("abs_cusum") === col("peak"))
      .groupBy(col("t"))
      .agg(max(col("n_days")).as("n_days"),
        max(col("mu")).as("mu"),
        min(col("day")).as("change_day"),
        max(col("abs_cusum")).as("max_abs_cusum"))
      .orderBy(col("t"))
  }

  val changepointOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT t, count(*) AS n_days,
      |    round(CAST(sum(n) AS DOUBLE)/count(*), 6) AS mu
      |  FROM daily GROUP BY 1),
      |c AS (SELECT daily.t, daily.day, m.n_days, m.mu,
      |    CAST(round(sum(CAST(daily.n - m.mu AS DECIMAL(18,6)))
      |      OVER (PARTITION BY daily.t ORDER BY daily.day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
      |      AS DOUBLE) AS cusum
      |  FROM daily JOIN m ON m.t = daily.t),
      |x AS (SELECT *, abs(cusum) AS abs_cusum FROM c),
      |p AS (SELECT t, max(abs_cusum) AS peak FROM x GROUP BY 1)
      |SELECT x.t, max(x.n_days) AS n_days, max(x.mu) AS mu,
      |  min(x.day) AS change_day, max(x.abs_cusum) AS max_abs_cusum
      |FROM x JOIN p ON p.t = x.t AND x.abs_cusum = p.peak
      |GROUP BY x.t ORDER BY x.t""".stripMargin

  /** q_crossval — deterministic 5-fold cross-validation split over
    * orders (fold = md5(orderkey) mod 5 — content-addressed, so any
    * engine reproduces the same folds): per fold, the holdout size
    * and price stats plus the complementary train-set size. The
    * Spark side evaluates the codegen'd [[Md5Bucket]] kernel (one
    * digest, no hex-string materialization); the oracle keeps the
    * portable instr/substr SQL spelling — equality is pinned by
    * Md5BucketSpec and this query's own grading. */
  def crossval(s: SparkSession, d: String): DataFrame = {
    val folded = orders(s, d).withColumn("fold",
      graft.functions.expressions.Md5Bucket
        .md5Bucket(col("o_orderkey").cast("string"), lit(5)).cast("int"))
    val tot = folded.agg(count(lit(1)).as("n_total"))
    folded.groupBy(col("fold"))
      .agg(count(lit(1)).as("test_n"),
        round(davg(col("o_totalprice")), 4).as("avg_price"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("test_n"),
        (col("n_total") - col("test_n")).as("train_n"),
        col("avg_price"))
      .orderBy(col("fold"))
  }

  val crossvalOracle: String = {
    val hv = hexval("md5(CAST(o_orderkey AS VARCHAR))")
    s"""WITH folded AS (SELECT o_totalprice,
      |    CAST($hv % 5 AS INTEGER) AS fold
      |  FROM orders),
      |tot AS (SELECT count(*) AS n_total FROM folded)
      |SELECT fold, count(*) AS test_n,
      |  CAST(tot.n_total - count(*) AS BIGINT) AS train_n,
      |  round(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
      |    AS DOUBLE)/count(*), 4), 4) AS avg_price
      |FROM folded CROSS JOIN tot
      |GROUP BY fold, tot.n_total ORDER BY fold""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_order_gap" -> (orderGap _),
    "q_weekday_profile" -> (weekdayProfile _),
    "q_peak_detect" -> (peakDetect _),
    "q_changepoint" -> (changepoint _),
    "q_crossval" -> (crossval _))

  val oracle: Map[String, String] = Map(
    "q_order_gap" -> orderGapOracle,
    "q_weekday_profile" -> weekdayProfileOracle,
    "q_peak_detect" -> peakDetectOracle,
    "q_changepoint" -> changepointOracle,
    "q_crossval" -> crossvalOracle)
}
