package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #62: tail-risk and series-roughness diagnostics —
  * historical VaR/CVaR (the 5% value tail per event type), the Ulcer
  * index (RMS drawdown of the daily activity series), and the
  * turning-points randomness test.
  *
  * Scale notes (100 TB): VaR runs the house percentile_disc idiom on
  * the contracted (type, value) count domain (type-partitioned cum
  * window over distinct values, not raw rows); CVaR is one
  * conditional decimal aggregate against the broadcast per-type VaR.
  * Ulcer/turning-points operate on the bounded (type, day) grid with
  * type-partitioned windows only.
  *
  * Determinism: counts and the integer day grid are exact; ratios
  * round at 8dp before squaring/summing (D2), sqrt is IEEE-correct,
  * final report at 6dp.
  */
object TailRiskQueries extends QueryFamily {

  /** q_var_cvar — per event type: historical 5% Value-at-Risk
    * (percentile_disc of the value distribution — smallest value with
    * CDF ≥ 5%) and the Conditional VaR (exact decimal mean of the
    * tail at or below VaR). */
  def varCvar(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"), col("value"))
    val byVal = e.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.withColumn("cum", sum(col("cnt")).over(w))
    val n = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // group by event_type ALONE (n is functionally dependent — max(n)
    // carries it): grouping on the joined-in count alias hid the
    // frame's bounded-domain proof from the round-7 join-funnel gate,
    // leaving the fact-side tail join below unprovable
    val varQ = cum.join(broadcast(n), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum").cast("double") >=
          lit(0.05) * col("n").cast("double"), col("value"))).as("var_5"))
    e.join(broadcast(varQ), "event_type")
      .filter(col("value") <= col("var_5"))
      .groupBy(col("event_type"), col("n"), col("var_5"))
      .agg(count(lit(1)).as("n_tail"),
        sum(col("value").cast("decimal(18,6)")).as("tsum"))
      .select(col("event_type"), col("n"),
        round(col("var_5"), 6).as("var_5"), col("n_tail"),
        round(col("tsum").cast("double")
          / col("n_tail").cast("double"), 6).as("cvar_5"))
      .orderBy(col("event_type"))
  }

  val varCvarOracle: String =
    """WITH byval AS (SELECT event_type, value,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |cum AS (SELECT event_type, value,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM byval),
      |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |varq AS (SELECT event_type, n,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.05*CAST(n AS DOUBLE)
      |      THEN value END) AS var_raw
      |  FROM cum JOIN n USING (event_type)
      |  GROUP BY event_type, n)
      |SELECT e.event_type, n, round(var_raw, 6) AS var_5,
      |  CAST(count(*) AS BIGINT) AS n_tail,
      |  round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
      |    /CAST(count(*) AS DOUBLE), 6) AS cvar_5
      |FROM events e JOIN varq ON varq.event_type = e.event_type
      |WHERE e.value <= var_raw
      |GROUP BY e.event_type, n, var_raw
      |ORDER BY e.event_type""".stripMargin

  /** Shared bounded grid: events per (type, day). */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type"), to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("c"))

  private val dailyCountsSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2""".stripMargin

  /** q_ulcer — Ulcer index of each type's daily activity series:
    * running peak over the calendar, percentage drawdown from peak
    * per day, UI = √(mean of squared drawdown %) — the RMS
    * "depth × duration" roughness measure (beside q_drawdown's
    * max-depth). */
  def ulcer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = dailyCounts(s, d)
      .withColumn("peak", max(col("c")).over(w))
      .withColumn("dd_pct",
        round(lit(100.0) * (col("peak") - col("c")).cast("double")
          / col("peak").cast("double"), 8))
    dd.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_days"),
        max(col("dd_pct")).as("max_dd_pct"),
        sum(round(col("dd_pct") * col("dd_pct"), 8)
          .cast("decimal(27,8)")).as("sdd2"))
      .select(col("event_type"), col("n_days"),
        round(col("max_dd_pct"), 6).as("max_dd_pct"),
        round(sqrt(round(col("sdd2").cast("double")
          / col("n_days").cast("double"), 8)), 6).as("ulcer_index"))
      .orderBy(col("event_type"))
  }

  val ulcerOracle: String =
    s"""WITH grid AS ($dailyCountsSql),
      |dd AS (SELECT event_type, day, c,
      |    max(c) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM grid),
      |pct AS (SELECT event_type,
      |    round(100.0*CAST(peak - c AS DOUBLE)/CAST(peak AS DOUBLE), 8)
      |      AS dd_pct
      |  FROM dd)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  round(max(dd_pct), 6) AS max_dd_pct,
      |  round(sqrt(round(
      |    CAST(sum(CAST(round(dd_pct*dd_pct, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 8)), 6) AS ulcer_index
      |FROM pct GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_turning_points — randomness check on each type's daily series:
    * count strict local peaks/troughs (prev < cur > next or
    * prev > cur < next over the calendar-ordered grid), compare with
    * the i.i.d. expectation E = 2(n−2)/3, Var = (16n−29)/90, report
    * z = (T − E)/√Var. Ties break no turning point (strict
    * inequalities), which is deterministic on the integer counts. */
  def turningPoints(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = dailyCounts(s, d)
      .withColumn("pv", lag(col("c"), 1).over(w))
      .withColumn("nx", lead(col("c"), 1).over(w))
      .filter(col("pv").isNotNull && col("nx").isNotNull)
    val t = lagged.groupBy(col("event_type")).agg(
      (count(lit(1)) + lit(2L)).as("n_days"),
      count(when((col("pv") < col("c") && col("nx") < col("c"))
        || (col("pv") > col("c") && col("nx") > col("c")), lit(1)))
        .as("t_points"))
    val nD = col("n_days").cast("double")
    val e = lit(2.0) * (nD - lit(2.0)) / lit(3.0)
    val v = (lit(16.0) * nD - lit(29.0)) / lit(90.0)
    t.select(col("event_type"), col("n_days"), col("t_points"),
        round(e, 6).as("expected"),
        round((col("t_points").cast("double") - e) / sqrt(v), 6).as("z"))
      .orderBy(col("event_type"))
  }

  val turningPointsOracle: String =
    s"""WITH grid AS ($dailyCountsSql),
      |lagged AS (SELECT event_type, c,
      |    lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pv,
      |    lead(c) OVER (PARTITION BY event_type ORDER BY day) AS nx
      |  FROM grid),
      |t AS (SELECT event_type,
      |    CAST(count(*) + 2 AS BIGINT) AS n_days,
      |    CAST(count(CASE WHEN (pv < c AND nx < c)
      |      OR (pv > c AND nx > c) THEN 1 END) AS BIGINT) AS t_points
      |  FROM lagged WHERE pv IS NOT NULL AND nx IS NOT NULL
      |  GROUP BY 1)
      |SELECT event_type, n_days, t_points,
      |  round(2.0*(CAST(n_days AS DOUBLE) - 2.0)/3.0, 6) AS expected,
      |  round((CAST(t_points AS DOUBLE)
      |      - 2.0*(CAST(n_days AS DOUBLE) - 2.0)/3.0)
      |    /sqrt((16.0*CAST(n_days AS DOUBLE) - 29.0)/90.0), 6) AS z
      |FROM t ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_var_cvar" -> (varCvar _),
    "q_ulcer" -> (ulcer _),
    "q_turning_points" -> (turningPoints _))

  val oracle: Map[String, String] = Map(
    "q_var_cvar" -> varCvarOracle,
    "q_ulcer" -> ulcerOracle,
    "q_turning_points" -> turningPointsOracle)
}
