package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #73: the log-rank test — the standard two-sample
  * survival comparison (the inference companion to q_survival's
  * Kaplan–Meier curve): users split by whether their FIRST event
  * fell on a weekend, "lifetime" = days between first and last
  * event (all observed, no censoring), O−E and the hypergeometric
  * variance accumulated over the distinct-duration risk sets.
  *
  * Scale notes (100 TB): lifetimes are one user-keyed contraction;
  * the risk-set table is the dense (group × distinct-duration) grid —
  * bounded by the calendar span — with group-partitioned cumulative
  * windows giving at-risk counts (suffix = total − prefix + own).
  * No partition-less windows; term accumulation is a decimal fold.
  *
  * Determinism: all counts exact longs; per-time terms round at 8dp
  * into DECIMAL sums; one sqrt at the end; final 6dp. */
object LogrankQueries extends QueryFamily {

  /** q_logrank — O₁, E₁, variance and z for the weekend-first vs
    * weekday-first lifetime split. */
  def logrank(s: SparkSession, d: String): DataFrame = {
    val life = events(s, d).groupBy(col("user_id")).agg(
      datediff(to_date(max(col("ts2"))), to_date(min(col("ts2"))))
        .as("dur"),
      (dayofweek(to_date(min(col("ts2")))).isin(1, 7)).as("wk"))
    // ONE pass over the per-user lifetimes: the (group, duration)
    // death grid is the only user-scale aggregation; the per-group
    // totals below are exact folds OF THE GRID (each user has exactly
    // one (wk, dur) row). Materialized once (round-8 scan gate: was
    // 8 events scans).
    import graft.operators.CacheOps.CheckpointSyntax
    val deaths = life.groupBy(col("wk"), col("dur"))
      .agg(count(lit(1)).as("dd"))
      .truncatedCheckpoint()
    // dense (group × duration) grid so both groups carry a row at
    // every death time
    val durs = deaths.select(col("dur")).distinct()
    val grps = deaths.select(col("wk")).distinct()
    // group domain is the 2 booleans — broadcast it so the dense grid
    // plans a BNLJ, not a CartesianProduct
    val dense = durs.crossJoin(broadcast(grps))
      .join(broadcast(deaths), Seq("wk", "dur"), "left")
      .select(col("wk"), col("dur"), coalesce(col("dd"), lit(0L)).as("dd"))
    val tot = deaths.groupBy(col("wk")).agg(sum(col("dd")).as("ng"))
    val w = Window.partitionBy(col("wk")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = dense.withColumn("cum", sum(col("dd")).over(w))
      .join(broadcast(tot), "wk")
      .select(col("wk"), col("dur"), col("dd"),
        (col("ng") - col("cum") + col("dd")).as("nr"))
    val g1 = atRisk.filter(col("wk"))
      .select(col("dur"), col("dd").as("d1"), col("nr").as("n1"))
    val g2 = atRisk.filter(!col("wk"))
      .select(col("dur"), col("dd").as("d2"), col("nr").as("n2"))
    val terms = g1.join(broadcast(g2), "dur")
      .filter(col("d1") + col("d2") > 0 && col("n1") + col("n2") > 1)
      .select(col("d1"),
        round((col("d1") + col("d2")).cast("double")
          * col("n1").cast("double")
          / (col("n1") + col("n2")).cast("double"), 8).as("e1t"),
        round((col("d1") + col("d2")).cast("double")
          * (col("n1").cast("double")
            / (col("n1") + col("n2")).cast("double"))
          * (lit(1.0) - col("n1").cast("double")
            / (col("n1") + col("n2")).cast("double"))
          * ((col("n1") + col("n2") - col("d1") - col("d2")).cast("double")
            / (col("n1") + col("n2") - lit(1L)).cast("double")), 8)
          .as("vt"))
    terms.agg(
        sum(col("d1")).as("o1"),
        round(sum(col("e1t").cast("decimal(27,8)")).cast("double"), 6)
          .as("e1"),
        round(sum(col("vt").cast("decimal(27,8)")).cast("double"), 6)
          .as("v"))
      .select(col("o1"), col("e1"), col("v"),
        round((col("o1").cast("double") - col("e1")) / sqrt(col("v")), 6)
          .as("z"))
  }

  val logrankOracle: String =
    """WITH life AS (SELECT user_id,
      |    date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
      |      AS dur,
      |    dayofweek(CAST(min(ts) AS DATE)) IN (0, 6) AS wk
      |  FROM events GROUP BY 1),
      |deaths AS (SELECT wk, dur, CAST(count(*) AS BIGINT) AS dd
      |  FROM life GROUP BY 1, 2),
      |dense AS (SELECT g.wk, t.dur, COALESCE(dd, 0) AS dd
      |  FROM (SELECT DISTINCT dur FROM deaths) t
      |  CROSS JOIN (SELECT DISTINCT wk FROM deaths) g
      |  LEFT JOIN deaths ON deaths.wk = g.wk AND deaths.dur = t.dur),
      |tot AS (SELECT wk, CAST(count(*) AS BIGINT) AS ng
      |  FROM life GROUP BY 1),
      |atrisk AS (SELECT dense.wk, dur, dd,
      |    ng - sum(dd) OVER (PARTITION BY dense.wk ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + dd AS nr
      |  FROM dense JOIN tot ON tot.wk = dense.wk),
      |g1 AS (SELECT dur, dd AS d1, nr AS n1 FROM atrisk WHERE wk),
      |g2 AS (SELECT dur, dd AS d2, nr AS n2 FROM atrisk WHERE NOT wk),
      |terms AS (SELECT d1,
      |    round(CAST(d1 + d2 AS DOUBLE)*CAST(n1 AS DOUBLE)
      |      /CAST(n1 + n2 AS DOUBLE), 8) AS e1t,
      |    round(CAST(d1 + d2 AS DOUBLE)
      |      *(CAST(n1 AS DOUBLE)/CAST(n1 + n2 AS DOUBLE))
      |      *(1.0 - CAST(n1 AS DOUBLE)/CAST(n1 + n2 AS DOUBLE))
      |      *(CAST(n1 + n2 - d1 - d2 AS DOUBLE)
      |        /CAST(n1 + n2 - 1 AS DOUBLE)), 8) AS vt
      |  FROM g1 JOIN g2 USING (dur)
      |  WHERE d1 + d2 > 0 AND n1 + n2 > 1),
      |m AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
      |    round(CAST(sum(CAST(e1t AS DECIMAL(27,8))) AS DOUBLE), 6) AS e1,
      |    round(CAST(sum(CAST(vt AS DECIMAL(27,8))) AS DOUBLE), 6) AS v
      |  FROM terms)
      |SELECT o1, e1, v,
      |  round((CAST(o1 AS DOUBLE) - e1)/sqrt(v), 6) AS z
      |FROM m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_logrank" -> (logrank _))

  val oracle: Map[String, String] = Map(
    "q_logrank" -> logrankOracle)
}
