package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #81: the seasonal Mann–Kendall trend test — the
  * deseasonalized upgrade of q_mann_kendall: per event type, daily
  * totals are compared only WITHIN each weekday season across weeks
  * (Monday-to-Monday, Tuesday-to-Tuesday, …; the events table spans
  * under a year, so weekday-across-weeks is the populated seasonal
  * axis), S and the tie-uncorrected variance summed over the 7
  * seasons, one z per type.
  *
  * Scale notes (100 TB): events contract to the (type, week, weekday)
  * grid first; the pairwise comparisons are a bounded self-join
  * within (type, weekday) — ≤ weeks² pairs per season on the bounded
  * calendar. All integer until z.
  */
object SeasonalTrendQueries extends QueryFamily {

  /** q_mk_seasonal — per type: seasonal S, Var S, and z. */
  def mkSeasonal(s: SparkSession, d: String): DataFrame = {
    val grid = events(s, d).groupBy(
        col("event_type").as("t"),
        weekofyear(col("ts2")).as("yy"), dayofweek(col("ts2")).as("mm"))
      .agg(count(lit(1)).as("c"))
    val pairs = grid.as("a")
      .join(broadcast(grid.as("b")),
        col("a.t") === col("b.t") && col("a.mm") === col("b.mm")
          && col("a.yy") < col("b.yy"))
      .select(col("a.t").as("t"),
        signum((col("b.c") - col("a.c")).cast("double")).cast("long")
          .as("sgn"))
    val sStat = pairs.groupBy(col("t")).agg(sum(col("sgn")).as("s"))
    val vr = grid.groupBy(col("t"), col("mm"))
      .agg(count(lit(1)).as("ns"))
      .groupBy(col("t")).agg(
        sum(col("ns") * (col("ns") - lit(1L))
          * (lit(2L) * col("ns") + lit(5L))).as("v18"),
        count(lit(1)).as("n_seasons"))
    val z = sStat.join(broadcast(vr), "t")
    val sD = col("s").cast("double")
    val vD = col("v18").cast("double") / lit(18.0)
    z.select(col("t"), col("s"), col("n_seasons"),
        round(vD, 4).as("var_s"),
        round(when(col("s") > 0, (sD - lit(1.0)) / sqrt(vD))
          .when(col("s") < 0, (sD + lit(1.0)) / sqrt(vD))
          .otherwise(lit(0.0)), 6).as("z"))
      .orderBy(col("t"))
  }

  val mkSeasonalOracle: String =
    """WITH grid AS (SELECT event_type AS t,
      |    weekofyear(ts) AS yy, dayofweek(ts) + 1 AS mm,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |pairs AS (SELECT a.t,
      |    CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT) AS sgn
      |  FROM grid a JOIN grid b ON b.t = a.t AND b.mm = a.mm
      |    AND a.yy < b.yy),
      |sstat AS (SELECT t, CAST(sum(sgn) AS BIGINT) AS s
      |  FROM pairs GROUP BY 1),
      |vr AS (SELECT t, CAST(sum(ns*(ns - 1)*(2*ns + 5)) AS BIGINT)
      |    AS v18, CAST(count(*) AS BIGINT) AS n_seasons
      |  FROM (SELECT t, mm, CAST(count(*) AS BIGINT) AS ns
      |    FROM grid GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT sstat.t, s, n_seasons,
      |  round(CAST(v18 AS DOUBLE)/18.0, 4) AS var_s,
      |  round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
      |      /sqrt(CAST(v18 AS DOUBLE)/18.0)
      |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
      |      /sqrt(CAST(v18 AS DOUBLE)/18.0)
      |    ELSE 0.0 END, 6) AS z
      |FROM sstat JOIN vr ON vr.t = sstat.t
      |ORDER BY sstat.t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mk_seasonal" -> (mkSeasonal _))

  val oracle: Map[String, String] = Map(
    "q_mk_seasonal" -> mkSeasonalOracle)
}
