package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #24: time-series shape diagnostics — the
  * multi-lag autocorrelation function (the ACF panel behind every
  * seasonality/stationarity read) and per-key OLS trend fitting over
  * the calendar axis.
  *
  * Scale notes (100 TB): the event stream contracts to the per-type
  * daily grid first (the established bounded rolling-window domain),
  * so the lag windows are per-type partitioned over at most
  * horizon-days rows per key; one window pass materializes all three
  * lags; every Pearson/OLS input is a DECIMAL moment aggregate. Per-
  * type day-zero anchors travel via a broadcast |types|-row join.
  *
  * Determinism: daily totals 4dp exact-decimal sums; lag pairs round
  * products to 4dp before re-entering DECIMAL (D2); correlation and
  * slope arithmetic is straight-line IEEE double math on the
  * contracted rows, rounded at output.
  */
object SeriesShapeQueries extends QueryFamily {

  private def pearson(n: Column, sx: Column, sy: Column, sxy: Column,
      sxx: Column, syy: Column): Column =
    (n * sxy - sx * sy) /
      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))

  /** q_acf_multi — autocorrelation of the per-type daily series at
    * lags 2, 3, and 7 (lag 1 is q_autocorr's): Pearson r between the
    * series and its observed-day lag, long-format one row per
    * (type, lag). */
  def acfMulti(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val lagged = dailyByType(s, d)
      .withColumn("l2", lag(col("v"), 2).over(w))
      .withColumn("l3", lag(col("v"), 3).over(w))
      .withColumn("l7", lag(col("v"), 7).over(w))
    def acfFor(lagCol: String, lagN: Int): DataFrame = {
      val y = col(lagCol)
      val valid = lagged.filter(y.isNotNull)
      valid.groupBy(col("t"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,4)")).cast("double").as("sx"),
          sum(y.cast("decimal(18,4)")).cast("double").as("sy"),
          sum(round(col("v") * y, 4).cast("decimal(27,4)")).cast("double").as("sxy"),
          sum(round(col("v") * col("v"), 4).cast("decimal(27,4)")).cast("double").as("sxx"),
          sum(round(y * y, 4).cast("decimal(27,4)")).cast("double").as("syy"))
        .select(col("t"), lit(lagN).as("lag"), col("n"),
          round(pearson(col("n").cast("double"), col("sx"), col("sy"),
            col("sxy"), col("sxx"), col("syy")), 6).as("acf"))
    }
    acfFor("l2", 2).unionAll(acfFor("l3", 3)).unionAll(acfFor("l7", 7))
      .orderBy(col("t"), col("lag"))
  }

  val acfMultiOracle: String = {
    val legs = Seq(2, 3, 7).map { lagN =>
      s"""SELECT t, $lagN AS lag, cnt AS n,
        |  round((CAST(cnt AS DOUBLE)*sxy_s - sx_s*sy_s) /
        |    sqrt((CAST(cnt AS DOUBLE)*sxx_s - sx_s*sx_s) *
        |         (CAST(cnt AS DOUBLE)*syy_s - sy_s*sy_s)), 6) AS acf
        |FROM (SELECT t, count(*) AS cnt,
        |    CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sx_s,
        |    CAST(sum(CAST(l$lagN AS DECIMAL(18,4))) AS DOUBLE) AS sy_s,
        |    CAST(sum(CAST(round(v*l$lagN, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxy_s,
        |    CAST(sum(CAST(round(v*v, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxx_s,
        |    CAST(sum(CAST(round(l$lagN*l$lagN, 4) AS DECIMAL(27,4))) AS DOUBLE) AS syy_s
        |  FROM lagged WHERE l$lagN IS NOT NULL GROUP BY t) g$lagN""".stripMargin
    }
    s"""WITH daily AS ($dailyByTypeSql),
      |lagged AS (SELECT t, v,
      |    lag(v, 2) OVER w AS l2,
      |    lag(v, 3) OVER w AS l3,
      |    lag(v, 7) OVER w AS l7
      |  FROM daily WINDOW w AS (PARTITION BY t ORDER BY day))
      |${legs.mkString("", "\nUNION ALL\n", "")}
      |ORDER BY t, lag""".stripMargin
  }

  /** q_trend_slope — per-type OLS of the daily total against the day
    * index (days since the type's first observation, broadcast
    * |types|-row anchors): slope per day, intercept at day 0, and R²
    * — the parametric companion to q_mann_kendall's S/τ. */
  def trendSlope(s: SparkSession, d: String): DataFrame = {
    val dl = dailyByType(s, d)
    val anchor = dl.groupBy(col("t")).agg(min(col("day")).as("d0"))
    val xy = dl.join(broadcast(anchor), "t")
      .select(col("t"), datediff(col("day"), col("d0")).cast("double").as("x"),
        col("v").as("y"))
    val g = xy.groupBy(col("t")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,4)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(18,4)")).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 4).cast("decimal(27,4)")).cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 4).cast("decimal(27,4)")).cast("double").as("sxx"),
      sum(round(col("y") * col("y"), 4).cast("decimal(27,4)")).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    val icept = (col("sy") - slope * col("sx")) / nD
    val r = pearson(nD, col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
    g.select(col("t"), col("n").as("n_days"),
        round(slope, 6).as("slope"),
        round(icept, 4).as("intercept"),
        round(r * r, 6).as("r2"))
      .orderBy(col("t"))
  }

  val trendSlopeOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |anchor AS (SELECT t, min(day) AS d0 FROM daily GROUP BY 1),
      |xy AS (SELECT daily.t,
      |    CAST(date_diff('day', anchor.d0, daily.day) AS DOUBLE) AS x,
      |    daily.v AS y
      |  FROM daily JOIN anchor ON anchor.t = daily.t),
      |g AS (SELECT t, count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x*y, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(x*x, 4) AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(y*y, 4) AS DECIMAL(27,4))) AS DOUBLE) AS syy
      |  FROM xy GROUP BY 1)
      |SELECT t, n AS n_days,
      |  round((CAST(n AS DOUBLE)*sxy - sx*sy) /
      |    (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS slope,
      |  round((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy) /
      |    (CAST(n AS DOUBLE)*sxx - sx*sx))*sx) / CAST(n AS DOUBLE), 4)
      |    AS intercept,
      |  round(((CAST(n AS DOUBLE)*sxy - sx*sy) /
      |    sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
      |         (CAST(n AS DOUBLE)*syy - sy*sy))) *
      |    ((CAST(n AS DOUBLE)*sxy - sx*sy) /
      |    sqrt((CAST(n AS DOUBLE)*sxx - sx*sx) *
      |         (CAST(n AS DOUBLE)*syy - sy*sy))), 6) AS r2
      |FROM g ORDER BY t""".stripMargin

  /** q_theil_sen — the robust sibling of q_trend_slope: per type the
    * Theil–Sen estimator (exact median of all pairwise slopes over
    * the daily grid). The pair join is per-type and bounded by
    * horizon-days² — the same calendar-bounded pair grid
    * q_mann_kendall runs on; the median comes from a per-type
    * row_number window (partitioned, never global). */
  def theilSen(s: SparkSession, d: String): DataFrame = {
    // daily panel feeds both pair legs; the pair grid feeds the count
    // probe + rank pass — materialize once (round-8 scan gate: was 4
    // events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val dl = dailyByType(s, d).truncatedCheckpoint()
    val pairs = dl.as("a").join(broadcast(dl.as("b")),
        col("a.t") === col("b.t") && col("a.day") < col("b.day"))
      .select(col("a.t").as("t"),
        round((col("b.v") - col("a.v")) /
          datediff(col("b.day"), col("a.day")).cast("double"), 8).as("slope"),
        col("a.day").as("d1"), col("b.day").as("d2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("t"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val cnt = pairs.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
    pairs.withColumn("rn", row_number().over(w))
      .join(broadcast(cnt), "t")
      // lower median of the pair slopes: rank ceil(n/2) on the unique
      // total order — exact and engine-agnostic
      .where(col("rn") === ((col("n_pairs") + 1) / 2).cast("long"))
      .select(col("t"), col("n_pairs"), col("slope").as("ts_slope"))
      .orderBy(col("t"))
  }

  val theilSenOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |pairs AS (SELECT a.t,
      |    round((b.v - a.v) /
      |      CAST(date_diff('day', a.day, b.day) AS DOUBLE), 8) AS slope,
      |    a.day AS d1, b.day AS d2
      |  FROM daily a JOIN daily b ON b.t = a.t AND a.day < b.day),
      |ranked AS (SELECT t, slope,
      |    row_number() OVER (PARTITION BY t
      |      ORDER BY slope, d1, d2) AS rn,
      |    count(*) OVER (PARTITION BY t) AS n_pairs
      |  FROM pairs)
      |SELECT t, n_pairs, slope AS ts_slope
      |FROM ranked WHERE rn = (n_pairs + 1) // 2
      |ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_acf_multi" -> (acfMulti _),
    "q_trend_slope" -> (trendSlope _),
    "q_theil_sen" -> (theilSen _))

  val oracle: Map[String, String] = Map(
    "q_acf_multi" -> acfMultiOracle,
    "q_trend_slope" -> trendSlopeOracle,
    "q_theil_sen" -> theilSenOracle)
}
