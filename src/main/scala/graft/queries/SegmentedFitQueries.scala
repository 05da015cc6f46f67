package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #107: segmented (broken-stick) regression — fit
  * TWO lines to the daily purchase series with the breakpoint chosen
  * by least squares over a candidate grid (every 5th day index), the
  * trend-with-regime-change companion to q_changepoint's mean shift
  * and q_trend_slope's single line.
  *
  * The Spark-first shape: NO per-candidate pass. The daily series
  * contracts once; a single distributed prefix pass
  * ([[graft.operators.PrefixOps]]) carries the six OLS moments
  * (n, Σi, Σi², Σy, Σiy, Σy²), and each candidate's left/right
  * moments are ALGEBRA on its inclusive-prefix row (left = prefix −
  * own, right = total − left). Both segment RSS values come from the
  * closed form RSS = Σy² − 2b₀Σy − 2b₁Σiy + nb₀² + 2b₀b₁Σi + b₁²Σi²
  * — no residual pass at all. Argmin via TakeOrderedAndProject.
  *
  * Determinism (D1–D5): daily counts make every moment an exact
  * BIGINT; coefficients 8dp; RSS terms evaluate in ONE shared
  * expression order, 6dp; the candidate day is the argmin tiebreak. */
object SegmentedFitQueries extends QueryFamily {

  /** q_segmented — best month-boundary breakpoint: per-side slopes,
    * split RSS, and the single-line RSS it beats. */
  def segmented(s: SparkSession, d: String): DataFrame = {
    val daily0 = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily0.agg(min(col("day")).as("d0"))
    val daily = daily0.crossJoin(broadcast(d0))
      .select(col("day"), datediff(col("day"), col("d0")).as("i"),
        col("y"))
      // indexed daily grid feeds the prefix sweep + the total moments
      // — materialize once (round-8 scan gate: was 4 events scans)
      .truncatedCheckpoint()
    val cum = graft.operators.PrefixOps.runningSums(daily,
      col("i"), Seq(col("i")),
      Seq("cn" -> lit(1L), "ci" -> col("i").cast("long"),
        "cii" -> (col("i") * col("i")).cast("long"),
        "cy" -> col("y"), "ciy" -> (col("i") * col("y")),
        "cyy" -> (col("y") * col("y"))))
    val tot = daily.agg(count(lit(1)).as("tn"),
      sum(col("i").cast("long")).as("ti"),
      sum((col("i") * col("i")).cast("long")).as("tii"),
      sum(col("y")).as("ty"), sum(col("i") * col("y")).as("tiy"),
      sum(col("y") * col("y")).as("tyy"))
    def fit(n: Column, si: Column, sii: Column, sy: Column,
        siy: Column, syy: Column): (Column, Column, Column) = {
      val nD = n.cast("double")
      def dd(c: Column) = c.cast("double")
      val b1 = round((nD * dd(siy) - dd(si) * dd(sy)) /
        (nD * dd(sii) - dd(si) * dd(si)), 8)
      val b0 = round((dd(sy) - b1 * dd(si)) / nD, 8)
      val rss = round(dd(syy) - lit(2.0) * b0 * dd(sy)
        - lit(2.0) * b1 * dd(siy) + nD * b0 * b0
        + lit(2.0) * b0 * b1 * dd(si) + b1 * b1 * dd(sii), 6)
      (b0, b1, rss)
    }
    val cand = cum.filter(col("i") % 5 === 0 && col("i") > 0)
      .crossJoin(broadcast(tot))
      .select(col("day"),
        (col("cn") - 1).as("ln"), (col("ci") - col("i")).as("li"),
        (col("cii") - col("i") * col("i")).as("lii"),
        (col("cy") - col("y")).as("ly"),
        (col("ciy") - col("i") * col("y")).as("liy"),
        (col("cyy") - col("y") * col("y")).as("lyy"),
        col("tn"), col("ti"), col("tii"), col("ty"), col("tiy"),
        col("tyy"))
      .withColumn("rn", col("tn") - col("ln"))
      .withColumn("ri", col("ti") - col("li"))
      .withColumn("rii", col("tii") - col("lii"))
      .withColumn("ry", col("ty") - col("ly"))
      .withColumn("riy", col("tiy") - col("liy"))
      .withColumn("ryy", col("tyy") - col("lyy"))
      .filter(col("ln") >= 3 && col("rn") >= 3)
    val (_, bl1, rssL) = fit(col("ln"), col("li"), col("lii"),
      col("ly"), col("liy"), col("lyy"))
    val (_, br1, rssR) = fit(col("rn"), col("ri"), col("rii"),
      col("ry"), col("riy"), col("ryy"))
    val (_, bs1, rssS) = fit(col("tn"), col("ti"), col("tii"),
      col("ty"), col("tiy"), col("tyy"))
    cand.select(col("day").as("break_day"), col("ln").as("n_left"),
        col("rn").as("n_right"), bl1.as("b1_left"), br1.as("b1_right"),
        round(rssL + rssR, 6).as("rss_split"),
        rssS.as("rss_single"), bs1.as("b1_single"))
      .orderBy(col("rss_split"), col("break_day"))
      .limit(1)
  }

  val segmentedOracle: String =
    """WITH daily0 AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d0 AS (SELECT min(day) AS d0 FROM daily0),
      |daily AS (SELECT day,
      |    CAST(date_diff('day', d0, day) AS BIGINT) AS i, y
      |  FROM daily0, d0),
      |cum AS (SELECT day, i, y,
      |    CAST(count(*) OVER w AS BIGINT) AS cn,
      |    CAST(sum(i) OVER w AS BIGINT) AS ci,
      |    CAST(sum(i*i) OVER w AS BIGINT) AS cii,
      |    CAST(sum(y) OVER w AS BIGINT) AS cy,
      |    CAST(sum(i*y) OVER w AS BIGINT) AS ciy,
      |    CAST(sum(y*y) OVER w AS BIGINT) AS cyy
      |  FROM daily
      |  WINDOW w AS (ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS tn,
      |    CAST(sum(i) AS BIGINT) AS ti,
      |    CAST(sum(i*i) AS BIGINT) AS tii,
      |    CAST(sum(y) AS BIGINT) AS ty,
      |    CAST(sum(i*y) AS BIGINT) AS tiy,
      |    CAST(sum(y*y) AS BIGINT) AS tyy
      |  FROM daily),
      |cand AS (SELECT day, cn - 1 AS ln, ci - i AS li,
      |    cii - i*i AS lii, cy - y AS ly, ciy - i*y AS liy,
      |    cyy - y*y AS lyy,
      |    tn, ti, tii, ty, tiy, tyy,
      |    tn - (cn - 1) AS rn, ti - (ci - i) AS ri,
      |    tii - (cii - i*i) AS rii, ty - (cy - y) AS ry,
      |    tiy - (ciy - i*y) AS riy, tyy - (cyy - y*y) AS ryy
      |  FROM cum, tot
      |  WHERE i % 5 = 0 AND i > 0 AND cn - 1 >= 3
      |    AND tn - (cn - 1) >= 3),
      |fits AS (SELECT day, ln, rn,
      |    round((CAST(ln AS DOUBLE)*CAST(liy AS DOUBLE)
      |      - CAST(li AS DOUBLE)*CAST(ly AS DOUBLE))
      |      /(CAST(ln AS DOUBLE)*CAST(lii AS DOUBLE)
      |      - CAST(li AS DOUBLE)*CAST(li AS DOUBLE)), 8) AS bl1,
      |    round((CAST(rn AS DOUBLE)*CAST(riy AS DOUBLE)
      |      - CAST(ri AS DOUBLE)*CAST(ry AS DOUBLE))
      |      /(CAST(rn AS DOUBLE)*CAST(rii AS DOUBLE)
      |      - CAST(ri AS DOUBLE)*CAST(ri AS DOUBLE)), 8) AS br1,
      |    round((CAST(tn AS DOUBLE)*CAST(tiy AS DOUBLE)
      |      - CAST(ti AS DOUBLE)*CAST(ty AS DOUBLE))
      |      /(CAST(tn AS DOUBLE)*CAST(tii AS DOUBLE)
      |      - CAST(ti AS DOUBLE)*CAST(ti AS DOUBLE)), 8) AS bs1,
      |    li, lii, ly, liy, lyy, ri, rii, ry, riy, ryy,
      |    ti, tii, ty, tiy, tyy, tn
      |  FROM cand),
      |f2 AS (SELECT day, ln, rn, bl1, br1, bs1,
      |    round((CAST(ly AS DOUBLE) - bl1*CAST(li AS DOUBLE))
      |      /CAST(ln AS DOUBLE), 8) AS bl0,
      |    round((CAST(ry AS DOUBLE) - br1*CAST(ri AS DOUBLE))
      |      /CAST(rn AS DOUBLE), 8) AS br0,
      |    round((CAST(ty AS DOUBLE) - bs1*CAST(ti AS DOUBLE))
      |      /CAST(tn AS DOUBLE), 8) AS bs0,
      |    li, lii, ly, liy, lyy, ri, rii, ry, riy, ryy,
      |    ti, tii, ty, tiy, tyy, tn
      |  FROM fits),
      |scored AS (SELECT day AS break_day, ln AS n_left, rn AS n_right,
      |    bl1 AS b1_left, br1 AS b1_right,
      |    round(round(CAST(lyy AS DOUBLE) - 2.0*bl0*CAST(ly AS DOUBLE)
      |        - 2.0*bl1*CAST(liy AS DOUBLE)
      |        + CAST(ln AS DOUBLE)*bl0*bl0
      |        + 2.0*bl0*bl1*CAST(li AS DOUBLE)
      |        + bl1*bl1*CAST(lii AS DOUBLE), 6)
      |      + round(CAST(ryy AS DOUBLE) - 2.0*br0*CAST(ry AS DOUBLE)
      |        - 2.0*br1*CAST(riy AS DOUBLE)
      |        + CAST(rn AS DOUBLE)*br0*br0
      |        + 2.0*br0*br1*CAST(ri AS DOUBLE)
      |        + br1*br1*CAST(rii AS DOUBLE), 6), 6) AS rss_split,
      |    round(CAST(tyy AS DOUBLE) - 2.0*bs0*CAST(ty AS DOUBLE)
      |      - 2.0*bs1*CAST(tiy AS DOUBLE)
      |      + CAST(tn AS DOUBLE)*bs0*bs0
      |      + 2.0*bs0*bs1*CAST(ti AS DOUBLE)
      |      + bs1*bs1*CAST(tii AS DOUBLE), 6) AS rss_single,
      |    bs1 AS b1_single
      |  FROM f2)
      |SELECT * FROM scored
      |ORDER BY rss_split, break_day LIMIT 1""".stripMargin

  /** q_walk_forward — expanding-window one-step-ahead backtest of
    * the daily trend OLS over the last 10 days: for each target day,
    * the model trains on ALL strictly earlier days — and there is NO
    * per-fold pass, because the same inclusive-prefix moments that
    * power q_segmented give every fold's coefficients as algebra on
    * its own row (train moments = prefix − own). Reports per-day
    * forecast errors and the MAE. */
  def walkForward(s: SparkSession, d: String): DataFrame = {
    val daily0 = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily0.agg(min(col("day")).as("d0"),
      count(lit(1)).as("n_days"))
    val daily = daily0.crossJoin(broadcast(d0))
      .select(col("day"), datediff(col("day"), col("d0")).as("i"),
        col("y"), col("n_days"))
    val cum = graft.operators.PrefixOps.runningSums(daily,
      col("i"), Seq(col("i")),
      Seq("cn" -> lit(1L), "ci" -> col("i").cast("long"),
        "cii" -> (col("i") * col("i")).cast("long"),
        "cy" -> col("y"), "ciy" -> (col("i") * col("y"))))
    def f(c: org.apache.spark.sql.Column) = c.cast("double")
    // train = strictly-before moments (prefix minus own row)
    val folds = cum
      .withColumn("tn", col("cn") - 1)
      .withColumn("ti", col("ci") - col("i"))
      .withColumn("tii", col("cii") - col("i") * col("i"))
      .withColumn("ty", col("cy") - col("y"))
      .withColumn("tiy", col("ciy") - col("i") * col("y"))
      .filter(col("cn") > col("n_days") - 10 && col("tn") >= 3)
    val b1 = round((f(col("tn")) * f(col("tiy"))
      - f(col("ti")) * f(col("ty"))) /
      (f(col("tn")) * f(col("tii")) - f(col("ti")) * f(col("ti"))), 8)
    val scored = folds
      .withColumn("b1", b1)
      .withColumn("b0", round((f(col("ty")) - col("b1") * f(col("ti")))
        / f(col("tn")), 8))
      .withColumn("err", round(f(col("y"))
        - (col("b0") + col("b1") * f(col("i"))), 4))
    val mae = scored.agg(round(sum(round(abs(col("err")), 4)
      .cast("decimal(18,4)")).cast("double")
      / count(lit(1)).cast("double"), 4).as("mae"))
    scored.select(col("day"), col("y"), col("b1"),
        round(col("b0") + col("b1") * f(col("i")), 4).as("forecast"),
        col("err"))
      .crossJoin(broadcast(mae))
      .orderBy(col("day"))
  }

  val walkForwardOracle: String =
    """WITH daily0 AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d0 AS (SELECT min(day) AS d0, CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily0),
      |daily AS (SELECT day,
      |    CAST(date_diff('day', d0, day) AS BIGINT) AS i, y, n_days
      |  FROM daily0, d0),
      |cum AS (SELECT day, i, y, n_days,
      |    CAST(count(*) OVER w AS BIGINT) AS cn,
      |    CAST(sum(i) OVER w AS BIGINT) AS ci,
      |    CAST(sum(i*i) OVER w AS BIGINT) AS cii,
      |    CAST(sum(y) OVER w AS BIGINT) AS cy,
      |    CAST(sum(i*y) OVER w AS BIGINT) AS ciy
      |  FROM daily
      |  WINDOW w AS (ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |folds AS (SELECT day, i, y, n_days,
      |    cn - 1 AS tn, ci - i AS ti, cii - i*i AS tii,
      |    cy - y AS ty, ciy - i*y AS tiy
      |  FROM cum
      |  WHERE cn > n_days - 10 AND cn - 1 >= 3),
      |scored AS (SELECT day, y, i,
      |    round((CAST(tn AS DOUBLE)*CAST(tiy AS DOUBLE)
      |      - CAST(ti AS DOUBLE)*CAST(ty AS DOUBLE))
      |      /(CAST(tn AS DOUBLE)*CAST(tii AS DOUBLE)
      |      - CAST(ti AS DOUBLE)*CAST(ti AS DOUBLE)), 8) AS b1,
      |    tn, ti, ty
      |  FROM folds),
      |s2 AS (SELECT day, y, i, b1,
      |    round((CAST(ty AS DOUBLE) - b1*CAST(ti AS DOUBLE))
      |      /CAST(tn AS DOUBLE), 8) AS b0
      |  FROM scored),
      |s3 AS (SELECT day, y, b1,
      |    round(b0 + b1*CAST(i AS DOUBLE), 4) AS forecast,
      |    round(CAST(y AS DOUBLE) - (b0 + b1*CAST(i AS DOUBLE)), 4)
      |      AS err
      |  FROM s2),
      |mae AS (SELECT round(CAST(sum(CAST(round(abs(err), 4)
      |      AS DECIMAL(18,4))) AS DOUBLE)/CAST(count(*) AS DOUBLE), 4)
      |      AS mae
      |  FROM s3)
      |SELECT day, y, b1, forecast, err, mae
      |FROM s3, mae ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_segmented" -> (segmented _),
    "q_walk_forward" -> (walkForward _))

  val oracle: Map[String, String] = Map(
    "q_segmented" -> segmentedOracle,
    "q_walk_forward" -> walkForwardOracle)
}
