package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #98: risk-adjusted performance completions
  * beside q_sharpe / q_drawdown / q_ulcer — the Sortino, Calmar, and
  * Omega ratios per event type, and a truncated-EMA MACD momentum
  * panel (12/26 EMAs with the 9-EMA signal line).
  *
  * Scale notes (100 TB): everything lives on the bounded (type, day)
  * grid; returns are type-partitioned lag windows; ratio moments are
  * single decimal folds; the MACD EMAs use q_ewma's truncated-lag
  * formulation — a PURE window projection (J lag terms with exact
  * power weights, renormalized over available history), no recursion
  * and no self-join, so the whole panel is one partitioned window
  * pass plus a second for the signal line.
  *
  * Determinism (D1–D5): daily values pinned at 4dp; returns at 8dp;
  * EMA weights are the same IEEE doubles in both engines (Scala
  * math.pow printed via BigDecimal into the oracle text — the
  * q_ewma convention); weighted terms round at 10dp into exact
  * decimal sums; ratios round at 6dp. */
object FinanceExtraQueries extends QueryFamily {

  /** q_risk_ratios — per type: Sortino (mean over downside
    * deviation), Calmar (annualized mean return over max drawdown of
    * the value series), and Omega at threshold 0 (gain sum over loss
    * sum), all off the daily return series. */
  def riskRatios(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = dailyByType(s, d)
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("peak", max(col("v")).over(wAll))
      .withColumn("dd", round((col("peak") - col("v")) / col("peak"), 8))
      .withColumn("ret", round((col("v") - col("prev")) / col("prev"), 8))
    def f(c: Column) = c.cast("double")
    val agg = r.groupBy(col("t")).agg(
      count(col("ret")).as("n"),
      sum(col("ret").cast("decimal(18,8)")).as("sr"),
      sum(when(col("ret") < 0,
        round(col("ret") * col("ret"), 12)).otherwise(lit(0.0))
        .cast("decimal(27,12)")).as("sdn"),
      sum(when(col("ret") > 0, col("ret")).otherwise(lit(0.0))
        .cast("decimal(18,8)")).as("gain"),
      sum(when(col("ret") < 0, -col("ret")).otherwise(lit(0.0))
        .cast("decimal(18,8)")).as("loss"),
      max(col("dd")).as("max_dd"))
    val nD = col("n").cast("double")
    val meanR = round(f(col("sr")) / nD, 10)
    agg.select(col("t"), col("n"), col("max_dd"),
        round(meanR / round(sqrt(round(f(col("sdn")) / nD, 12)), 10), 6)
          .as("sortino"),
        round(lit(365.0) * meanR / col("max_dd"), 6).as("calmar"),
        round(f(col("gain")) / f(col("loss")), 6).as("omega"))
      .orderBy(col("t"))
  }

  val riskRatiosOracle: String =
    s"""WITH d AS ($dailyByTypeSql),
       |r AS (SELECT t, day, v,
       |    lag(v) OVER (PARTITION BY t ORDER BY day) AS prev,
       |    max(v) OVER (PARTITION BY t ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM d),
       |rr AS (SELECT t,
       |    round((peak - v)/peak, 8) AS dd,
       |    round((v - prev)/prev, 8) AS ret
       |  FROM r),
       |agg AS (SELECT t, CAST(count(ret) AS BIGINT) AS n,
       |    sum(CAST(ret AS DECIMAL(18,8))) AS sr,
       |    sum(CAST(CASE WHEN ret < 0 THEN round(ret*ret, 12)
       |      ELSE 0.0 END AS DECIMAL(27,12))) AS sdn,
       |    sum(CAST(CASE WHEN ret > 0 THEN ret ELSE 0.0 END
       |      AS DECIMAL(18,8))) AS gain,
       |    sum(CAST(CASE WHEN ret < 0 THEN -ret ELSE 0.0 END
       |      AS DECIMAL(18,8))) AS loss,
       |    max(dd) AS max_dd
       |  FROM rr GROUP BY t)
       |SELECT t, n, max_dd,
       |  round(round(CAST(sr AS DOUBLE)/CAST(n AS DOUBLE), 10)
       |    /round(sqrt(round(CAST(sdn AS DOUBLE)/CAST(n AS DOUBLE), 12)),
       |      10), 6) AS sortino,
       |  round(365.0*round(CAST(sr AS DOUBLE)/CAST(n AS DOUBLE), 10)
       |    /max_dd, 6) AS calmar,
       |  round(CAST(gain AS DOUBLE)/CAST(loss AS DOUBLE), 6) AS omega
       |FROM agg ORDER BY t""".stripMargin

  /** Truncated-EMA column over `v`: J+1 lag terms with weights
    * (1−α)^j, renormalized over available history (q_ewma idiom).
    *
    * Unlike q_ewma's 10-term DECIMAL chain, 16–26 chained decimal
    * adds overflow Spark's precision-38 cap and silently SHRINK the
    * scale to 6 (allowPrecisionLoss) — caught as a 2.7e-4 oracle
    * mismatch. A horizontal projection sum has a FIXED evaluation
    * order, so 10dp-rounded DOUBLE terms added in the identical
    * left-associative tree are bit-identical cross-engine without
    * decimals. */
  private def emaCol(src: Column, w: org.apache.spark.sql.expressions.WindowSpec,
      alpha: Double, j: Int): Column = {
    val terms = (0 to j).map { i =>
      val lagv = lag(src, i).over(w)
      val wi = lit(math.pow(1.0 - alpha, i))
      (coalesce(round(lagv * wi, 10), lit(0.0)),
        when(lagv.isNotNull, round(wi, 10)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    round(num / den, 6)
  }

  private def emaSqlStr(src: String, alpha: Double, j: Int): String = {
    val terms = (0 to j).map { i =>
      val wi = java.math.BigDecimal.valueOf(math.pow(1.0 - alpha, i))
        .toPlainString
      (s"COALESCE(round(lag($src, $i) OVER w * $wi, 10), 0.0)",
        s"CASE WHEN lag($src, $i) OVER w IS NOT NULL THEN round(CAST($wi AS DOUBLE), 10) ELSE 0.0 END")
    }
    s"round((${terms.map(_._1).mkString(" + ")}) / " +
      s"(${terms.map(_._2).mkString(" + ")}), 6)"
  }

  /** q_macd — last 5 days per type of the MACD panel: truncated
    * 12/26 EMAs, their difference, and the 9-EMA signal line (a
    * second partitioned window pass over the macd column). */
  def macd(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    val base = dailyByType(s, d)
      .withColumn("ema12", emaCol(col("v"), w, 2.0 / 13, 15))
      .withColumn("ema26", emaCol(col("v"), w, 2.0 / 27, 25))
      .withColumn("macd", round(col("ema12") - col("ema26"), 6))
    val sig = base
      .withColumn("signal", emaCol(col("macd"), w, 2.0 / 10, 8))
      .withColumn("histo", round(col("macd") - col("signal"), 6))
    sig.withColumn("rn", row_number().over(
        Window.partitionBy(col("t")).orderBy(col("day").desc)))
      .filter(col("rn") <= 5).drop("rn")
      .select(col("t"), col("day"), col("v"), col("ema12"), col("ema26"),
        col("macd"), col("signal"), col("histo"))
      .orderBy(col("t"), col("day"))
  }

  val macdOracle: String =
    s"""WITH d AS ($dailyByTypeSql),
       |e AS (SELECT t, day, v,
       |    ${emaSqlStr("v", 2.0 / 13, 15)} AS ema12,
       |    ${emaSqlStr("v", 2.0 / 27, 25)} AS ema26
       |  FROM d WINDOW w AS (PARTITION BY t ORDER BY day)),
       |m AS (SELECT t, day, v, ema12, ema26,
       |    round(ema12 - ema26, 6) AS macd
       |  FROM e),
       |sg AS (SELECT t, day, v, ema12, ema26, macd,
       |    ${emaSqlStr("macd", 2.0 / 10, 8)} AS signal
       |  FROM m WINDOW w AS (PARTITION BY t ORDER BY day)),
       |top AS (SELECT *, row_number() OVER (PARTITION BY t
       |      ORDER BY day DESC) AS rn
       |  FROM sg)
       |SELECT t, day, v, ema12, ema26, macd, signal,
       |  round(macd - signal, 6) AS histo
       |FROM top WHERE rn <= 5
       |ORDER BY t, day""".stripMargin

  /** q_adstock — geometric adstock (Koyck) marketing response: the
    * click series decays into purchases with carryover λ=0.6 over a
    * 10-day truncation, and the response OLS compares the adstocked
    * regressor against raw clicks by R². The adstock transform is
    * NOT a sequential filter here: ONE join of the daily series
    * against a 10-row broadcast (offset, λ^j) grid re-keys every
    * observation to its target day, and a keyed sum assembles all
    * adstock values simultaneously. */
  def adstock(s: SparkSession, d: String): DataFrame = {
    val dd = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(when(col("event_type") === "click", lit(1))).as("x"),
        count(when(col("event_type") === "purchase", lit(1))).as("y"))
    val offs = s.range(0, 10).select(col("id").cast("int").as("j"),
      pow(lit(0.6), col("id").cast("double")).as("lam"))
    val ad = dd.crossJoin(broadcast(offs))
      .select(date_add(col("day"), col("j").cast("int")).as("tday"),
        round(col("lam") * col("x"), 6).as("wx"))
      .groupBy(col("tday"))
      .agg(count(lit(1)).as("k"),
        round(sum(col("wx").cast("decimal(18,6)")).cast("double"), 6)
          .as("adx"))
      .filter(col("k") === 10)
    val joined = dd.join(ad, col("day") === col("tday"))
      .select(col("day"), col("x").cast("double").as("x"),
        col("adx"), col("y").cast("double").as("y"))
    def f(c: String) = col(c).cast("double")
    def r2Of(xc: String): org.apache.spark.sql.Column = {
      val num = (f("n") * col(s"s_${xc}y") - col(s"s_$xc") * col("sy"))
      round(num * num
        / ((f("n") * col(s"s_${xc}$xc") - col(s"s_$xc") * col(s"s_$xc"))
          * (f("n") * col("syy") - col("sy") * col("sy"))), 6)
    }
    val m = joined.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,2)")).cast("double").as("s_x"),
      sum(col("adx").cast("decimal(18,6)")).cast("double").as("s_a"),
      sum(col("y").cast("decimal(18,2)")).cast("double").as("sy"),
      sum(round(col("x") * col("x"), 4).cast("decimal(27,4)"))
        .cast("double").as("s_xx"),
      sum(round(col("adx") * col("adx"), 6).cast("decimal(27,6)"))
        .cast("double").as("s_aa"),
      sum(round(col("x") * col("y"), 4).cast("decimal(27,4)"))
        .cast("double").as("s_xy"),
      sum(round(col("adx") * col("y"), 6).cast("decimal(27,6)"))
        .cast("double").as("s_ay"),
      sum(round(col("y") * col("y"), 4).cast("decimal(27,4)"))
        .cast("double").as("syy"))
    m.select(col("n"), r2Of("x").as("r2_raw"), r2Of("a").as("r2_adstock"))
  }

  val adstockOracle: String = {
    val lamRows = (0 to 9).map { j =>
      val lam = java.math.BigDecimal.valueOf(math.pow(0.6, j)).toPlainString
      s"SELECT $j AS j, CAST($lam AS DOUBLE) AS lam"
    }.mkString(" UNION ALL ")
    s"""WITH dd AS (SELECT CAST(ts AS DATE) AS day,
       |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
       |      AS BIGINT) AS x,
       |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
       |      AS BIGINT) AS y
       |  FROM events GROUP BY 1),
       |offs AS ($lamRows),
       |ad AS (SELECT tday,
       |    round(CAST(sum(CAST(wx AS DECIMAL(18,6))) AS DOUBLE), 6)
       |      AS adx
       |  FROM (SELECT day + j AS tday, round(lam*x, 6) AS wx
       |    FROM dd, offs) t
       |  GROUP BY tday HAVING count(*) = 10),
       |joined AS (SELECT day, CAST(x AS DOUBLE) AS x, adx,
       |    CAST(y AS DOUBLE) AS y
       |  FROM dd JOIN ad ON ad.tday = dd.day),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS s_x,
       |    CAST(sum(CAST(adx AS DECIMAL(18,6))) AS DOUBLE) AS s_a,
       |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(x*x, 4) AS DECIMAL(27,4))) AS DOUBLE)
       |      AS s_xx,
       |    CAST(sum(CAST(round(adx*adx, 6) AS DECIMAL(27,6)))
       |      AS DOUBLE) AS s_aa,
       |    CAST(sum(CAST(round(x*y, 4) AS DECIMAL(27,4))) AS DOUBLE)
       |      AS s_xy,
       |    CAST(sum(CAST(round(adx*y, 6) AS DECIMAL(27,6))) AS DOUBLE)
       |      AS s_ay,
       |    CAST(sum(CAST(round(y*y, 4) AS DECIMAL(27,4))) AS DOUBLE)
       |      AS syy
       |  FROM joined)
       |SELECT n,
       |  round((CAST(n AS DOUBLE)*s_xy - s_x*sy)
       |    *(CAST(n AS DOUBLE)*s_xy - s_x*sy)
       |    /((CAST(n AS DOUBLE)*s_xx - s_x*s_x)
       |      *(CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS r2_raw,
       |  round((CAST(n AS DOUBLE)*s_ay - s_a*sy)
       |    *(CAST(n AS DOUBLE)*s_ay - s_a*sy)
       |    /((CAST(n AS DOUBLE)*s_aa - s_a*s_a)
       |      *(CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS r2_adstock
       |FROM m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_risk_ratios" -> (riskRatios _),
    "q_macd" -> (macd _),
    "q_adstock" -> (adstock _))

  val oracle: Map[String, String] = Map(
    "q_risk_ratios" -> riskRatiosOracle,
    "q_macd" -> macdOracle,
    "q_adstock" -> adstockOracle)
}
