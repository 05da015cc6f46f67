package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #80: statistical process control — the
  * individuals (X/MR) control chart over each type's daily activity
  * with out-of-limit and longest-run-one-side signals, and the
  * process-capability indices Cp / Cpk against fixed spec limits
  * (the manufacturing-ops view the monitoring shelf was missing).
  *
  * Scale notes (100 TB): both live on the bounded (type, day) grid;
  * moving ranges and run lengths use type-partitioned windows only
  * (the run-length "islands" come from the two-row_number gap trick,
  * both partitioned); capability is a single decimal-moment fold.
  *
  * Determinism: daily values pinned at 4dp; moving ranges at 4dp into
  * decimal sums; 2.66 / 3.0 / 6.0 constants exact; sqrt IEEE-exact;
  * final 6dp. */
object SpcQueries extends QueryFamily {

  /** q_control_chart — per type: the individuals-chart panel
    * (centerline, average moving range, UCL/LCL at ±2.66·MR̄),
    * out-of-limit day counts, and the longest run of consecutive
    * days on one side of the centerline (the classic runs-rule
    * signal). */
  def controlChart(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
    // per-(type, day) panel feeds the limit fold + the flag pass; the
    // flagged panel feeds the run and out-of-bounds folds —
    // materialize each once (round-8 scan gate: was 5 events scans)
    val base = dailyByType(s, d)
      .withColumn("mr", round(abs(col("v") - lag(col("v"), 1).over(w)), 4))
      .truncatedCheckpoint()
    val stats = base.groupBy(col("t")).agg(
      count(lit(1)).as("n_days"),
      round(sum(col("v").cast("decimal(18,4)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("center"),
      round(sum(col("mr").cast("decimal(18,4)")).cast("double")
        / count(col("mr")).cast("double"), 6).as("mr_bar"))
    val limits = stats.select(col("t"), col("n_days"), col("center"),
      col("mr_bar"),
      round(col("center") + lit(2.66) * col("mr_bar"), 6).as("ucl"),
      round(col("center") - lit(2.66) * col("mr_bar"), 6).as("lcl"))
    val flagged = base.join(broadcast(limits), "t")
      .withColumn("side", when(col("v") > col("center"), lit(1))
        .when(col("v") < col("center"), lit(-1)).otherwise(lit(0)))
      .withColumn("rn", row_number().over(w))
      .withColumn("rns", row_number().over(
        Window.partitionBy(col("t"), col("side")).orderBy(col("day"))))
      .truncatedCheckpoint()
    val runs = flagged.filter(col("side") =!= 0)
      .groupBy(col("t"), col("side"), (col("rn") - col("rns")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("t")).agg(max(col("len")).as("max_run"))
    val oob = flagged.groupBy(col("t")).agg(
      count(when(col("v") > col("ucl"), lit(1))).as("n_above_ucl"),
      count(when(col("v") < col("lcl"), lit(1))).as("n_below_lcl"))
    limits.join(oob, "t").join(runs, "t")
      .select(col("t"), col("n_days"), col("center"), col("mr_bar"),
        col("ucl"), col("lcl"), col("n_above_ucl"), col("n_below_lcl"),
        col("max_run"))
      .orderBy(col("t"))
  }

  val controlChartOracle: String =
    s"""WITH daily AS ($dailyByTypeSql),
      |base AS (SELECT t, day, v,
      |    round(abs(v - lag(v) OVER (PARTITION BY t ORDER BY day)), 4)
      |      AS mr
      |  FROM daily),
      |stats AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days,
      |    round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 6) AS center,
      |    round(CAST(sum(CAST(mr AS DECIMAL(18,4))) AS DOUBLE)
      |      /CAST(count(mr) AS DOUBLE), 6) AS mr_bar
      |  FROM base GROUP BY 1),
      |limits AS (SELECT t, n_days, center, mr_bar,
      |    round(center + 2.66*mr_bar, 6) AS ucl,
      |    round(center - 2.66*mr_bar, 6) AS lcl
      |  FROM stats),
      |flagged AS (SELECT base.t, day, v, center, ucl, lcl,
      |    CASE WHEN v > center THEN 1 WHEN v < center THEN -1
      |      ELSE 0 END AS side,
      |    row_number() OVER (PARTITION BY base.t ORDER BY day) AS rn,
      |    row_number() OVER (PARTITION BY base.t,
      |      CASE WHEN v > center THEN 1 WHEN v < center THEN -1
      |        ELSE 0 END ORDER BY day) AS rns
      |  FROM base JOIN limits ON limits.t = base.t),
      |runs AS (SELECT t, CAST(max(len) AS BIGINT) AS max_run
      |  FROM (SELECT t, side, rn - rns AS grp,
      |      CAST(count(*) AS BIGINT) AS len
      |    FROM flagged WHERE side <> 0 GROUP BY 1, 2, 3)
      |  GROUP BY 1),
      |oob AS (SELECT t,
      |    CAST(count(CASE WHEN v > ucl THEN 1 END) AS BIGINT)
      |      AS n_above_ucl,
      |    CAST(count(CASE WHEN v < lcl THEN 1 END) AS BIGINT)
      |      AS n_below_lcl
      |  FROM flagged GROUP BY 1)
      |SELECT limits.t, n_days, center, mr_bar, ucl, lcl,
      |  n_above_ucl, n_below_lcl, max_run
      |FROM limits JOIN oob ON oob.t = limits.t
      |JOIN runs ON runs.t = limits.t
      |ORDER BY limits.t""".stripMargin

  /** q_cpk — process capability of the raw event value stream per
    * type against spec limits [0, 100]: Cp = (USL−LSL)/6σ,
    * Cpk = min(USL−μ, μ−LSL)/3σ (sample σ from decimal moments). */
  def cpk(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).as("sx"),
      sum(round(col("value") * col("value"), 6).cast("decimal(27,6)"))
        .as("sxx"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double"); val sxx = col("sxx").cast("double")
    val mu = sx / nD
    val sigma = sqrt(round((nD * sxx - sx * sx)
      / (nD * (nD - lit(1.0))), 8))
    m.select(col("event_type"), col("n"), round(mu, 6).as("mu"),
        round(sigma, 6).as("sigma"),
        round(lit(100.0) / (lit(6.0) * sigma), 6).as("cp"),
        round(least(lit(100.0) - mu, mu) / (lit(3.0) * sigma), 6)
          .as("cpk"))
      .orderBy(col("event_type"))
  }

  val cpkOracle: String =
    """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(value*value, 6) AS DECIMAL(27,6)))
      |      AS DOUBLE) AS sxx
      |  FROM events GROUP BY 1)
      |SELECT event_type, n,
      |  round(sx/CAST(n AS DOUBLE), 6) AS mu,
      |  round(sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8)), 6)
      |    AS sigma,
      |  round(100.0/(6.0*sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8))), 6) AS cp,
      |  round(least(100.0 - sx/CAST(n AS DOUBLE), sx/CAST(n AS DOUBLE))
      |    /(3.0*sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8))), 6)
      |    AS cpk
      |FROM m ORDER BY event_type""".stripMargin

  /** q_cusum — tabular CUSUM per type over the daily values, WITHOUT
    * the sequential recurrence: S⁺_i = max(0, S⁺_{i-1} + (x−μ−k)) is
    * algebraically P_i − min(0, min_{j≤i} P_j) for P = the prefix sum
    * of (x−μ−k), so both one-sided CUSUMs come from ONE
    * type-partitioned cumulative-sum + running-min pass over exact
    * decimals — the same distributed shape as every other chart here,
    * where the textbook loop is unparallelizable. Reports the
    * decision-interval (h = 4σ) signal count, extremes, and first
    * alarm day per type. */
  def cusum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = dailyByType(s, d).groupBy(col("t")).agg(
      count(lit(1)).as("n_days"),
      sum(col("v").cast("decimal(18,4)")).as("sv"),
      sum((col("v") * col("v")).cast("decimal(27,8)")).as("svv"))
    def f(c: String) = col(c).cast("double")
    val nD = col("n_days").cast("double")
    val mu = round(f("sv") / nD, 8)
    val sd = round(sqrt(round((nD * f("svv") - f("sv") * f("sv"))
      / (nD * (nD - lit(1.0))), 8)), 8)
    val lim = stats.select(col("t"), col("n_days"), mu.as("mu"),
      round(lit(0.5) * sd, 8).as("k"), round(lit(4.0) * sd, 8).as("h"))
    val zero = lit(BigDecimal(0)).cast("decimal(27,8)")
    val walk = dailyByType(s, d).join(broadcast(lim), "t")
      .withColumn("tu", round(col("v") - col("mu") - col("k"), 8)
        .cast("decimal(27,8)"))
      .withColumn("td", round(col("mu") - col("k") - col("v"), 8)
        .cast("decimal(27,8)"))
      .withColumn("pu", sum(col("tu")).over(w))
      .withColumn("pd", sum(col("td")).over(w))
      .withColumn("sp", round((col("pu")
        - least(zero, min(col("pu")).over(w))).cast("double"), 6))
      .withColumn("sm", round((col("pd")
        - least(zero, min(col("pd")).over(w))).cast("double"), 6))
    walk.groupBy(col("t")).agg(
        first(col("n_days")).as("n_days"),
        first(col("h")).as("h"),
        max(col("sp")).as("max_sp"),
        max(col("sm")).as("max_sm"),
        count(when(col("sp") > col("h") || col("sm") > col("h"), lit(1)))
          .as("n_signal"),
        min(when(col("sp") > col("h") || col("sm") > col("h"),
          col("day"))).as("first_signal_day"))
      .orderBy(col("t"))
  }

  val cusumOracle: String =
    s"""WITH d AS ($dailyByTypeSql),
       |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days,
       |    sum(CAST(v AS DECIMAL(18,4))) AS sv,
       |    sum(CAST(v*v AS DECIMAL(27,8))) AS svv
       |  FROM d GROUP BY t),
       |lim AS (SELECT t, n_days,
       |    round(CAST(sv AS DOUBLE)/CAST(n_days AS DOUBLE), 8) AS mu,
       |    round(0.5*round(sqrt(round((CAST(n_days AS DOUBLE)
       |      *CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
       |      /(CAST(n_days AS DOUBLE)*(CAST(n_days AS DOUBLE) - 1.0)),
       |      8)), 8), 8) AS k,
       |    round(4.0*round(sqrt(round((CAST(n_days AS DOUBLE)
       |      *CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
       |      /(CAST(n_days AS DOUBLE)*(CAST(n_days AS DOUBLE) - 1.0)),
       |      8)), 8), 8) AS h
       |  FROM m),
       |walk AS (SELECT d.t, d.day, lim.n_days, lim.h,
       |    CAST(round(v - mu - k, 8) AS DECIMAL(27,8)) AS tu,
       |    CAST(round(mu - k - v, 8) AS DECIMAL(27,8)) AS td
       |  FROM d JOIN lim ON lim.t = d.t),
       |pfx AS (SELECT t, day, n_days, h,
       |    sum(tu) OVER (PARTITION BY t ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
       |    sum(td) OVER (PARTITION BY t ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
       |  FROM walk),
       |s AS (SELECT t, day, n_days, h,
       |    round(CAST(pu - least(CAST(0 AS DECIMAL(27,8)),
       |      min(pu) OVER (PARTITION BY t ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |      AS DOUBLE), 6) AS sp,
       |    round(CAST(pd - least(CAST(0 AS DECIMAL(27,8)),
       |      min(pd) OVER (PARTITION BY t ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |      AS DOUBLE), 6) AS sm
       |  FROM pfx)
       |SELECT t, any_value(n_days) AS n_days, any_value(h) AS h,
       |  max(sp) AS max_sp, max(sm) AS max_sm,
       |  CAST(count(CASE WHEN sp > h OR sm > h THEN 1 END) AS BIGINT)
       |    AS n_signal,
       |  min(CASE WHEN sp > h OR sm > h THEN day END)
       |    AS first_signal_day
       |FROM s GROUP BY t ORDER BY t""".stripMargin

  /** q_p_chart — the attribute (proportion) control chart on the
    * daily purchase share with VARYING binomial limits p̄ ±
    * 3√(p̄(1−p̄)/n_t) (unequal daily volumes get their own limit
    * width — the np-chart's fixed-limit shortcut is wrong here).
    * One daily contraction + a broadcast centerline; reports the
    * violation count and the top-5 most extreme days by |z|. */
  def pChart(s: SparkSession, d: String): DataFrame = {
    // daily grid feeds the center probe + score/violation branches
    // — materialize once (round-8 scan gate: was 4 events scans)
    val dd = events(s, d).groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "purchase", lit(1))).as("x"))
      .truncatedCheckpoint()
    val center = dd.agg(sum(col("x")).as("sx"), sum(col("n")).as("sn"))
      .select(round(col("sx").cast("double")
        / col("sn").cast("double"), 8).as("pbar"))
    def f(c: String) = col(c).cast("double")
    val scored = dd.crossJoin(broadcast(center))
      .withColumn("p", round(f("x") / f("n"), 8))
      .withColumn("se", round(sqrt(round(col("pbar")
        * (lit(1.0) - col("pbar")) / f("n"), 12)), 8))
      .withColumn("z", round((col("p") - col("pbar")) / col("se"), 4))
    val viol = scored.agg(count(lit(1)).as("n_days"),
      count(when(abs(col("z")) > 3.0, lit(1))).as("n_violations"))
    scored.select(col("day"), col("p"), col("pbar"), col("z"))
      .withColumn("az", abs(col("z")))
      .orderBy(col("az").desc, col("day")).limit(5).drop("az")
      .crossJoin(broadcast(viol))
      .orderBy(col("day"))
  }

  val pChartOracle: String =
    """WITH dd AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |c AS (SELECT round(CAST(sum(x) AS DOUBLE)
      |    /CAST(sum(n) AS DOUBLE), 8) AS pbar FROM dd),
      |scored AS (SELECT day,
      |    round(CAST(x AS DOUBLE)/CAST(n AS DOUBLE), 8) AS p, pbar,
      |    round((round(CAST(x AS DOUBLE)/CAST(n AS DOUBLE), 8) - pbar)
      |      /round(sqrt(round(pbar*(1.0 - pbar)/CAST(n AS DOUBLE),
      |        12)), 8), 4) AS z
      |  FROM dd, c),
      |viol AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(count(CASE WHEN abs(z) > 3.0 THEN 1 END) AS BIGINT)
      |      AS n_violations
      |  FROM scored),
      |top5 AS (SELECT day, p, pbar, z FROM scored
      |  ORDER BY abs(z) DESC, day LIMIT 5)
      |SELECT day, p, pbar, z, n_days, n_violations
      |FROM top5, viol ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_control_chart" -> (controlChart _),
    "q_cpk" -> (cpk _),
    "q_cusum" -> (cusum _),
    "q_p_chart" -> (pChart _))

  val oracle: Map[String, String] = Map(
    "q_control_chart" -> controlChartOracle,
    "q_cpk" -> cpkOracle,
    "q_cusum" -> cusumOracle,
    "q_p_chart" -> pChartOracle)
}
