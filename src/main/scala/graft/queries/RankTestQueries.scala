package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #44: rank-based nonparametric tests — the
  * distribution-free two-sample and k-sample location tests plus the
  * rank correlation on a bounded grid. Completes the inference shelf
  * next to q_ks_test (distances), q_welch_t (parametric), and
  * q_mann_kendall (trend).
  *
  * Scale notes (100 TB): midranks NEVER come from a per-row global
  * rank. Both rank tests first contract the relation to
  * per-distinct-value counts (one keyed shuffle), then derive the
  * rank of each value group from a distributed prefix sum over the
  * contracted domain ([[graft.operators.PrefixOps.runningSums]]:
  * range buckets + partitioned windows + broadcast offsets) — the
  * q_auc shape. Kendall's τ runs on the aggregated daily calendar
  * (≤ |days|² pairs, broadcast self-join), the q_mann_kendall grid
  * shape.
  *
  * Determinism: midranks step in exact halves → DECIMAL(18,2) sums
  * are order-independent; tie terms are exact integers; per-group
  * Σr²/n terms are rounded then DECIMAL-summed so the 5-term
  * reduction is order-independent too; doubles appear only in the
  * final scalar arithmetic, rounded at output (SURVEY.md D2).
  */
object RankTestQueries extends QueryFamily {

  /** Pooled per-distinct-value midranks of `value` over `events` —
    * rank(v) = 1 + #rows before v (prefix count), midrank = rank +
    * (ties−1)/2. Also carries any per-value companion counts the
    * caller aggregated alongside. */
  private def midranks(byVal: DataFrame): DataFrame =
    graft.operators.PrefixOps.runningSums(byVal,
        col("value"), Seq(col("value")), Seq("ccnt" -> col("cnt")))
      .withColumn("rk", col("ccnt") - col("cnt") + 1)
      .withColumn("midrank",
        (col("rk") + (col("cnt") - 1) / lit(2.0)).cast("decimal(18,2)"))

  /** q_mann_whitney — exact Mann–Whitney U (Wilcoxon rank-sum) of
    * `value`, weekend vs weekday, with the tie-corrected normal
    * approximation:
    * U_we = R_we − n_we(n_we+1)/2,
    * σ² = n_we·n_wd/12 · ((N+1) − Σ(t³−t)/(N(N−1))),
    * z = (U_we − n_we·n_wd/2)/σ. */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("value"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val byVal = e.groupBy(col("value")).agg(
      count(lit(1)).as("cnt"),
      count(when(col("we"), lit(1))).as("we_cnt"))
    val r = midranks(byVal)
    r.agg(
        sum(col("we_cnt") * col("midrank")).as("r_we"),
        sum(col("we_cnt")).cast("long").as("n_we"),
        sum(col("cnt") - col("we_cnt")).cast("long").as("n_wd"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
          .cast("long").as("tie_t"))
      .select(col("n_we"), col("n_wd"),
        round(col("r_we").cast("double") -
          col("n_we").cast("double") * (col("n_we") + 1).cast("double") / 2.0,
          1).as("u_we"),
        round(
          (col("r_we").cast("double") -
            col("n_we").cast("double") * (col("n_we") + 1).cast("double") / 2.0 -
            col("n_we").cast("double") * col("n_wd").cast("double") / 2.0) /
          sqrt(col("n_we").cast("double") * col("n_wd").cast("double") / 12.0 *
            ((col("n_we") + col("n_wd") + 1).cast("double") -
             col("tie_t").cast("double") /
               ((col("n_we") + col("n_wd")).cast("double") *
                (col("n_we") + col("n_wd") - 1).cast("double")))),
          6).as("z"))
  }

  val mannWhitneyOracle: String =
    """WITH e AS (SELECT value,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |r AS (SELECT we,
      |    CAST(rank() OVER (ORDER BY value) +
      |      (count(*) OVER (PARTITION BY value) - 1)/2.0
      |      AS DECIMAL(18,2)) AS midrank,
      |    count(*) OVER (PARTITION BY value) AS tie_cnt,
      |    row_number() OVER (PARTITION BY value ORDER BY we) AS tie_rn
      |  FROM e),
      |a AS (SELECT
      |    CAST(sum(CASE WHEN we THEN midrank END) AS DOUBLE) AS r_we,
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS n_we,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS n_wd,
      |    CAST(sum(CASE WHEN tie_rn = 1
      |      THEN tie_cnt*tie_cnt*tie_cnt - tie_cnt END) AS BIGINT) AS tie_t
      |  FROM r)
      |SELECT n_we, n_wd,
      |  round(r_we - CAST(n_we AS DOUBLE)*CAST(n_we + 1 AS DOUBLE)/2.0, 1)
      |    AS u_we,
      |  round((r_we - CAST(n_we AS DOUBLE)*CAST(n_we + 1 AS DOUBLE)/2.0 -
      |      CAST(n_we AS DOUBLE)*CAST(n_wd AS DOUBLE)/2.0) /
      |    sqrt(CAST(n_we AS DOUBLE)*CAST(n_wd AS DOUBLE)/12.0 *
      |      (CAST(n_we + n_wd + 1 AS DOUBLE) -
      |       CAST(tie_t AS DOUBLE)/(CAST(n_we + n_wd AS DOUBLE) *
      |         CAST(n_we + n_wd - 1 AS DOUBLE)))), 6) AS z
      |FROM a""".stripMargin

  /** q_kruskal_wallis — k-sample Kruskal–Wallis H over the five
    * event types, with the exact tie correction:
    * H = 12/(N(N+1)) Σ R_i²/n_i − 3(N+1), H_adj = H / (1 − Σ(t³−t)/(N³−N)).
    * Per-group R_i²/n_i terms round to 4dp then DECIMAL-sum so the
    * k-term reduction is order-independent cross-engine. */
  def kruskalWallis(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("value"), col("event_type"))
    val byVal = e.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val r = midranks(byVal).select(col("value"), col("cnt"), col("midrank"))
    val perGroup = e.groupBy(col("value"), col("event_type"))
      .agg(count(lit(1)).as("cnt_g"))
      .join(r.drop("cnt"), "value")
      .groupBy(col("event_type"))
      .agg(sum(col("cnt_g") * col("midrank")).as("r_i"),
        sum(col("cnt_g")).cast("long").as("n_i"))
    val ties = r.agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
      .cast("long").as("tie_t"))
    perGroup
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("n_i")).cast("long").as("n"),
        sum(round(col("r_i").cast("double") * col("r_i").cast("double") /
            col("n_i").cast("double"), 4).cast("decimal(28,4)")).as("s_r2"))
      .crossJoin(broadcast(ties))
      .select(col("k"), col("n"),
        round(lit(12.0) / (col("n").cast("double") * (col("n") + 1).cast("double")) *
          col("s_r2").cast("double") - lit(3.0) * (col("n") + 1).cast("double"),
          6).as("h"),
        round((lit(12.0) / (col("n").cast("double") * (col("n") + 1).cast("double")) *
          col("s_r2").cast("double") - lit(3.0) * (col("n") + 1).cast("double")) /
          (lit(1.0) - col("tie_t").cast("double") /
            (col("n").cast("double") * col("n").cast("double") *
             col("n").cast("double") - col("n").cast("double"))),
          6).as("h_adj"))
  }

  val kruskalWallisOracle: String =
    """WITH r AS (SELECT event_type,
      |    CAST(rank() OVER (ORDER BY value) +
      |      (count(*) OVER (PARTITION BY value) - 1)/2.0
      |      AS DECIMAL(18,2)) AS midrank,
      |    count(*) OVER (PARTITION BY value) AS tie_cnt,
      |    row_number() OVER (PARTITION BY value ORDER BY event_type) AS tie_rn
      |  FROM events),
      |g AS (SELECT event_type, sum(midrank) AS r_i,
      |    CAST(count(*) AS BIGINT) AS n_i
      |  FROM r GROUP BY 1),
      |t AS (SELECT CAST(sum(CASE WHEN tie_rn = 1
      |    THEN tie_cnt*tie_cnt*tie_cnt - tie_cnt END) AS BIGINT) AS tie_t
      |  FROM r),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n_i) AS BIGINT) AS n,
      |    sum(CAST(round(CAST(r_i AS DOUBLE)*CAST(r_i AS DOUBLE) /
      |      CAST(n_i AS DOUBLE), 4) AS DECIMAL(28,4))) AS s_r2
      |  FROM g)
      |SELECT k, n,
      |  round(12.0/(CAST(n AS DOUBLE)*CAST(n + 1 AS DOUBLE)) *
      |    CAST(s_r2 AS DOUBLE) - 3.0*CAST(n + 1 AS DOUBLE), 6) AS h,
      |  round((12.0/(CAST(n AS DOUBLE)*CAST(n + 1 AS DOUBLE)) *
      |    CAST(s_r2 AS DOUBLE) - 3.0*CAST(n + 1 AS DOUBLE)) /
      |    (1.0 - CAST(tie_t AS DOUBLE) /
      |      (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE) -
      |       CAST(n AS DOUBLE))), 6) AS h_adj
      |FROM a CROSS JOIN t""".stripMargin

  /** q_kendall_tau — Kendall's τ-b between daily order revenue and
    * daily order count over the bounded calendar: exact concordant /
    * discordant / tied pair counts from the |days|² broadcast pair
    * grid; revenue compared as exact DECIMAL (no rounding before the
    * sign). τ-b = (nc − nd)/√((n0 − n1)(n0 − n2)). */
  def kendallTau(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("cnt"))
    val a = daily.select(col("day").as("d1"), col("rev").as("rev1"),
      col("cnt").as("cnt1"))
    val b = daily.select(col("day").as("d2"), col("rev").as("rev2"),
      col("cnt").as("cnt2"))
    val pairs = a.join(broadcast(b), col("d1") < col("d2"))
      .select(
        signum((col("rev2") - col("rev1")).cast("double")).as("sx"),
        signum((col("cnt2") - col("cnt1")).cast("double")).as("sy"))
    pairs.agg(
        count(when(col("sx") * col("sy") > 0, lit(1))).as("nc"),
        count(when(col("sx") * col("sy") < 0, lit(1))).as("nd"),
        count(when(col("sx") === 0, lit(1))).as("n1"),
        count(when(col("sy") === 0, lit(1))).as("n2"),
        count(lit(1)).as("n0"))
      .select(col("nc"), col("nd"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
               (col("n0") - col("n2")).cast("double")), 6).as("tau_b"))
  }

  val kendallTauOracle: String =
    """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |p AS (SELECT
      |    sign(CAST(b.rev - a.rev AS DOUBLE)) AS sx,
      |    sign(CAST(b.cnt - a.cnt AS DOUBLE)) AS sy
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |c AS (SELECT
      |    CAST(count(CASE WHEN sx*sy > 0 THEN 1 END) AS BIGINT) AS nc,
      |    CAST(count(CASE WHEN sx*sy < 0 THEN 1 END) AS BIGINT) AS nd,
      |    CAST(count(CASE WHEN sx = 0 THEN 1 END) AS BIGINT) AS n1,
      |    CAST(count(CASE WHEN sy = 0 THEN 1 END) AS BIGINT) AS n2,
      |    CAST(count(*) AS BIGINT) AS n0
      |  FROM p)
      |SELECT nc, nd,
      |  round(CAST(nc - nd AS DOUBLE) /
      |    sqrt(CAST(n0 - n1 AS DOUBLE)*CAST(n0 - n2 AS DOUBLE)), 6) AS tau_b
      |FROM c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mann_whitney" -> (mannWhitney _),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_kendall_tau" -> (kendallTau _))

  val oracle: Map[String, String] = Map(
    "q_mann_whitney" -> mannWhitneyOracle,
    "q_kruskal_wallis" -> kruskalWallisOracle,
    "q_kendall_tau" -> kendallTauOracle)
}
