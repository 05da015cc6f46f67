package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #66: two more classical inference procedures —
  * Mood's median test (the k-sample nonparametric location test the
  * rank-test shelf was missing: counts above/at-or-below the pooled
  * median, 2×k chi-square) and the Cochran–Armitage trend test
  * (binary outcome vs ordered doses — the standard dose-response
  * check, here "does order priority predict returns").
  *
  * Scale notes (100 TB): the pooled median comes off ONE
  * [[graft.operators.PrefixOps]] distributed prefix over the
  * contracted (value, count) domain — no partition-less window; both
  * tests then contract to |types| / |doses| count rows before any
  * arithmetic. CA's outcome flag is a per-order keyed aggregate
  * (order-key-parallel shuffle).
  *
  * Determinism: every sum is an exact integer until the final
  * chi-square / z assembly (spelled-out operation order, 6dp). */
object InferTrendQueries extends QueryFamily {

  /** q_mood_median — Mood's median test across event types: per type
    * the counts above / at-or-below the pooled median (percentile_disc
    * 0.5 semantics), with the 2×k chi-square statistic and df
    * replicated on each row. */
  def moodMedian(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"), col("value"))
    val byVal = e.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val n = e.agg(count(lit(1)).as("nn"))
    val med = graft.operators.PrefixOps.runningSums(byVal,
        col("value"), Seq(col("value")), Seq("cum" -> col("cnt")))
      .crossJoin(broadcast(n))
      .agg(min(when(col("cum").cast("double") >=
        lit(0.5) * col("nn").cast("double"), col("value"))).as("med"))
    // |types|-row contingency frame feeds the totals fold and the
    // per-type terms — materialize once (round-8 scan gate: was 9
    // events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = e.crossJoin(broadcast(med))
      .groupBy(col("event_type")).agg(
        count(when(col("value") > col("med"), lit(1))).as("above"),
        count(when(col("value") <= col("med"), lit(1))).as("below"))
      .truncatedCheckpoint()
    val tots = cells.agg(sum(col("above")).as("ta"),
      sum(col("below")).as("tb"), count(lit(1)).as("k"))
    val withT = cells.crossJoin(broadcast(tots))
    val nD = (col("ta") + col("tb")).cast("double")
    val ng = (col("above") + col("below")).cast("double")
    val ea = ng * col("ta").cast("double") / nD
    val eb = ng * col("tb").cast("double") / nD
    val term = round((col("above").cast("double") - ea)
        * (col("above").cast("double") - ea) / ea
      + (col("below").cast("double") - eb)
        * (col("below").cast("double") - eb) / eb, 8)
    val perType = withT.select(col("event_type"), col("above"),
      col("below"), round(ea, 6).as("exp_above"), term.as("term"),
      (col("k") - lit(1L)).as("df"))
    val chi = perType.agg(round(sum(col("term")
      .cast("decimal(27,8)")).cast("double"), 6).as("chi2"))
    perType.crossJoin(broadcast(chi))
      .select(col("event_type"), col("above"), col("below"),
        col("exp_above"), col("chi2"), col("df"))
      .orderBy(col("event_type"))
  }

  val moodMedianOracle: String =
    """WITH byval AS (SELECT value, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM events),
      |cum AS (SELECT value,
      |    sum(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM byval),
      |med AS (SELECT min(CASE WHEN CAST(cum AS DOUBLE)
      |      >= 0.5*CAST(nn AS DOUBLE) THEN value END) AS med
      |  FROM cum, n),
      |cells AS (SELECT event_type,
      |    CAST(count(CASE WHEN value > med THEN 1 END) AS BIGINT)
      |      AS above,
      |    CAST(count(CASE WHEN value <= med THEN 1 END) AS BIGINT)
      |      AS below
      |  FROM events, med GROUP BY 1),
      |tots AS (SELECT CAST(sum(above) AS BIGINT) AS ta,
      |    CAST(sum(below) AS BIGINT) AS tb,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM cells),
      |terms AS (SELECT event_type, above, below,
      |    round(CAST(above + below AS DOUBLE)*CAST(ta AS DOUBLE)
      |      /CAST(ta + tb AS DOUBLE), 6) AS exp_above,
      |    round((CAST(above AS DOUBLE)
      |        - CAST(above + below AS DOUBLE)*CAST(ta AS DOUBLE)
      |          /CAST(ta + tb AS DOUBLE))
      |      *(CAST(above AS DOUBLE)
      |        - CAST(above + below AS DOUBLE)*CAST(ta AS DOUBLE)
      |          /CAST(ta + tb AS DOUBLE))
      |      /(CAST(above + below AS DOUBLE)*CAST(ta AS DOUBLE)
      |        /CAST(ta + tb AS DOUBLE))
      |      + (CAST(below AS DOUBLE)
      |        - CAST(above + below AS DOUBLE)*CAST(tb AS DOUBLE)
      |          /CAST(ta + tb AS DOUBLE))
      |      *(CAST(below AS DOUBLE)
      |        - CAST(above + below AS DOUBLE)*CAST(tb AS DOUBLE)
      |          /CAST(ta + tb AS DOUBLE))
      |      /(CAST(above + below AS DOUBLE)*CAST(tb AS DOUBLE)
      |        /CAST(ta + tb AS DOUBLE)), 8) AS term,
      |    k - 1 AS df
      |  FROM cells, tots),
      |chi AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(27,8)))
      |    AS DOUBLE), 6) AS chi2 FROM terms)
      |SELECT event_type, above, below, exp_above, chi2, df
      |FROM terms, chi
      |ORDER BY event_type""".stripMargin

  /** q_trend_ca — Cochran–Armitage trend test: outcome = "order has a
    * returned lineitem", dose = the numeric order-priority level 1–5;
    * per dose the order count, event count and rate, with
    * T = Swr − R·Sw/N, Var T = (R/N)(1 − R/N)(Sw2 − Sw²/N), and
    * z = T/√VarT replicated for the report. */
  def trendCa(s: SparkSession, d: String): DataFrame = {
    val flagged = orders(s, d)
      .select(col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("dose"))
      .join(lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(max(when(col("l_returnflag") === "R", lit(1L))
          .otherwise(lit(0L))).as("ret")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .select(col("dose"), coalesce(col("ret"), lit(0L)).as("ret"))
    val byDose = flagged.groupBy(col("dose")).agg(
      count(lit(1)).as("n"), sum(col("ret")).as("r"))
    val sums = byDose.agg(
      sum(col("n")).as("nn"), sum(col("r")).as("rr"),
      sum(col("dose") * col("n")).as("sw"),
      sum(col("dose") * col("r")).as("swr"),
      sum(col("dose") * col("dose") * col("n")).as("sw2"))
    val nD = col("nn").cast("double"); val rD = col("rr").cast("double")
    val t = col("swr").cast("double") - rD * col("sw").cast("double") / nD
    val varT = (rD / nD) * (lit(1.0) - rD / nD) *
      (col("sw2").cast("double")
        - col("sw").cast("double") * col("sw").cast("double") / nD)
    val z = byDose.crossJoin(broadcast(sums))
      .select(col("dose"), col("n"), col("r"),
        round(col("r").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round(t, 6).as("t_stat"),
        round(t / sqrt(varT), 6).as("z"))
      .orderBy(col("dose"))
    z
  }

  val trendCaOracle: String =
    """WITH flagged AS (SELECT
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS dose,
      |    COALESCE(ret, 0) AS ret
      |  FROM orders LEFT JOIN (SELECT l_orderkey,
      |      max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      |    FROM lineitem GROUP BY 1) l ON l.l_orderkey = o_orderkey),
      |bydose AS (SELECT dose, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(ret) AS BIGINT) AS r
      |  FROM flagged GROUP BY 1),
      |sums AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |    CAST(sum(r) AS BIGINT) AS rr,
      |    CAST(sum(dose*n) AS BIGINT) AS sw,
      |    CAST(sum(dose*r) AS BIGINT) AS swr,
      |    CAST(sum(dose*dose*n) AS BIGINT) AS sw2
      |  FROM bydose)
      |SELECT dose, n, r,
      |  round(CAST(r AS DOUBLE)/CAST(n AS DOUBLE), 6) AS rate,
      |  round(CAST(swr AS DOUBLE)
      |    - CAST(rr AS DOUBLE)*CAST(sw AS DOUBLE)/CAST(nn AS DOUBLE), 6)
      |    AS t_stat,
      |  round((CAST(swr AS DOUBLE)
      |      - CAST(rr AS DOUBLE)*CAST(sw AS DOUBLE)/CAST(nn AS DOUBLE))
      |    /sqrt((CAST(rr AS DOUBLE)/CAST(nn AS DOUBLE))
      |      *(1.0 - CAST(rr AS DOUBLE)/CAST(nn AS DOUBLE))
      |      *(CAST(sw2 AS DOUBLE)
      |        - CAST(sw AS DOUBLE)*CAST(sw AS DOUBLE)
      |          /CAST(nn AS DOUBLE))), 6) AS z
      |FROM bydose, sums
      |ORDER BY dose""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mood_median" -> (moodMedian _),
    "q_trend_ca" -> (trendCa _))

  val oracle: Map[String, String] = Map(
    "q_mood_median" -> moodMedianOracle,
    "q_trend_ca" -> trendCaOracle)
}
