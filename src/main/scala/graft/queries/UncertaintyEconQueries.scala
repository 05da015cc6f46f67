package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #63: uncertainty-aware ranking and fitted decay —
  * Wilson-score lower-bound ranking of brand return rates (the
  * "sort by confidence lower bound, not raw rate" idiom that stops
  * tiny-n brands topping the list), CAPM-style beta of each event
  * type's daily volume against the market series, and the cohort
  * retention half-life from a log-linear decay fit.
  *
  * Scale notes (100 TB): wilson is a brand-keyed contraction through
  * the broadcast part dim + TakeOrderedAndProject; beta joins the
  * |types|×|days| grid to the broadcast |days| market series and
  * contracts to per-type moments; halflife pools the cohort grid to
  * ≤7 offset rows before the (tiny) OLS. No windows.
  *
  * Determinism: rates/shares round at 8dp before ln or sqrt; ln 2 is
  * an exact double literal; z = 1.959964; per-row products at 6dp
  * into DECIMAL sums (D1/D2).
  */
object UncertaintyEconQueries extends QueryFamily {

  /** q_wilson_ci — top-10 brands by the Wilson 95% LOWER bound of
    * their lineitem return rate (l_returnflag = 'R'):
    * (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n). */
  def wilsonCi(s: SparkSession, d: String): DataFrame = {
    val z = 1.959964; val z2 = z * z
    val t = lineitem(s, d)
      // no broadcast hint on the SF-proportional part dim
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(
        count(lit(1)).as("n"),
        count(when(col("l_returnflag") === "R", lit(1))).as("r"))
    val nD = col("n").cast("double")
    val p = round(col("r").cast("double") / nD, 8)
    val lo = round((p + lit(z2) / (nD * 2)
        - lit(z) * sqrt(round(p * (lit(1.0) - p) / nD
          + lit(z2) / (nD * nD * 4), 12)))
      / (lit(1.0) + lit(z2) / nD), 6)
    t.select(col("p_brand"), col("n"), col("r"), p.as("rate"),
        lo.as("wilson_lo"))
      .orderBy(col("wilson_lo").desc, col("p_brand"))
      .limit(10)
  }

  val wilsonCiOracle: String =
    """WITH t AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
      |      AS r
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY 1),
      |w AS (SELECT p_brand, n, r,
      |    round(CAST(r AS DOUBLE)/CAST(n AS DOUBLE), 8) AS rate
      |  FROM t)
      |SELECT p_brand, n, r, rate,
      |  round((rate + 3.841458881296/(2*CAST(n AS DOUBLE))
      |      - 1.959964*sqrt(round(rate*(1.0 - rate)/CAST(n AS DOUBLE)
      |        + 3.841458881296/(4*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)),
      |        12)))
      |    /(1.0 + 3.841458881296/CAST(n AS DOUBLE)), 6) AS wilson_lo
      |FROM w
      |ORDER BY wilson_lo DESC, p_brand
      |LIMIT 10""".stripMargin

  /** q_beta — market beta per event type: daily type event counts vs
    * the daily market total, β = cov(x, m)/var(m) from per-type
    * DECIMAL moments against the broadcast market series. */
  def beta(s: SparkSession, d: String): DataFrame = {
    val grid = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("x"))
    val market = grid.groupBy(col("day")).agg(sum(col("x")).as("m"))
    val j = grid.join(broadcast(market), "day")
    val m = j.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("m")).cast("double").as("sm"),
      sum(col("x") * col("m")).cast("double").as("sxm"),
      sum(col("m") * col("m")).cast("double").as("smm"))
    val nD = col("n").cast("double")
    m.select(col("event_type"), col("n"),
        round((nD * col("sxm") - col("sx") * col("sm"))
          / (nD * col("smm") - col("sm") * col("sm")), 6).as("beta"))
      .orderBy(col("event_type"))
  }

  val betaOracle: String =
    """WITH grid AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |market AS (SELECT day, sum(x) AS m FROM grid GROUP BY 1),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(m) AS DOUBLE) AS sm,
      |    CAST(sum(x*m) AS DOUBLE) AS sxm,
      |    CAST(sum(m*m) AS DOUBLE) AS smm
      |  FROM grid JOIN market USING (day) GROUP BY 1)
      |SELECT event_type, n,
      |  round((CAST(n AS DOUBLE)*sxm - sx*sm)
      |    /(CAST(n AS DOUBLE)*smm - sm*sm), 6) AS beta
      |FROM m ORDER BY event_type""".stripMargin

  /** q_retention_halflife — pooled retention decay: share of day-0
    * users still active at offsets 1..7 (across all cohorts), ln of
    * the 8dp rates regressed on the offset (closed-form OLS over ≤7
    * rows), λ = −slope, half-life = ln2/λ days. */
  def retentionHalflife(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val first = e.groupBy(col("user_id"))
      .agg(to_date(min(col("ts2"))).as("cohort"))
    val offs = e.join(first, "user_id")
      .select(col("user_id"),
        datediff(to_date(col("ts2")), col("cohort")).as("day_off"))
      .filter(col("day_off") <= 7).distinct()
      // per-user day offsets feed the day-0 base + the rate grid —
      // materialize once (round-8 scan gate: was 4 events scans)
      .truncatedCheckpoint()
    val base = offs.filter(col("day_off") === 0)
      .agg(count(lit(1)).as("n0"))
    val rates = offs.filter(col("day_off") >= 1)
      .groupBy(col("day_off")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(base))
      .select(col("day_off").cast("double").as("x"),
        log(round(col("n").cast("double") / col("n0").cast("double"), 8))
          .as("y"))
    val m = rates.agg(count(lit(1)).as("k"),
      sum(col("x")).as("sx"),
      sum(round(col("y"), 8).cast("decimal(18,8)")).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 8).cast("decimal(27,8)"))
        .cast("double").as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val kD = col("k").cast("double")
    val slope = round((kD * col("sxy") - col("sx") * col("sy"))
      / (kD * col("sxx") - col("sx") * col("sx")), 8)
    m.select(col("k"), slope.as("slope"),
      round(lit(0.6931471805599453) / -slope, 4).as("halflife_days"))
  }

  val retentionHalflifeOracle: String =
    """WITH first AS (SELECT user_id,
      |    CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY 1),
      |offs AS (SELECT DISTINCT e.user_id,
      |    datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_off
      |  FROM events e JOIN first f ON f.user_id = e.user_id
      |  WHERE datediff('day', f.cohort, CAST(e.ts AS DATE)) <= 7),
      |base AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM offs
      |  WHERE day_off = 0),
      |rates AS (SELECT CAST(day_off AS DOUBLE) AS x,
      |    ln(round(CAST(count(*) AS DOUBLE)/CAST(n0 AS DOUBLE), 8)) AS y
      |  FROM offs CROSS JOIN base WHERE day_off >= 1
      |  GROUP BY day_off, n0),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    sum(x) AS sx,
      |    CAST(sum(CAST(round(y, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x*y, 8) AS DECIMAL(27,8))) AS DOUBLE) AS sxy,
      |    sum(x*x) AS sxx
      |  FROM rates)
      |SELECT k,
      |  round((CAST(k AS DOUBLE)*sxy - sx*sy)
      |    /(CAST(k AS DOUBLE)*sxx - sx*sx), 8) AS slope,
      |  round(0.6931471805599453
      |    / -round((CAST(k AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(k AS DOUBLE)*sxx - sx*sx), 8), 4) AS halflife_days
      |FROM m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wilson_ci" -> (wilsonCi _),
    "q_beta" -> (beta _),
    "q_retention_halflife" -> (retentionHalflife _))

  val oracle: Map[String, String] = Map(
    "q_wilson_ci" -> wilsonCiOracle,
    "q_beta" -> betaOracle,
    "q_retention_halflife" -> retentionHalflifeOracle)
}
