package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening, final batch: an
  * errors-in-variables regression (Deming), a distribution fit
  * (Gamma by method of moments, with the skewness-implied shape as a
  * cross-check), and competing-risks cumulative incidence
  * (Aalen–Johansen) — each ONE-or-two decimal moment folds plus
  * bounded-grid contractions, the house closed-form shapes. */
object FitDistSurvQueries extends QueryFamily {

  /** q_deming_reg — Deming regression (λ = 1: equal error variance
    * in x and y) of two NOISY MEASURES of document length — the
    * whitespace token count vs the char count in 5-char units
    * (corr ≈ 0.998 on the fixtures) — the measurement-error
    * counterpart of q_linreg2's OLS: both variables carry error, so
    * the fitted line minimizes PERPENDICULAR distance. Closed form
    * from one five-moment fold:
    * b = (S_yy − S_xx + √((S_yy − S_xx)² + 4S_xy²)) / (2S_xy).
    * The OLS slope is reported next to it — the attenuation gap is
    * the quantity a measurement-error analysis actually reads. */
  def demingReg(s: SparkSession, d: String): DataFrame = {
    val li = documents(s, d).select(
      size(split(col("text"), " ")).cast("double").as("x"),
      round(col("n_chars") / 5.0, 6).as("y"))
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).as("sx"),
      sum(col("y").cast("decimal(18,6)")).as("sy"),
      sum(round(col("x") * col("x"), 8).cast("decimal(27,8)")).as("sxx"),
      sum(round(col("y") * col("y"), 8).cast("decimal(27,8)")).as("syy"),
      sum(round(col("x") * col("y"), 8).cast("decimal(27,8)")).as("sxy"))
    def f(c: String) = col(c).cast("double")
    val mx = round(f("sx") / col("n"), 8)
    val my = round(f("sy") / col("n"), 8)
    val cxx = round(f("sxx") / col("n") - mx * mx, 8)
    val cyy = round(f("syy") / col("n") - my * my, 8)
    val cxy = round(f("sxy") / col("n") - mx * my, 8)
    val slope = round((cyy - cxx +
      sqrt((cyy - cxx) * (cyy - cxx) + lit(4.0) * cxy * cxy))
      / (lit(2.0) * cxy), 6)
    // cxy = 0 (orthogonal measures) makes the closed form 0/0 and
    // cxx = 0 degenerates OLS: guard both to NULL explicitly, since
    // Spark nulls a double division by zero where DuckDB yields
    // inf/nan — the engines must agree on degenerate data
    m.select(col("n"),
      when(cxy =!= 0.0, slope).as("slope_deming"),
      when(cxy =!= 0.0, round(my - slope * mx, 6)).as("icept_deming"),
      when(cxx =!= 0.0, round(cxy / cxx, 6)).as("slope_ols"))
  }

  val demingRegOracle: String =
    """WITH li AS (SELECT
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
      |    round(n_chars/5.0, 6) AS y FROM documents),
      |m AS (SELECT count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x*x, 8) AS DECIMAL(27,8))) AS DOUBLE)
      |      AS sxx,
      |    CAST(sum(CAST(round(y*y, 8) AS DECIMAL(27,8))) AS DOUBLE)
      |      AS syy,
      |    CAST(sum(CAST(round(x*y, 8) AS DECIMAL(27,8))) AS DOUBLE)
      |      AS sxy
      |  FROM li),
      |c AS (SELECT n,
      |    round(sx/n, 8) AS mx, round(sy/n, 8) AS my,
      |    round(sxx/n - round(sx/n, 8)*round(sx/n, 8), 8) AS cxx,
      |    round(syy/n - round(sy/n, 8)*round(sy/n, 8), 8) AS cyy,
      |    round(sxy/n - round(sx/n, 8)*round(sy/n, 8), 8) AS cxy
      |  FROM m)
      |SELECT n,
      |  CASE WHEN cxy <> 0
      |    THEN round((cyy - cxx + sqrt((cyy - cxx)*(cyy - cxx)
      |      + 4.0*cxy*cxy))/(2.0*cxy), 6) END AS slope_deming,
      |  CASE WHEN cxy <> 0
      |    THEN round(my - round((cyy - cxx + sqrt((cyy - cxx)*(cyy - cxx)
      |      + 4.0*cxy*cxy))/(2.0*cxy), 6)*mx, 6) END AS icept_deming,
      |  CASE WHEN cxx <> 0 THEN round(cxy/cxx, 6) END AS slope_ols
      |FROM c""".stripMargin

  /** q_gamma_fit — Gamma(k, β) fit of the order-value distribution
    * by method of moments (k = m²/v, rate β = m/v), cross-checked by
    * the skewness-implied shape k_skew = 4/γ₁² (for a true Gamma the
    * two estimates agree; their gap is a one-number
    * goodness-of-shape diagnostic). One three-moment fold, central
    * moments by the E[y²]−μ² algebra. */
  def gammaFit(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .select(round(col("o_totalprice") / 100000.0, 8).as("y"))
    val m = o.agg(
      count(lit(1)).as("n"),
      sum(col("y").cast("decimal(18,8)")).as("s1"),
      sum(round(col("y") * col("y"), 10).cast("decimal(27,10)")).as("s2"),
      sum(round(col("y") * col("y") * col("y"), 10)
        .cast("decimal(27,10)")).as("s3"))
    def f(c: String) = col(c).cast("double")
    val mu = round(f("s1") / col("n"), 8)
    val m2 = round(f("s2") / col("n") - mu * mu, 8)
    val m3 = round(f("s3") / col("n") - lit(3.0) * mu * (f("s2") / col("n"))
      + lit(2.0) * mu * mu * mu, 8)
    val skew = round(m3 / sqrt(m2 * m2 * m2), 8)
    m.select(col("n"), mu.as("mean"), m2.as("var"),
      round(mu * mu / m2, 6).as("shape_mom"),
      round(mu / m2, 6).as("rate_mom"),
      round(lit(4.0) / (skew * skew), 6).as("shape_skew"))
  }

  val gammaFitOracle: String =
    """WITH o AS (SELECT round(o_totalprice/100000.0, 8) AS y
      |  FROM orders),
      |m AS (SELECT count(*) AS n,
      |    CAST(sum(CAST(y AS DECIMAL(18,8))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(round(y*y, 10) AS DECIMAL(27,10))) AS DOUBLE)
      |      AS s2,
      |    CAST(sum(CAST(round(y*y*y, 10) AS DECIMAL(27,10)))
      |      AS DOUBLE) AS s3
      |  FROM o),
      |c AS (SELECT n, round(s1/n, 8) AS mu,
      |    round(s2/n - round(s1/n, 8)*round(s1/n, 8), 8) AS m2,
      |    round(s3/n - 3.0*round(s1/n, 8)*(s2/n)
      |      + 2.0*round(s1/n, 8)*round(s1/n, 8)*round(s1/n, 8), 8)
      |      AS m3
      |  FROM m)
      |SELECT n, mu AS mean, m2 AS var,
      |  round(mu*mu/m2, 6) AS shape_mom,
      |  round(mu/m2, 6) AS rate_mom,
      |  round(4.0/(round(m3/sqrt(m2*m2*m2), 8)
      |    *round(m3/sqrt(m2*m2*m2), 8)), 6) AS shape_skew
      |FROM c""".stripMargin

  /** q_competing_risks — Aalen–Johansen cumulative incidence for two
    * competing causes over customer follow-up: time = last-order
    * day, cause = the LATEST order's status ('F' → cause 1, 'P' →
    * cause 2, 'O' → censored; latest = max (date, orderkey), the
    * q_dedup_latest tie rule). CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s)
    * with S the all-cause KM survivor — S(s⁻) as exp of PREFIX sums
    * of ln(1 − d/n) over the calendar-bounded day grid (one grid
    * self-join, the q_cox_score suffix twin), so the whole estimator
    * is two contractions and one bounded pair join. The shelf's KM /
    * Nelson–Aalen / logrank / RMST / Cox now close with the
    * multi-cause estimator. */
  def competingRisks(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val last = orders(s, d).groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate").as("dt"), col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"))).as("m"))
      .select(
        datediff(to_date(col("m.dt")), to_date(lit("1990-01-01"))).as("t"),
        col("m.st").as("st"))
    val perDay = last.groupBy(col("t")).agg(
        count(lit(1)).as("cnt"),
        sum(when(col("st") === "F", 1L).otherwise(0L)).as("d1"),
        sum(when(col("st") === "P", 1L).otherwise(0L)).as("d2"))
      .truncatedCheckpoint() // feeds at-risk, the KM prefix, and the report
    // at-risk n(t) = suffix count; KM prefix needs ln(1 - d/n) per day
    val days = perDay.select(col("t").as("t0"))
    val atRisk = days.join(broadcast(perDay), col("t") >= col("t0"))
      .groupBy(col("t0")).agg(sum(col("cnt")).as("n_r"))
    val daily = perDay.join(broadcast(atRisk), col("t") === col("t0"))
      .select(col("t"), col("cnt"), col("d1"), col("d2"), col("n_r"),
        // d = n only on the LAST event day (no unit survives past
        // it), whose lnterm is never consumed (prefixes are strict);
        // guard it to 0 because DuckDB's ln(0) ERRORS eagerly while
        // Spark's log(0) is NULL — neither engine may evaluate it
        when(col("d1") + col("d2") < col("n_r"),
          round(log(lit(1.0) - (col("d1") + col("d2")).cast("double")
            / col("n_r")), 8)).otherwise(lit(0.0))
          .cast("decimal(18,8)").as("lnterm"))
      .truncatedCheckpoint() // two prefix-join sides + the report row
    // S(s-) = exp(prefix-sum of lnterm over u < s); the grid pair
    // join is calendar-bounded like the cox suffix
    val pre = daily.select(col("t").as("tp"), col("lnterm"))
    val surv = daily.select(col("t")).join(broadcast(pre),
        col("tp") < col("t"), "left")
      .groupBy(col("t"))
      .agg(round(exp(coalesce(sum(col("lnterm")).cast("double"), lit(0.0))),
        8).as("s_minus"))
    val terms = daily.join(broadcast(surv), Seq("t"))
      .select(col("t"), col("n_r"), col("d1"), col("d2"),
        round(col("s_minus") * col("d1") / col("n_r"), 8)
          .cast("decimal(18,8)").as("i1"),
        round(col("s_minus") * col("d2") / col("n_r"), 8)
          .cast("decimal(18,8)").as("i2"))
      .truncatedCheckpoint() // both CIF prefix sides + the report
    // CIF_k(t) = prefix sum of the increments (u <= t)
    val inc = terms.select(col("t").as("tp"), col("i1"), col("i2"))
    terms.select(col("t"), col("n_r"), col("d1"), col("d2"))
      .join(broadcast(inc), col("tp") <= col("t"))
      .groupBy(col("t"), col("n_r"), col("d1"), col("d2"))
      .agg(round(sum(col("i1")).cast("double"), 6).as("cif_f"),
        round(sum(col("i2")).cast("double"), 6).as("cif_p"))
      .filter(col("d1") + col("d2") > 0)
      .orderBy(col("t"))
  }

  val competingRisksOracle: String =
    """WITH lastr AS (SELECT o_custkey,
      |    max(struct_pack(dt := o_orderdate, k := o_orderkey,
      |      st := o_orderstatus)) AS mr
      |  FROM orders GROUP BY 1),
      |last AS (SELECT date_diff('day', DATE '1990-01-01',
      |      CAST(mr['dt'] AS DATE)) AS t,
      |    mr['st'] AS st
      |  FROM lastr),
      |perday AS (SELECT t, count(*) AS cnt,
      |    sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS d1,
      |    sum(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS d2
      |  FROM last GROUP BY 1),
      |atrisk AS (SELECT d.t0, sum(p.cnt) AS n_r
      |  FROM (SELECT t AS t0 FROM perday) d
      |  JOIN perday p ON p.t >= d.t0 GROUP BY 1),
      |daily AS (SELECT p.t, p.cnt, p.d1, p.d2, a.n_r,
      |    CAST(CASE WHEN p.d1 + p.d2 < a.n_r THEN
      |      round(ln(1.0 - CAST(p.d1 + p.d2 AS DOUBLE)/a.n_r), 8)
      |      ELSE 0.0 END AS DECIMAL(18,8)) AS lnterm
      |  FROM perday p JOIN atrisk a ON a.t0 = p.t),
      |surv AS (SELECT d.t,
      |    round(exp(coalesce(CAST(sum(p.lnterm) AS DOUBLE), 0.0)), 8)
      |      AS s_minus
      |  FROM daily d LEFT JOIN daily p ON p.t < d.t
      |  GROUP BY 1),
      |terms AS (SELECT d.t, d.n_r, d.d1, d.d2,
      |    CAST(round(s.s_minus*d.d1/d.n_r, 8) AS DECIMAL(18,8)) AS i1,
      |    CAST(round(s.s_minus*d.d2/d.n_r, 8) AS DECIMAL(18,8)) AS i2
      |  FROM daily d JOIN surv s ON s.t = d.t)
      |SELECT a.t, CAST(a.n_r AS BIGINT) AS n_r,
      |  CAST(a.d1 AS BIGINT) AS d1, CAST(a.d2 AS BIGINT) AS d2,
      |  round(CAST(sum(b.i1) AS DOUBLE), 6) AS cif_f,
      |  round(CAST(sum(b.i2) AS DOUBLE), 6) AS cif_p
      |FROM terms a JOIN terms b ON b.t <= a.t
      |WHERE a.d1 + a.d2 > 0
      |GROUP BY a.t, a.n_r, a.d1, a.d2
      |ORDER BY a.t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_deming_reg" -> (demingReg _),
    "q_gamma_fit" -> (gammaFit _),
    "q_competing_risks" -> (competingRisks _))

  val oracle: Map[String, String] = Map(
    "q_deming_reg" -> demingRegOracle,
    "q_gamma_fit" -> gammaFitOracle,
    "q_competing_risks" -> competingRisksOracle)
}
