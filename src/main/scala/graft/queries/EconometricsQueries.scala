package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #93: time-series econometrics on the daily event
  * grid — a lag-1 Granger-causality F test (does the non-purchase
  * volume help predict tomorrow's purchases beyond purchases' own
  * lag?), the Lo–MacKinlay variance-ratio test at q=2 and q=4, and a
  * Newey–West (HAC) standard error for the mean daily change with
  * Bartlett-weighted autocovariances to lag 3.
  *
  * The shared Spark-first shape: every lag is an equi-join on the
  * bounded daily grid (day = day+k), never a partition-less window —
  * the GrowthAcctQueries idiom. The fact table contracts to |days|
  * rows in one keyed shuffle; lag joins, moment folds, and residual
  * passes all run on that contracted domain, with 1-row coefficient
  * frames broadcast back for residual computation (the causal-impact
  * two-pass OLS pattern).
  *
  * Determinism (D1–D5): daily counts and their lag products are
  * exact BIGINT algebra summed as DECIMAL; coefficient solves follow
  * the Bass convention — exact moment sums cast double, determinant
  * expressions spelled in ONE fixed evaluation order shared by both
  * engines, 8dp coefficient rounds before the residual pass; RSS
  * terms round at 6dp into DECIMAL sums. */
object EconometricsQueries extends QueryFamily {

  /** Daily purchase (y) / non-purchase (x) counts — materialized once
    * per query (round-8 scan gate): every estimator in this family
    * fans the grid into lag joins + moment frames + residual passes,
    * which re-embedded the events scan up to 28× per plan before. The
    * grid is one row per day — trivially cacheable at any corpus SF. */
  private def daily(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    events(s, d).groupBy(to_date(col("ts2")).as("day"))
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("y"),
        count(when(col("event_type") =!= "purchase", lit(1))).as("x"))
      .truncatedCheckpoint()
  }

  /** Consecutive-day pairs (y_t, y_{t-1}, x_{t-1}). */
  private def lag1(s: SparkSession, d: String): DataFrame = {
    val t = daily(s, d)
    val l = t.select(col("day").as("lday"), col("y").as("y1"),
      col("x").as("x1"))
    t.join(broadcast(l), col("day") === date_add(col("lday"), 1))
      .select(col("day"), col("y"), col("y1"), col("x1"))
  }

  private val lag1Sql: String =
    s"""SELECT t.day, t.y, l.y AS y1, l.x AS x1
       |FROM ($dailyPurchasesSql) t JOIN ($dailyPurchasesSql) l ON t.day = l.day + 1""".stripMargin

  /** q_granger — restricted (y~y1) vs unrestricted (y~y1+x1) OLS via
    * exact moments + Cramer's rule; F = (RSS_r − RSS_u)/(RSS_u/(n−3)). */
  def granger(s: SparkSession, d: String): DataFrame = {
    val p = lag1(s, d)
    val m = p.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("y1")).as("s1"),
      sum(col("x1")).as("s2"),
      sum(col("y1") * col("y1")).as("s11"),
      sum(col("x1") * col("x1")).as("s22"),
      sum(col("y1") * col("x1")).as("s12"),
      sum(col("y") * col("y1")).as("s1y"),
      sum(col("y") * col("x1")).as("s2y"))
    def f(c: String) = col(c).cast("double")
    val n = f("n")
    // restricted slope/intercept (y on y1)
    val br = (n * f("s1y") - f("s1") * f("sy")) /
      (n * f("s11") - f("s1") * f("s1"))
    // unrestricted via Cramer (A [b0 b1 b2]' = rhs), fixed eval order
    val det = n * (f("s11") * f("s22") - f("s12") * f("s12")) -
      f("s1") * (f("s1") * f("s22") - f("s12") * f("s2")) +
      f("s2") * (f("s1") * f("s12") - f("s11") * f("s2"))
    val detB1 = n * (f("s1y") * f("s22") - f("s12") * f("s2y")) -
      f("s1") * (f("sy") * f("s22") - f("s2y") * f("s2")) +
      f("s2") * (f("sy") * f("s12") - f("s1y") * f("s2"))
    val detB2 = n * (f("s11") * f("s2y") - f("s1y") * f("s12")) -
      f("s1") * (f("s1") * f("s2y") - f("sy") * f("s12")) +
      f("s2") * (f("s1") * f("s1y") - f("sy") * f("s11"))
    val coef = m.select(col("n"),
      round(br, 8).as("br1"),
      round((f("sy") - round(br, 8) * f("s1")) / n, 8).as("br0"),
      round(detB1 / det, 8).as("b1"),
      round(detB2 / det, 8).as("b2"),
      round((f("sy") - round(detB1 / det, 8) * f("s1")
        - round(detB2 / det, 8) * f("s2")) / n, 8).as("b0"))
    val res = p.crossJoin(broadcast(coef)).agg(
      first(col("n")).as("n"),
      first(col("b1")).as("b1"), first(col("b2")).as("b2"),
      sum(round((col("y") - col("br0") - col("br1") * col("y1"))
        * (col("y") - col("br0") - col("br1") * col("y1")), 6)
        .cast("decimal(27,6)")).as("rss_r"),
      sum(round((col("y") - col("b0") - col("b1") * col("y1")
        - col("b2") * col("x1"))
        * (col("y") - col("b0") - col("b1") * col("y1")
          - col("b2") * col("x1")), 6)
        .cast("decimal(27,6)")).as("rss_u"))
    res.select(col("n"), col("b1"), col("b2"),
      round(col("rss_r").cast("double"), 4).as("rss_r"),
      round(col("rss_u").cast("double"), 4).as("rss_u"),
      round((col("rss_r").cast("double") - col("rss_u").cast("double"))
        / (col("rss_u").cast("double")
          / (col("n").cast("double") - lit(3.0))), 6).as("f_stat"))
  }

  val grangerOracle: String =
    s"""WITH p AS ($lag1Sql),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y1) AS BIGINT) AS s1,
       |    CAST(sum(x1) AS BIGINT) AS s2,
       |    CAST(sum(y1*y1) AS BIGINT) AS s11,
       |    CAST(sum(x1*x1) AS BIGINT) AS s22,
       |    CAST(sum(y1*x1) AS BIGINT) AS s12,
       |    CAST(sum(y*y1) AS BIGINT) AS s1y,
       |    CAST(sum(y*x1) AS BIGINT) AS s2y
       |  FROM p),
       |coef AS (SELECT n,
       |    round((CAST(n AS DOUBLE)*CAST(s1y AS DOUBLE)
       |      - CAST(s1 AS DOUBLE)*CAST(sy AS DOUBLE))
       |      /(CAST(n AS DOUBLE)*CAST(s11 AS DOUBLE)
       |      - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)), 8) AS br1,
       |    round((CAST(sy AS DOUBLE)
       |      - round((CAST(n AS DOUBLE)*CAST(s1y AS DOUBLE)
       |        - CAST(s1 AS DOUBLE)*CAST(sy AS DOUBLE))
       |        /(CAST(n AS DOUBLE)*CAST(s11 AS DOUBLE)
       |        - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)), 8)
       |        *CAST(s1 AS DOUBLE))/CAST(n AS DOUBLE), 8) AS br0,
       |    round((CAST(n AS DOUBLE)*(CAST(s1y AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s12 AS DOUBLE)*CAST(s2y AS DOUBLE))
       |      - CAST(s1 AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s2y AS DOUBLE)*CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(s12 AS DOUBLE)
       |        - CAST(s1y AS DOUBLE)*CAST(s2 AS DOUBLE)))
       |      /(CAST(n AS DOUBLE)*(CAST(s11 AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s12 AS DOUBLE)*CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s12 AS DOUBLE)
       |        - CAST(s11 AS DOUBLE)*CAST(s2 AS DOUBLE))), 8) AS b1,
       |    round((CAST(n AS DOUBLE)*(CAST(s11 AS DOUBLE)*CAST(s2y AS DOUBLE)
       |        - CAST(s1y AS DOUBLE)*CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s2y AS DOUBLE)
       |        - CAST(sy AS DOUBLE)*CAST(s12 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s1y AS DOUBLE)
       |        - CAST(sy AS DOUBLE)*CAST(s11 AS DOUBLE)))
       |      /(CAST(n AS DOUBLE)*(CAST(s11 AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s22 AS DOUBLE)
       |        - CAST(s12 AS DOUBLE)*CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s12 AS DOUBLE)
       |        - CAST(s11 AS DOUBLE)*CAST(s2 AS DOUBLE))), 8) AS b2,
       |    sy, s1, s2
       |  FROM m),
       |coef2 AS (SELECT n, br1, br0, b1, b2,
       |    round((CAST(sy AS DOUBLE) - b1*CAST(s1 AS DOUBLE)
       |      - b2*CAST(s2 AS DOUBLE))/CAST(n AS DOUBLE), 8) AS b0
       |  FROM coef),
       |res AS (SELECT any_value(n) AS n, any_value(b1) AS b1,
       |    any_value(b2) AS b2,
       |    sum(CAST(round((y - br0 - br1*y1)*(y - br0 - br1*y1), 6)
       |      AS DECIMAL(27,6))) AS rss_r,
       |    sum(CAST(round((y - b0 - b1*y1 - b2*x1)
       |      *(y - b0 - b1*y1 - b2*x1), 6) AS DECIMAL(27,6))) AS rss_u
       |  FROM p, coef2)
       |SELECT n, b1, b2,
       |  round(CAST(rss_r AS DOUBLE), 4) AS rss_r,
       |  round(CAST(rss_u AS DOUBLE), 4) AS rss_u,
       |  round((CAST(rss_r AS DOUBLE) - CAST(rss_u AS DOUBLE))
       |    /(CAST(rss_u AS DOUBLE)/(CAST(n AS DOUBLE) - 3.0)), 6)
       |    AS f_stat
       |FROM res""".stripMargin

  /** Daily first differences d_t = y_t − y_{t-1} (consecutive days). */
  private def diffs(s: SparkSession, d: String): DataFrame =
    lag1(s, d).select(col("day"), (col("y") - col("y1")).as("dd"))

  private val diffsSql: String =
    s"""SELECT day, y - y1 AS dd FROM ($lag1Sql) l""".stripMargin

  /** q_variance_ratio — Lo–MacKinlay VR(q) for q=2,4 on the daily
    * purchase-count differences: Var(Σ_q d)/(q·Var(d)), each variance
    * an exact integer-moment fold over a day+k equi-join chain. */
  def varianceRatio(s: SparkSession, d: String): DataFrame = {
    val dd = diffs(s, d)
    def varOf(df: DataFrame, c: String): DataFrame = df.agg(
      count(lit(1)).as("n"), sum(col(c)).as("s"),
      sum(col(c) * col(c)).as("ss"))
    def lagged(k: Int): DataFrame = dd.select(
      col("day").as(s"day$k"), col("dd").as(s"dd$k"))
    val s2 = dd.join(broadcast(lagged(1)), col("day") === date_add(col("day1"), 1))
      .select(col("day"), (col("dd") + col("dd1")).as("s2"))
    val s4base = dd.join(broadcast(lagged(1)), col("day") === date_add(col("day1"), 1))
      .join(broadcast(lagged(2)), col("day") === date_add(col("day2"), 2))
      .join(broadcast(lagged(3)), col("day") === date_add(col("day3"), 3))
      .select(col("day"),
        (col("dd") + col("dd1") + col("dd2") + col("dd3")).as("s4"))
    def f(c: String) = col(c).cast("double")
    def vexpr = round((f("n") * f("ss") - f("s") * f("s"))
      / (f("n") * f("n")), 8)
    val v1 = varOf(dd, "dd").select(vexpr.as("v1"), col("n").as("n1"))
    val v2 = varOf(s2, "s2").select(vexpr.as("v2"))
    val v4 = varOf(s4base, "s4").select(vexpr.as("v4"))
    v1.crossJoin(broadcast(v2)).crossJoin(broadcast(v4))
      .select(col("n1").as("n_diffs"),
        round(col("v2") / (lit(2.0) * col("v1")), 6).as("vr2"),
        round(col("v4") / (lit(4.0) * col("v1")), 6).as("vr4"))
  }

  val varianceRatioOracle: String =
    s"""WITH dd AS ($diffsSql),
       |v1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dd) AS BIGINT) AS s, CAST(sum(dd*dd) AS BIGINT) AS ss
       |  FROM dd),
       |s2 AS (SELECT a.day, a.dd + b.dd AS v
       |  FROM dd a JOIN dd b ON a.day = b.day + 1),
       |v2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v*v) AS BIGINT) AS ss
       |  FROM s2),
       |s4 AS (SELECT a.day, a.dd + b.dd + c.dd + e.dd AS v
       |  FROM dd a JOIN dd b ON a.day = b.day + 1
       |  JOIN dd c ON a.day = c.day + 2
       |  JOIN dd e ON a.day = e.day + 3),
       |v4 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v*v) AS BIGINT) AS ss
       |  FROM s4)
       |SELECT v1.n AS n_diffs,
       |  round(round((CAST(v2.n AS DOUBLE)*CAST(v2.ss AS DOUBLE)
       |      - CAST(v2.s AS DOUBLE)*CAST(v2.s AS DOUBLE))
       |      /(CAST(v2.n AS DOUBLE)*CAST(v2.n AS DOUBLE)), 8)
       |    /(2.0*round((CAST(v1.n AS DOUBLE)*CAST(v1.ss AS DOUBLE)
       |      - CAST(v1.s AS DOUBLE)*CAST(v1.s AS DOUBLE))
       |      /(CAST(v1.n AS DOUBLE)*CAST(v1.n AS DOUBLE)), 8)), 6) AS vr2,
       |  round(round((CAST(v4.n AS DOUBLE)*CAST(v4.ss AS DOUBLE)
       |      - CAST(v4.s AS DOUBLE)*CAST(v4.s AS DOUBLE))
       |      /(CAST(v4.n AS DOUBLE)*CAST(v4.n AS DOUBLE)), 8)
       |    /(4.0*round((CAST(v1.n AS DOUBLE)*CAST(v1.ss AS DOUBLE)
       |      - CAST(v1.s AS DOUBLE)*CAST(v1.s AS DOUBLE))
       |      /(CAST(v1.n AS DOUBLE)*CAST(v1.n AS DOUBLE)), 8)), 6) AS vr4
       |FROM v1, v2, v4""".stripMargin

  /** q_newey_west — HAC standard error of the mean daily change:
    * Bartlett weights to lag 3, autocovariances from day+k equi-joins
    * with the 8dp-rounded mean broadcast back. */
  def neweyWest(s: SparkSession, d: String): DataFrame = {
    val dd = diffs(s, d)
    val mu = dd.agg(count(lit(1)).as("n"), sum(col("dd")).as("s"))
      .select(col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 8)
          .as("mu"))
    val cent = dd.crossJoin(broadcast(mu))
      .select(col("day"), col("n"), col("mu"),
        round(col("dd") - col("mu"), 8).as("e"))
    val g0 = cent.agg(first(col("n")).as("n"),
      sum(round(col("e") * col("e"), 6).cast("decimal(27,6)")).as("g"))
      .select(col("n"), round(col("g").cast("double")
        / col("n").cast("double"), 8).as("g0"))
    def gk(k: Int): DataFrame = {
      val l = cent.select(col("day").as("lday"), col("e").as("e1"))
      cent.join(broadcast(l), col("day") === date_add(col("lday"), k))
        .agg(first(col("n")).as("n"),
          sum(round(col("e") * col("e1"), 6).cast("decimal(27,6)"))
            .as("g"))
        .select(round(col("g").cast("double")
          / col("n").cast("double"), 8).as(s"g$k"))
    }
    def f(c: String) = col(c).cast("double")
    g0.crossJoin(broadcast(gk(1))).crossJoin(broadcast(gk(2)))
      .crossJoin(broadcast(gk(3)))
      .select(col("n"), col("g0"), col("g1"), col("g2"), col("g3"),
        round(sqrt(round(col("g0")
          + lit(2.0) * (lit(0.75) * col("g1") + lit(0.5) * col("g2")
            + lit(0.25) * col("g3")),
          8) / f("n")), 8).as("se_nw"),
        round(sqrt(col("g0") / f("n")), 8).as("se_naive"))
  }

  val neweyWestOracle: String =
    s"""WITH dd AS ($diffsSql),
       |mu AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(CAST(sum(dd) AS DOUBLE)/CAST(count(*) AS DOUBLE), 8)
       |      AS mu
       |  FROM dd),
       |cent AS (SELECT day, n, round(dd - mu, 8) AS e FROM dd, mu),
       |g0 AS (SELECT any_value(n) AS n,
       |    round(CAST(sum(CAST(round(e*e, 6) AS DECIMAL(27,6)))
       |      AS DOUBLE)/CAST(any_value(n) AS DOUBLE), 8) AS g0
       |  FROM cent),
       |g1 AS (SELECT round(CAST(sum(CAST(round(a.e*b.e, 6)
       |      AS DECIMAL(27,6))) AS DOUBLE)
       |    /CAST(any_value(a.n) AS DOUBLE), 8) AS g1
       |  FROM cent a JOIN cent b ON a.day = b.day + 1),
       |g2 AS (SELECT round(CAST(sum(CAST(round(a.e*b.e, 6)
       |      AS DECIMAL(27,6))) AS DOUBLE)
       |    /CAST(any_value(a.n) AS DOUBLE), 8) AS g2
       |  FROM cent a JOIN cent b ON a.day = b.day + 2),
       |g3 AS (SELECT round(CAST(sum(CAST(round(a.e*b.e, 6)
       |      AS DECIMAL(27,6))) AS DOUBLE)
       |    /CAST(any_value(a.n) AS DOUBLE), 8) AS g3
       |  FROM cent a JOIN cent b ON a.day = b.day + 3)
       |SELECT n, g0, g1, g2, g3,
       |  round(sqrt(round(g0 + 2.0*(0.75*g1 + 0.5*g2 + 0.25*g3), 8)
       |    /CAST(n AS DOUBLE)), 8) AS se_nw,
       |  round(sqrt(g0/CAST(n AS DOUBLE)), 8) AS se_naive
       |FROM g0, g1, g2, g3""".stripMargin

  /** q_engle_granger — two-step cointegration test between the
    * purchase and non-purchase daily series: (1) the cointegrating
    * OLS y ~ x from exact BIGINT moments; (2) the Dickey–Fuller
    * regression-through-origin Δe_t = ρ·e_{t-1} on the residual
    * series, with its t statistic. Residuals come from ONE broadcast
    * coefficient row; the lag is a day+1 equi-join; ρ and its SE are
    * closed forms over two more decimal folds — no iteration. */
  def engleGranger(s: SparkSession, d: String): DataFrame = {
    val p = daily(s, d)
    val m = p.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def f(c: String) = col(c).cast("double")
    val nD = f("n")
    val b1 = (nD * f("sxy") - f("sx") * f("sy")) /
      (nD * f("sxx") - f("sx") * f("sx"))
    val coef = m.select(round(b1, 8).as("b1"),
      round((f("sy") - round(b1, 8) * f("sx")) / nD, 8).as("b0"))
    val resid = p.crossJoin(broadcast(coef))
      .select(col("day"),
        round(col("y") - col("b0") - col("b1") * col("x"), 6).as("e"),
        col("b0"), col("b1"))
    val l = resid.select(col("day").as("lday"), col("e").as("e1"))
    val pairs = resid.join(broadcast(l), col("day") === date_add(col("lday"), 1))
      .select(col("b0"), col("b1"), col("e1"),
        round(col("e") - col("e1"), 6).as("de"))
    val rhoM = pairs.agg(first(col("b0")).as("b0"),
      first(col("b1")).as("b1"), count(lit(1)).as("m"),
      sum(round(col("e1") * col("de"), 6).cast("decimal(27,6)")).as("sed"),
      sum(round(col("e1") * col("e1"), 6).cast("decimal(27,6)")).as("see"))
    val rho = round(col("sed").cast("double")
      / col("see").cast("double"), 8)
    val withRho = pairs.crossJoin(broadcast(
      rhoM.select(col("m"), col("see"), rho.as("rho"))))
    withRho.agg(first(col("m")).as("n_pairs"),
        first(col("rho")).as("rho"), first(col("see")).as("see"),
        sum(round((col("de") - col("rho") * col("e1"))
          * (col("de") - col("rho") * col("e1")), 6)
          .cast("decimal(27,6)")).as("ssr"))
      .select(col("n_pairs"), col("rho"),
        round(col("rho") / sqrt(round(
          (col("ssr").cast("double")
            / (col("n_pairs").cast("double") - lit(2.0)))
            / col("see").cast("double"), 12)), 6).as("df_t"))
  }

  val engleGrangerOracle: String =
    s"""WITH p AS ($dailyPurchasesSql),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(x*y) AS BIGINT) AS sxy
       |  FROM p),
       |coef AS (SELECT
       |    round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
       |      /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 8) AS b1,
       |    round((CAST(sy AS DOUBLE)
       |      - round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
       |        /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 8)
       |        *CAST(sx AS DOUBLE))/CAST(n AS DOUBLE), 8) AS b0
       |  FROM m),
       |resid AS (SELECT day, round(y - b0 - b1*x, 6) AS e
       |  FROM p, coef),
       |pairs AS (SELECT a.e - b.e AS de0, b.e AS e1,
       |    round(a.e - b.e, 6) AS de
       |  FROM resid a JOIN resid b ON a.day = b.day + 1),
       |rm AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |    sum(CAST(round(e1*de, 6) AS DECIMAL(27,6))) AS sed,
       |    sum(CAST(round(e1*e1, 6) AS DECIMAL(27,6))) AS see
       |  FROM pairs),
       |rr AS (SELECT m, see,
       |    round(CAST(sed AS DOUBLE)/CAST(see AS DOUBLE), 8) AS rho
       |  FROM rm),
       |fin AS (SELECT any_value(m) AS n_pairs,
       |    any_value(rho) AS rho, any_value(see) AS see,
       |    sum(CAST(round((de - rho*e1)*(de - rho*e1), 6)
       |      AS DECIMAL(27,6))) AS ssr
       |  FROM pairs, rr)
       |SELECT n_pairs, rho,
       |  round(rho/sqrt(round((CAST(ssr AS DOUBLE)
       |    /(CAST(n_pairs AS DOUBLE) - 2.0))
       |    /CAST(see AS DOUBLE), 12)), 6) AS df_t
       |FROM fin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_granger" -> (granger _),
    "q_variance_ratio" -> (varianceRatio _),
    "q_newey_west" -> (neweyWest _),
    "q_engle_granger" -> (engleGranger _))

  val oracle: Map[String, String] = Map(
    "q_granger" -> grangerOracle,
    "q_variance_ratio" -> varianceRatioOracle,
    "q_newey_west" -> neweyWestOracle,
    "q_engle_granger" -> engleGrangerOracle)
}
