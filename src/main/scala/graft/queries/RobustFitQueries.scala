package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #113: robust and transformed fitting — Huber
  * M-estimation of the daily trend by TWO UNROLLED IRLS steps
  * (outlier days get down-weighted instead of dragging the slope,
  * completing q_theil_sen / q_winsorize's robustness shelf), and
  * Box–Cox λ selection by profile log-likelihood over the canonical
  * λ grid (which power transform makes order values most Gaussian).
  *
  * Scale notes (100 TB): Huber runs on the bounded daily grid — each
  * IRLS step is (a) residuals against ONE broadcast coefficient row,
  * (b) the MAD scale via rank-by-self-join counting on the bounded
  * grid (no window), (c) a weighted-moment fold and closed-form
  * solve. Box–Cox is |λ|-grid × one contraction — each λ's
  * log-likelihood is a single decimal fold, all λ in one pass.
  *
  * Determinism (D1–D5): residuals/weights round at 6–8dp;
  * coefficients 8dp (Bass convention); MAD via exact rank counting
  * with day tiebreaks; ln on 10dp-rounded operands. */
object RobustFitQueries extends QueryFamily {

  private def daily(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val d0 = events(s, d).agg(min(to_date(col("ts2"))).as("dmin"))
    // one row per day, referenced by every IRLS iterate's fit +
    // residual + MAD branch — materialize once (round-8 scan gate:
    // q_huber re-embedded the events scan 26× through this grid)
    events(s, d)
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
      .crossJoin(broadcast(d0))
      .select(col("day"), datediff(col("day"), col("dmin"))
        .cast("double").as("i"), col("v"))
      .truncatedCheckpoint()
  }

  private val dailySql: String =
    """SELECT day, CAST(date_diff('day', dmin, day) AS DOUBLE) AS i, v
      |  FROM (SELECT CAST(ts AS DATE) AS day,
      |      round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |        AS v
      |    FROM events GROUP BY 1) dd,
      |    (SELECT min(CAST(ts AS DATE)) AS dmin FROM events) d0""".stripMargin

  /** Weighted OLS coefficients from 6 decimal moment folds. */
  private def wls(df: DataFrame): DataFrame = {
    val m = df.agg(
      sum(col("w").cast("decimal(18,6)")).as("sw"),
      sum(round(col("w") * col("i"), 6).cast("decimal(27,6)")).as("swi"),
      sum(round(col("w") * col("i") * col("i"), 6).cast("decimal(27,6)"))
        .as("swii"),
      sum(round(col("w") * col("v"), 6).cast("decimal(27,6)")).as("swv"),
      sum(round(col("w") * col("i") * col("v"), 6).cast("decimal(27,6)"))
        .as("swiv"))
    def f(c: String) = col(c).cast("double")
    val b1 = (f("sw") * f("swiv") - f("swi") * f("swv")) /
      (f("sw") * f("swii") - f("swi") * f("swi"))
    m.select(round(b1, 8).as("b1"),
      round((f("swv") - round(b1, 8) * f("swi")) / f("sw"), 8).as("b0"))
  }

  private def wlsSql(src: String): String =
    s"""SELECT round((CAST(sw AS DOUBLE)*CAST(swiv AS DOUBLE)
       |      - CAST(swi AS DOUBLE)*CAST(swv AS DOUBLE))
       |      /(CAST(sw AS DOUBLE)*CAST(swii AS DOUBLE)
       |      - CAST(swi AS DOUBLE)*CAST(swi AS DOUBLE)), 8) AS b1,
       |    round((CAST(swv AS DOUBLE)
       |      - round((CAST(sw AS DOUBLE)*CAST(swiv AS DOUBLE)
       |        - CAST(swi AS DOUBLE)*CAST(swv AS DOUBLE))
       |        /(CAST(sw AS DOUBLE)*CAST(swii AS DOUBLE)
       |        - CAST(swi AS DOUBLE)*CAST(swi AS DOUBLE)), 8)
       |        *CAST(swi AS DOUBLE))/CAST(sw AS DOUBLE), 8) AS b0
       |  FROM (SELECT sum(CAST(w AS DECIMAL(18,6))) AS sw,
       |      sum(CAST(round(w*i, 6) AS DECIMAL(27,6))) AS swi,
       |      sum(CAST(round(w*i*i, 6) AS DECIMAL(27,6))) AS swii,
       |      sum(CAST(round(w*v, 6) AS DECIMAL(27,6))) AS swv,
       |      sum(CAST(round(w*i*v, 6) AS DECIMAL(27,6))) AS swiv
       |    FROM $src) mm""".stripMargin

  /** Median of `c` over a bounded frame WITHOUT a window: the value
    * whose ≤-count first reaches ⌈n/2⌉ (rank by self-join count,
    * day tiebreak). */
  private def medianOf(df: DataFrame, c: String): DataFrame = {
    val a = df.select(col(c).as("x"), col("day"))
    val b = df.select(col(c).as("x2"), col("day").as("day2"))
    val n = df.agg(count(lit(1)).as("n"))
    a.join(b, col("x2") < col("x") ||
        (col("x2") === col("x") && col("day2") <= col("day")))
      .groupBy(col("x"), col("day")).agg(count(lit(1)).as("rk"))
      .crossJoin(broadcast(n))
      .filter(col("rk") === ceil(col("n").cast("double") / 2).cast("long"))
      .agg(min(col("x")).as("med"))
  }

  private def medianSql(src: String, c: String): String =
    s"""SELECT min(x) AS med FROM (
       |    SELECT a.x, CAST(count(*) AS BIGINT) AS rk
       |    FROM (SELECT $c AS x, day FROM $src) a
       |    JOIN (SELECT $c AS x2, day AS day2 FROM $src) b
       |      ON b.x2 < a.x OR (b.x2 = a.x AND b.day2 <= a.day)
       |    GROUP BY a.x, a.day) r,
       |    (SELECT CAST(count(*) AS BIGINT) AS n FROM $src) nn
       |  WHERE rk = CAST(ceil(CAST(n AS DOUBLE)/2) AS BIGINT)""".stripMargin

  /** q_huber — two unrolled IRLS steps at k=1.345 with the MAD
    * scale; reports the robust slope beside the OLS one and the
    * count of down-weighted days. */
  def huber(s: SparkSession, d: String): DataFrame = {
    val dd = daily(s, d).withColumn("w", lit(1.0))
    val ols = wls(dd)
    def step(base: DataFrame, coef: DataFrame): DataFrame = {
      val r = base.drop("w").crossJoin(broadcast(coef))
        .withColumn("resid",
          round(col("v") - col("b0") - col("b1") * col("i"), 6))
        .withColumn("ar", abs(col("resid")))
      val mad = medianOf(r.select(col("ar"), col("day")), "ar")
        .select(round(lit(1.4826) * col("med"), 8).as("sigma"))
      r.crossJoin(broadcast(mad))
        .withColumn("w", round(least(lit(1.0),
          lit(1.345) * col("sigma") / col("ar")), 6))
        .select(col("day"), col("i"), col("v"), col("w"))
    }
    // localCheckpoint per IRLS iterate: each weighted frame is
    // referenced by the next step's coef fit AND the residual/MAD
    // branches, so the unrolled trees otherwise nest multiplicatively
    // (q_kcore_peel pattern); the frame is the tiny per-day panel
    val it1 = step(dd, ols).truncatedCheckpoint()
    val c1 = wls(it1)
    val it2 = step(dd, c1).truncatedCheckpoint()
    val c2 = wls(it2)
    val nDown = it2.agg(count(when(col("w") < 1.0, lit(1)))
      .as("n_downweighted"), count(lit(1)).as("n_days"))
    c2.select(col("b0").as("b0_huber"), col("b1").as("b1_huber"))
      .crossJoin(broadcast(ols.select(col("b1").as("b1_ols"))))
      .crossJoin(broadcast(nDown))
  }

  val huberOracle: String = {
    val d = s"($dailySql)"
    def withW1 = s"(SELECT day, i, v, 1.0 AS w FROM $d dw)"
    def residOf(coefSql: String) =
      s"""(SELECT day, i, v,
         |    round(v - b0 - b1*i, 6) AS resid,
         |    abs(round(v - b0 - b1*i, 6)) AS ar
         |  FROM $d dr, ($coefSql) cf)""".stripMargin
    def stepOf(coefSql: String) =
      s"""(SELECT day, i, v,
         |    round(least(1.0, 1.345*sigma/ar), 6) AS w
         |  FROM ${residOf(coefSql)} rr,
         |    (SELECT round(1.4826*med, 8) AS sigma
         |      FROM (${medianSql(residOf(coefSql) + " ms", "ar")}) md)
         |      sg)""".stripMargin
    val ols = wlsSql(withW1 + " w1")
    val c1 = wlsSql(stepOf(ols) + " s1")
    val c2 = wlsSql(stepOf(c1) + " s2")
    s"""SELECT cc.b0 AS b0_huber, cc.b1 AS b1_huber, oo.b1 AS b1_ols,
       |  nd.n_downweighted, nd.n_days
       |FROM ($c2) cc, ($ols) oo,
       |  (SELECT CAST(count(CASE WHEN w < 1.0 THEN 1 END) AS BIGINT)
       |      AS n_downweighted,
       |    CAST(count(*) AS BIGINT) AS n_days
       |  FROM ${stepOf(c1)} fw) nd""".stripMargin
  }

  /** q_boxcox — profile log-likelihood of the Box–Cox transform of
    * 100k-scaled order totalprice over λ ∈ {−1,−0.5,0,0.5,1}:
    * LL(λ) = −n/2·ln σ̂²(z_λ) + (λ−1)Σln y; best λ flagged. */
  def boxcox(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    // narrow 2-column projection referenced by the log-moment frame +
    // all 5 per-λ transform branches (was 20 orders scans); caching
    // one 2-col projection beats 11 column-pruned re-reads at any SF
    val y = orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") / 100000.0, 8).as("y"))
      .truncatedCheckpoint()
    val lams = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    val slny = y.agg(
      sum(round(log(col("y")), 8).cast("decimal(27,8)"))
        .as("slny"))
    def zOf(lam: Double): Column =
      if (lam == 0.0) round(log(col("y")), 8)
      else round((pow(col("y"), lit(lam)) - lit(1.0))
        / lit(lam), 8)
    val rows = lams.map { lam =>
      val z = y.select(zOf(lam).as("z"))
      val m = z.agg(count(lit(1)).as("n"),
        sum(col("z").cast("decimal(27,8)")).as("sz"),
        sum(round(col("z") * col("z"), 8).cast("decimal(38,8)"))
          .as("szz"))
      def f(c: String) = col(c).cast("double")
      val nD = f("n")
      val varz = round(f("szz") / nD
        - round(f("sz") / nD, 8) * round(f("sz") / nD, 8), 8)
      m.crossJoin(broadcast(slny))
        .select(lit(lam).as("lambda"),
          round(-nD / lit(2.0) * log(round(varz, 10))
            + (lit(lam) - lit(1.0)) * col("slny").cast("double"), 4)
            .as("loglik"))
    }
    val all = rows.reduce(_ unionByName _)
    val best = all.orderBy(col("loglik").desc, col("lambda")).limit(1)
      .select(col("lambda").as("lb"), lit(true).as("best"))
    all.join(broadcast(best), col("lambda") === col("lb"), "left")
      .select(col("lambda"), col("loglik"),
        coalesce(col("best"), lit(false)).as("best"))
      .orderBy(col("lambda"))
  }

  val boxcoxOracle: String = {
    val lams = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    val rows = lams.map { lam =>
      val zExpr =
        if (lam == 0.0) "round(ln(y), 8)"
        else s"round((pow(y, CAST($lam AS DOUBLE)) - 1.0)/CAST($lam AS DOUBLE), 8)"
      s"""SELECT CAST($lam AS DOUBLE) AS lambda,
         |  round(-CAST(n AS DOUBLE)/2.0
         |    *ln(round(round(CAST(szz AS DOUBLE)/CAST(n AS DOUBLE)
         |      - round(CAST(sz AS DOUBLE)/CAST(n AS DOUBLE), 8)
         |        *round(CAST(sz AS DOUBLE)/CAST(n AS DOUBLE), 8), 8),
         |      10))
         |    + (CAST($lam AS DOUBLE) - 1.0)*CAST(slny AS DOUBLE), 4)
         |    AS loglik
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(z AS DECIMAL(27,8))) AS sz,
         |    sum(CAST(round(z*z, 8) AS DECIMAL(38,8))) AS szz
         |  FROM (SELECT $zExpr AS z
         |    FROM (SELECT round(o_totalprice/100000.0, 8) AS y FROM orders) yy) zz) m,
         |  (SELECT sum(CAST(round(ln(round(o_totalprice/100000.0, 8)), 8)
         |      AS DECIMAL(27,8))) AS slny FROM orders) sl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH allr AS ($rows),
       |best AS (SELECT lambda AS lb FROM allr
       |  ORDER BY loglik DESC, lambda LIMIT 1)
       |SELECT lambda, loglik, coalesce(lambda = lb, FALSE) AS best
       |FROM allr LEFT JOIN best ON lambda = lb
       |ORDER BY lambda""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_huber" -> (huber _),
    "q_boxcox" -> (boxcox _))

  val oracle: Map[String, String] = Map(
    "q_huber" -> huberOracle,
    "q_boxcox" -> boxcoxOracle)
}
