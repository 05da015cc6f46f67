package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #46: closed-form multivariate analysis on the
  * (quantity, extendedprice) feature pair — exact 2×2 PCA (the
  * symmetric eigenproblem has a closed form, so the full PCA pipeline
  * is one moment scan + scalar arithmetic) and Mahalanobis-distance
  * outliers (the covariance-aware generalization of q_zscore /
  * q_outlier_iqr).
  *
  * Scale notes (100 TB): both queries are single-scan DECIMAL moment
  * aggregations (partial-aggregable, no shuffle beyond the k-group /
  * 1-row contraction) — the q_feature_corr shape; Mahalanobis scoring
  * joins the 1-row moment frame back via broadcast and takes top-k
  * through orderBy().limit() (TakeOrderedAndProject, no global
  * sort). A d-dimensional PCA at scale swaps the closed form for a
  * driver-side eigensolve of the d×d Gram matrix — same single-scan
  * moment pass, d² values collected, never the data.
  *
  * Determinism: moments are DECIMAL sums (q_feature_corr
  * convention); covariance entries round to 6dp before entering the
  * eigen/inverse arithmetic so both engines compute on identical
  * doubles; atan2/sqrt outputs round at 4–6dp (D2).
  */
object MultivarQueries extends QueryFamily {

  private def moments(df: DataFrame, by: Seq[Column]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(col("q").cast("decimal(18,6)")).cast("double").as("sq"),
      sum(col("e").cast("decimal(18,6)")).cast("double").as("se"),
      sum((col("q") * col("q")).cast("decimal(27,6)")).cast("double").as("sqq"),
      sum((col("e") * col("e")).cast("decimal(27,6)")).cast("double").as("see"),
      sum((col("q") * col("e")).cast("decimal(27,6)")).cast("double").as("sqe"))
    val m = if (by.isEmpty) df.agg(aggs.head, aggs.tail: _*)
            else df.groupBy(by: _*).agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    // sample covariance entries, 6dp-rounded so downstream scalar
    // arithmetic starts from identical doubles in both engines
    m.withColumn("cxx",
        round((col("sqq") - col("sq") * col("sq") / nD) / (nD - 1), 6))
      .withColumn("cyy",
        round((col("see") - col("se") * col("se") / nD) / (nD - 1), 6))
      .withColumn("cxy",
        round((col("sqe") - col("sq") * col("se") / nD) / (nD - 1), 6))
      .withColumn("mq", round(col("sq") / nD, 6))
      .withColumn("me", round(col("se") / nD, 6))
  }

  private def momentsSql(groupCols: String): String = {
    val (sel, grp) =
      if (groupCols.isEmpty) ("", "")
      else (s"$groupCols, ", s"GROUP BY $groupCols")
    s"""SELECT ${sel}n, sq, se,
      |    round((sqq - sq*sq/n)/(n - 1), 6) AS cxx,
      |    round((see - se*se/n)/(n - 1), 6) AS cyy,
      |    round((sqe - sq*se/n)/(n - 1), 6) AS cxy,
      |    round(sq/n, 6) AS mq, round(se/n, 6) AS me
      |  FROM (SELECT ${sel}CAST(count(*) AS BIGINT) AS n,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
      |      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS se,
      |      CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sqq,
      |      CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS see,
      |      CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sqe
      |    FROM lineitem $grp) mom""".stripMargin
  }

  /** q_pca2 — exact 2×2 PCA per return flag: eigenvalues of the
    * sample covariance via the trace/determinant closed form
    * λ = T/2 ± √(T²/4 − D), explained-variance ratio λ₁/T, and the
    * first principal axis angle atan2(λ₁ − cxx, cxy) in degrees. */
  def pca2(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_returnflag"),
      col("l_quantity").as("q"), col("l_extendedprice").as("e"))
    val m = moments(li, Seq(col("l_returnflag")))
    val t = col("cxx") + col("cyy")
    val det = col("cxx") * col("cyy") - col("cxy") * col("cxy")
    val disc = sqrt(t * t / 4 - det)
    val lam1 = t / 2 + disc
    m.select(col("l_returnflag"), col("n"),
        round(lam1, 4).as("lam1"),
        round(t / 2 - disc, 4).as("lam2"),
        round(lam1 / t, 6).as("evr"),
        round(degrees(atan2(lam1 - col("cxx"), col("cxy"))), 4)
          .as("angle_deg"))
      .orderBy(col("l_returnflag"))
  }

  val pca2Oracle: String =
    s"""WITH m AS (${momentsSql("l_returnflag")})
      |SELECT l_returnflag, n,
      |  round((cxx + cyy)/2 +
      |    sqrt((cxx + cyy)*(cxx + cyy)/4 - (cxx*cyy - cxy*cxy)), 4) AS lam1,
      |  round((cxx + cyy)/2 -
      |    sqrt((cxx + cyy)*(cxx + cyy)/4 - (cxx*cyy - cxy*cxy)), 4) AS lam2,
      |  round(((cxx + cyy)/2 +
      |    sqrt((cxx + cyy)*(cxx + cyy)/4 - (cxx*cyy - cxy*cxy))) /
      |    (cxx + cyy), 6) AS evr,
      |  round(degrees(atan2((cxx + cyy)/2 +
      |    sqrt((cxx + cyy)*(cxx + cyy)/4 - (cxx*cyy - cxy*cxy)) - cxx,
      |    cxy)), 4) AS angle_deg
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q_mahalanobis — the 10 line items farthest from the
    * (quantity, extendedprice) centroid in Mahalanobis distance:
    * d² = (cyy·dx² − 2·cxy·dx·dy + cxx·dy²)/(cxx·cyy − cxy²) against
    * the broadcast global covariance; top-k through orderBy().limit()
    * with a (d², orderkey, linenumber) total tie-break. */
  def mahalanobis(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").as("q"), col("l_extendedprice").as("e"))
    val m = moments(li, Seq.empty)
      .select(col("cxx"), col("cyy"), col("cxy"), col("mq"), col("me"))
    val dx = col("q") - col("mq")
    val dy = col("e") - col("me")
    li.crossJoin(broadcast(m))
      .select(col("l_orderkey"), col("l_linenumber"),
        round((col("cyy") * dx * dx - lit(2.0) * col("cxy") * dx * dy +
          col("cxx") * dy * dy) /
          (col("cxx") * col("cyy") - col("cxy") * col("cxy")), 6).as("d2"))
      .orderBy(col("d2").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
  }

  val mahalanobisOracle: String =
    s"""WITH m AS (${momentsSql("")})
      |SELECT l_orderkey, l_linenumber,
      |  round((cyy*(l_quantity - mq)*(l_quantity - mq) -
      |    2.0*cxy*(l_quantity - mq)*(l_extendedprice - me) +
      |    cxx*(l_extendedprice - me)*(l_extendedprice - me)) /
      |    (cxx*cyy - cxy*cxy), 6) AS d2
      |FROM lineitem CROSS JOIN m
      |ORDER BY d2 DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin

  /** q_cca — first/second canonical correlations between the daily
    * purchase block X=(count, value) and non-purchase block
    * Y=(count, value): the eigenvalues of Σxx⁻¹ΣxyΣyy⁻¹Σyx by the
    * 2×2 closed form (adjugates instead of inverses so nothing
    * divides until the final trace/det assembly — the q_pca2
    * convention scaled up to a 4-variable covariance fold). One
    * decimal moment pass over the bounded daily grid; everything
    * after is scalar algebra on 14 rounded doubles. */
  def cca(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d).groupBy(to_date(col("ts2")).as("day"))
      .agg(count(when(col("event_type") === "purchase", lit(1)))
          .cast("double").as("a"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).cast("decimal(18,2)")).cast("double"), 2)
          .as("b"),
        count(when(col("event_type") =!= "purchase", lit(1)))
          .cast("double").as("c"),
        round(sum(when(col("event_type") =!= "purchase", col("value"))
          .otherwise(lit(0.0)).cast("decimal(18,2)")).cast("double"), 2)
          .as("dd"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("a").cast("decimal(18,2)")).as("sa"),
      sum(col("b").cast("decimal(18,2)")).as("sb"),
      sum(col("c").cast("decimal(18,2)")).as("sc"),
      sum(col("dd").cast("decimal(18,2)")).as("sd"),
      sum((col("a") * col("a")).cast("decimal(38,4)")).as("saa"),
      sum((col("a") * col("b")).cast("decimal(38,4)")).as("sab"),
      sum((col("a") * col("c")).cast("decimal(38,4)")).as("sac"),
      sum((col("a") * col("dd")).cast("decimal(38,4)")).as("sad"),
      sum((col("b") * col("b")).cast("decimal(38,4)")).as("sbb"),
      sum((col("b") * col("c")).cast("decimal(38,4)")).as("sbc"),
      sum((col("b") * col("dd")).cast("decimal(38,4)")).as("sbd"),
      sum((col("c") * col("c")).cast("decimal(38,4)")).as("scc"),
      sum((col("c") * col("dd")).cast("decimal(38,4)")).as("scd"),
      sum((col("dd") * col("dd")).cast("decimal(38,4)")).as("sdd"))
    def f(c: String) = col(c).cast("double")
    val nD = f("n")
    def mu(su: String) = round(f(su) / nD, 8)
    def cov(suv: String, su: String, sv: String) =
      round(f(suv) / nD - mu(su) * mu(sv), 8)
    val vaa = cov("saa", "sa", "sa"); val vab = cov("sab", "sa", "sb")
    val vac = cov("sac", "sa", "sc"); val vad = cov("sad", "sa", "sd")
    val vbb = cov("sbb", "sb", "sb"); val vbc = cov("sbc", "sb", "sc")
    val vbd = cov("sbd", "sb", "sd"); val vcc = cov("scc", "sc", "sc")
    val vcd = cov("scd", "sc", "sd"); val vdd = cov("sdd", "sd", "sd")
    val detx = round(vaa * vbb - vab * vab, 10)
    val dety = round(vcc * vdd - vcd * vcd, 10)
    val a11 = round(vbb * vac - vab * vbc, 10)
    val a12 = round(vbb * vad - vab * vbd, 10)
    val a21 = round(vaa * vbc - vab * vac, 10)
    val a22 = round(vaa * vbd - vab * vad, 10)
    val b11 = round(vdd * vac - vcd * vad, 10)
    val b12 = round(vdd * vbc - vcd * vbd, 10)
    val b21 = round(vcc * vad - vcd * vac, 10)
    val b22 = round(vcc * vbd - vcd * vbc, 10)
    val m11 = round(a11 * b11 + a12 * b21, 8)
    val m22 = round(a21 * b12 + a22 * b22, 8)
    val tr = round((m11 + m22) / (detx * dety), 10)
    val detm = round((round(a11 * a22 - a12 * a21, 8)
      * round(b11 * b22 - b12 * b21, 8))
      / (detx * dety * detx * dety), 12)
    val disc = round(tr * tr - lit(4.0) * detm, 12)
    val lmax = round((tr + sqrt(greatest(lit(0.0), disc))) / lit(2.0), 10)
    val lmin = round((tr - sqrt(greatest(lit(0.0), disc))) / lit(2.0), 10)
    m.select(col("n"),
      round(sqrt(greatest(lit(0.0), lmax)), 6).as("rho1"),
      round(sqrt(greatest(lit(0.0), lmin)), 6).as("rho2"))
  }

  val ccaOracle: String = {
    def mu(su: String) = s"round(CAST($su AS DOUBLE)/CAST(n AS DOUBLE), 8)"
    def cov(suv: String, su: String, sv: String) =
      s"round(CAST($suv AS DOUBLE)/CAST(n AS DOUBLE) - ${mu(su)}*${mu(sv)}, 8)"
    val defs = Seq(
      "vaa" -> cov("saa", "sa", "sa"), "vab" -> cov("sab", "sa", "sb"),
      "vac" -> cov("sac", "sa", "sc"), "vad" -> cov("sad", "sa", "sd"),
      "vbb" -> cov("sbb", "sb", "sb"), "vbc" -> cov("sbc", "sb", "sc"),
      "vbd" -> cov("sbd", "sb", "sd"), "vcc" -> cov("scc", "sc", "sc"),
      "vcd" -> cov("scd", "sc", "sd"), "vdd" -> cov("sdd", "sd", "sd"))
      .map { case (nm, e) => s"$e AS $nm" }.mkString(",\n    ")
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS DOUBLE) AS a,
      |    round(CAST(sum(CAST(CASE WHEN event_type = 'purchase'
      |      THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS b,
      |    CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
      |      AS DOUBLE) AS c,
      |    round(CAST(sum(CAST(CASE WHEN event_type <> 'purchase'
      |      THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS dd
      |  FROM events GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(a AS DECIMAL(18,2))) AS sa,
      |    sum(CAST(b AS DECIMAL(18,2))) AS sb,
      |    sum(CAST(c AS DECIMAL(18,2))) AS sc,
      |    sum(CAST(dd AS DECIMAL(18,2))) AS sd,
      |    sum(CAST(a*a AS DECIMAL(38,4))) AS saa,
      |    sum(CAST(a*b AS DECIMAL(38,4))) AS sab,
      |    sum(CAST(a*c AS DECIMAL(38,4))) AS sac,
      |    sum(CAST(a*dd AS DECIMAL(38,4))) AS sad,
      |    sum(CAST(b*b AS DECIMAL(38,4))) AS sbb,
      |    sum(CAST(b*c AS DECIMAL(38,4))) AS sbc,
      |    sum(CAST(b*dd AS DECIMAL(38,4))) AS sbd,
      |    sum(CAST(c*c AS DECIMAL(38,4))) AS scc,
      |    sum(CAST(c*dd AS DECIMAL(38,4))) AS scd,
      |    sum(CAST(dd*dd AS DECIMAL(38,4))) AS sdd
      |  FROM daily),
      |v AS (SELECT n,
      |    """.stripMargin + defs + """
      |  FROM m),
      |e1 AS (SELECT n,
      |    round(vaa*vbb - vab*vab, 10) AS detx,
      |    round(vcc*vdd - vcd*vcd, 10) AS dety,
      |    round(vbb*vac - vab*vbc, 10) AS a11,
      |    round(vbb*vad - vab*vbd, 10) AS a12,
      |    round(vaa*vbc - vab*vac, 10) AS a21,
      |    round(vaa*vbd - vab*vad, 10) AS a22,
      |    round(vdd*vac - vcd*vad, 10) AS b11,
      |    round(vdd*vbc - vcd*vbd, 10) AS b12,
      |    round(vcc*vad - vcd*vac, 10) AS b21,
      |    round(vcc*vbd - vcd*vbc, 10) AS b22
      |  FROM v),
      |e2 AS (SELECT n,
      |    round((round(a11*b11 + a12*b21, 8)
      |      + round(a21*b12 + a22*b22, 8))/(detx*dety), 10) AS tr,
      |    round((round(a11*a22 - a12*a21, 8)
      |      *round(b11*b22 - b12*b21, 8))
      |      /(detx*dety*detx*dety), 12) AS detm
      |  FROM e1),
      |e3 AS (SELECT n, tr,
      |    round(tr*tr - 4.0*detm, 12) AS disc
      |  FROM e2)
      |SELECT n,
      |  round(sqrt(greatest(0.0,
      |    round((tr + sqrt(greatest(0.0, disc)))/2.0, 10))), 6) AS rho1,
      |  round(sqrt(greatest(0.0,
      |    round((tr - sqrt(greatest(0.0, disc)))/2.0, 10))), 6) AS rho2
      |FROM e3""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pca2" -> (pca2 _),
    "q_mahalanobis" -> (mahalanobis _),
    "q_cca" -> (cca _))

  val oracle: Map[String, String] = Map(
    "q_pca2" -> pca2Oracle,
    "q_mahalanobis" -> mahalanobisOracle,
    "q_cca" -> ccaOracle)
}
