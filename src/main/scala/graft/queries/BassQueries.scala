package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #77: Bass diffusion-curve fitting — the classic
  * product-adoption model n_t = p·m + (q−p)·N_{t−1} − (q/m)·N²_{t−1},
  * estimated the standard way (Bass 1969 discrete analogue): OLS of
  * weekly new adopters on (1, N, N²) solved in closed form by
  * Cramer's rule on the 3×3 normal equations, then
  * m = (−b − √(b²−4ac))/(2c), p = a/m, q = −c·m.
  *
  * Scale notes (100 TB): adopters are a user-keyed first-event
  * contraction; the weekly grid is bounded by the calendar; the
  * cumulative N comes from ONE [[graft.operators.PrefixOps]] pass
  * (no partition-less window); the normal-equation moments are one
  * decimal fold and the 3×3 solve is scalar arithmetic on the
  * single-row result.
  *
  * Determinism: adopter counts exact; x-powers accumulate as exact
  * decimals from integer weeks; determinants evaluate in one
  * spelled-out operation order (identical IEEE results); the
  * discriminant rounds at 4dp before sqrt; coefficients at 8dp,
  * model parameters at 6dp. */
object BassQueries extends QueryFamily {

  /** q_bass_fit — one-row Bass fit over weekly customer adoption
    * (first order ever placed; the events first-purchase proxy
    * collapses to 2 weeks in this data): a, b, c and the implied
    * (m, p, q). */
  def bassFit(s: SparkSession, d: String): DataFrame = {
    val adopters = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("fday"))
      .groupBy(date_trunc("week", col("fday")).as("wk"))
      .agg(count(lit(1)).as("n_new"))
    val curve = graft.operators.PrefixOps.runningSums(adopters,
        unix_date(to_date(col("wk"))), Seq(col("wk")),
        Seq("cumn" -> col("n_new")))
      .select(col("wk"), col("n_new").cast("double").as("y"),
        (col("cumn") - col("n_new")).cast("double").as("x"))
    val m = curve.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(27,2)")).as("s1"),
      sum((col("x") * col("x")).cast("decimal(38,2)")).as("s2"),
      sum((col("x") * col("x") * col("x")).cast("decimal(38,2)")).as("s3"),
      sum((col("x") * col("x") * col("x") * col("x"))
        .cast("decimal(38,2)")).as("s4"),
      sum(col("y").cast("decimal(27,2)")).as("t0"),
      sum((col("x") * col("y")).cast("decimal(38,2)")).as("t1"),
      sum((col("x") * col("x") * col("y")).cast("decimal(38,2)")).as("t2"))
    def f(c: String) = col(c).cast("double")
    val s0 = col("n").cast("double")
    val dd = s0 * (f("s2") * f("s4") - f("s3") * f("s3")) -
      f("s1") * (f("s1") * f("s4") - f("s3") * f("s2")) +
      f("s2") * (f("s1") * f("s3") - f("s2") * f("s2"))
    val da = f("t0") * (f("s2") * f("s4") - f("s3") * f("s3")) -
      f("s1") * (f("t1") * f("s4") - f("t2") * f("s3")) +
      f("s2") * (f("t1") * f("s3") - f("t2") * f("s2"))
    val db = s0 * (f("t1") * f("s4") - f("t2") * f("s3")) -
      f("t0") * (f("s1") * f("s4") - f("s3") * f("s2")) +
      f("s2") * (f("s1") * f("t2") - f("s2") * f("t1"))
    val dc = s0 * (f("s2") * f("t2") - f("s3") * f("t1")) -
      f("s1") * (f("s1") * f("t2") - f("s3") * f("t0")) +
      f("s2") * (f("s1") * f("t1") - f("s2") * f("t0"))
    val a = round(da / dd, 8); val b = round(db / dd, 8)
    val c = round(dc / dd, 8)
    val disc = round(b * b - lit(4.0) * a * c, 4)
    val mm = when(c < 0.0 && disc >= 0.0,
      round((-b - sqrt(disc)) / (lit(2.0) * c), 4))
    m.select(col("n").as("n_weeks"), a.as("a"), b.as("b"), c.as("c"),
      mm.as("m"),
      round(a / mm, 6).as("p"),
      round(-c * mm, 6).as("q"))
  }

  val bassFitOracle: String =
    """WITH adopters AS (SELECT date_trunc('week', fday) AS wk,
      |    CAST(count(*) AS BIGINT) AS n_new
      |  FROM (SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS fday
      |    FROM orders GROUP BY 1)
      |  GROUP BY 1),
      |curve AS (SELECT wk, CAST(n_new AS DOUBLE) AS y,
      |    CAST(sum(n_new) OVER (ORDER BY wk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - n_new AS DOUBLE) AS x
      |  FROM adopters),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(x*x AS DECIMAL(38,2))) AS DOUBLE) AS s2,
      |    CAST(sum(CAST(x*x*x AS DECIMAL(38,2))) AS DOUBLE) AS s3,
      |    CAST(sum(CAST(x*x*x*x AS DECIMAL(38,2))) AS DOUBLE) AS s4,
      |    CAST(sum(CAST(y AS DECIMAL(27,2))) AS DOUBLE) AS t0,
      |    CAST(sum(CAST(x*y AS DECIMAL(38,2))) AS DOUBLE) AS t1,
      |    CAST(sum(CAST(x*x*y AS DECIMAL(38,2))) AS DOUBLE) AS t2
      |  FROM curve),
      |sol AS (SELECT n,
      |    round((t0*(s2*s4 - s3*s3) - s1*(t1*s4 - t2*s3)
      |        + s2*(t1*s3 - t2*s2))
      |      /(CAST(n AS DOUBLE)*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2)
      |        + s2*(s1*s3 - s2*s2)), 8) AS a,
      |    round((CAST(n AS DOUBLE)*(t1*s4 - t2*s3) - t0*(s1*s4 - s3*s2)
      |        + s2*(s1*t2 - s2*t1))
      |      /(CAST(n AS DOUBLE)*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2)
      |        + s2*(s1*s3 - s2*s2)), 8) AS b,
      |    round((CAST(n AS DOUBLE)*(s2*t2 - s3*t1) - s1*(s1*t2 - s3*t0)
      |        + s2*(s1*t1 - s2*t0))
      |      /(CAST(n AS DOUBLE)*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2)
      |        + s2*(s1*s3 - s2*s2)), 8) AS c
      |  FROM m),
      |par AS (SELECT n, a, b, c,
      |    CASE WHEN c < 0.0 AND round(b*b - 4.0*a*c, 4) >= 0.0 THEN
      |      round((-b - sqrt(round(b*b - 4.0*a*c, 4)))/(2.0*c), 4)
      |    END AS m
      |  FROM sol)
      |SELECT n AS n_weeks, a, b, c, m,
      |  round(a/m, 6) AS p,
      |  round(-c*m, 6) AS q
      |FROM par""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bass_fit" -> (bassFit _))

  val oracle: Map[String, String] = Map(
    "q_bass_fit" -> bassFitOracle)
}
