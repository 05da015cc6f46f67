package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #116: a two-component 1-D Gaussian mixture on
  * the (100k-scaled) order values by TWO UNROLLED EM iterations from
  * fixed literal initialization — the soft-clustering counterpart to
  * q_kmeans_step's hard assignments, and the house pattern for
  * iterative ML: each EM round is ONE map-side pass (responsibilities
  * against a broadcast 6-parameter row, then weighted decimal moment
  * folds), never a driver loop.
  *
  * Determinism (D1–D5): the Gaussian exponent rounds at 8dp before
  * the house exp; densities at 10dp; responsibilities at 8dp into
  * exact decimal sums; component moments recovered via E[y²]−μ² so
  * each M-step is a single pass; parameters re-round at 8dp between
  * iterations. */
object MixtureQueries extends QueryFamily {

  /** q_gmm_em — (w, μ, σ) per component after two EM rounds. */
  def gmmEm(s: SparkSession, d: String): DataFrame = {
    val y = orders(s, d)
      .select(round(col("o_totalprice") / 100000.0, 8).as("y"))
    val init = y.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(0.5).as("w1"), lit(1.5).as("mu1"),
        lit(1.0).as("s1"), lit(0.5).as("w2"), lit(3.5).as("mu2"),
        lit(1.0).as("s2"))
    def phi(mu: Column, sd: Column): Column =
      round(exp(round(-(col("y") - mu) * (col("y") - mu)
        / (lit(2.0) * sd * sd), 8))
        / round(sqrt(lit(2.0 * math.Pi) * sd * sd), 8), 10)
    def emStep(params: DataFrame): DataFrame = {
      val r = y.crossJoin(broadcast(params))
        .withColumn("p1", round(col("w1") * phi(col("mu1"), col("s1")), 12))
        .withColumn("p2", round(col("w2") * phi(col("mu2"), col("s2")), 12))
        .withColumn("r1", round(col("p1") / (col("p1") + col("p2")), 8))
      val m = r.agg(first(col("n")).as("n"),
        sum(col("r1").cast("decimal(18,8)")).as("sr1"),
        sum(round(col("r1") * col("y"), 10).cast("decimal(27,10)"))
          .as("sry1"),
        sum(round(col("r1") * col("y") * col("y"), 10)
          .cast("decimal(27,10)")).as("sryy1"),
        sum(round((lit(1.0) - col("r1")) * col("y"), 10)
          .cast("decimal(27,10)")).as("sry2"),
        sum(round((lit(1.0) - col("r1")) * col("y") * col("y"), 10)
          .cast("decimal(27,10)")).as("sryy2"))
      def f(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val sr2 = nD - f("sr1")
      val mu1 = round(f("sry1") / f("sr1"), 8)
      val mu2 = round(f("sry2") / sr2, 8)
      m.select(col("n"),
        round(f("sr1") / nD, 8).as("w1"), mu1.as("mu1"),
        round(sqrt(greatest(lit(1e-8),
          round(f("sryy1") / f("sr1") - mu1 * mu1, 10))), 8).as("s1"),
        round(sr2 / nD, 8).as("w2"), mu2.as("mu2"),
        round(sqrt(greatest(lit(1e-8),
          round(f("sryy2") / sr2 - mu2 * mu2, 10))), 8).as("s2"))
    }
    val p2 = emStep(emStep(init))
    p2.select(col("n"), col("w1"), col("mu1"), col("s1"),
      col("w2"), col("mu2"), col("s2"))
  }

  val gmmEmOracle: String = {
    val twoPi = java.math.BigDecimal.valueOf(2.0 * math.Pi).toPlainString
    def phi(mu: String, sd: String) =
      s"""round(exp(round(-(y - $mu)*(y - $mu)
         |      /(2.0*$sd*$sd), 8))
         |      /round(sqrt(CAST($twoPi AS DOUBLE)*$sd*$sd), 8), 10)""".stripMargin
    def stepSql(params: String, out: String) =
      s"""r_$out AS (SELECT y, yy.n AS n,
         |    round(w1*${phi("mu1", "s1")}, 12) AS p1,
         |    round(w2*${phi("mu2", "s2")}, 12) AS p2
         |  FROM yy, $params),
         |rr_$out AS (SELECT y, n,
         |    round(p1/(p1 + p2), 8) AS r1
         |  FROM r_$out),
         |m_$out AS (SELECT any_value(n) AS n,
         |    sum(CAST(r1 AS DECIMAL(18,8))) AS sr1,
         |    sum(CAST(round(r1*y, 10) AS DECIMAL(27,10))) AS sry1,
         |    sum(CAST(round(r1*y*y, 10) AS DECIMAL(27,10))) AS sryy1,
         |    sum(CAST(round((1.0 - r1)*y, 10) AS DECIMAL(27,10)))
         |      AS sry2,
         |    sum(CAST(round((1.0 - r1)*y*y, 10) AS DECIMAL(27,10)))
         |      AS sryy2
         |  FROM rr_$out),
         |$out AS (SELECT n,
         |    round(CAST(sr1 AS DOUBLE)/CAST(n AS DOUBLE), 8) AS w1,
         |    round(CAST(sry1 AS DOUBLE)/CAST(sr1 AS DOUBLE), 8) AS mu1,
         |    round(sqrt(greatest(0.00000001,
         |      round(CAST(sryy1 AS DOUBLE)/CAST(sr1 AS DOUBLE)
         |        - round(CAST(sry1 AS DOUBLE)/CAST(sr1 AS DOUBLE), 8)
         |          *round(CAST(sry1 AS DOUBLE)/CAST(sr1 AS DOUBLE), 8),
         |        10))), 8) AS s1,
         |    round((CAST(n AS DOUBLE) - CAST(sr1 AS DOUBLE))
         |      /CAST(n AS DOUBLE), 8) AS w2,
         |    round(CAST(sry2 AS DOUBLE)
         |      /(CAST(n AS DOUBLE) - CAST(sr1 AS DOUBLE)), 8) AS mu2,
         |    round(sqrt(greatest(0.00000001,
         |      round(CAST(sryy2 AS DOUBLE)
         |        /(CAST(n AS DOUBLE) - CAST(sr1 AS DOUBLE))
         |        - round(CAST(sry2 AS DOUBLE)
         |          /(CAST(n AS DOUBLE) - CAST(sr1 AS DOUBLE)), 8)
         |          *round(CAST(sry2 AS DOUBLE)
         |          /(CAST(n AS DOUBLE) - CAST(sr1 AS DOUBLE)), 8),
         |        10))), 8) AS s2
         |  FROM m_$out)""".stripMargin
    s"""WITH yy AS (SELECT round(o_totalprice/100000.0, 8) AS y,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n
       |  FROM orders),
       |p0 AS (SELECT any_value(n) AS n, 0.5 AS w1,
       |    CAST(1.5 AS DOUBLE) AS mu1, CAST(1.0 AS DOUBLE) AS s1,
       |    0.5 AS w2, CAST(3.5 AS DOUBLE) AS mu2,
       |    CAST(1.0 AS DOUBLE) AS s2
       |  FROM yy),
       |${stepSql("p0", "p1")},
       |${stepSql("p1", "p2")}
       |SELECT n, w1, mu1, s1, w2, mu2, s2 FROM p2""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gmm_em" -> (gmmEm _))

  val oracle: Map[String, String] = Map(
    "q_gmm_em" -> gmmEmOracle)
}
