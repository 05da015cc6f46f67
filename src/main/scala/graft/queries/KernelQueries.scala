package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #92: kernel smoothing on a fixed evaluation grid
  * — an Epanechnikov kernel density estimate of the order-value
  * distribution and a Nadaraya–Watson kernel regression of order
  * value over calendar time.
  *
  * Two deliberate choices make these exact AND distributed:
  *  - the EPANECHNIKOV kernel (0.75·(1−u²) on |u|<1) is a
  *    polynomial — no exp/libm, so per-pair kernel weights round
  *    identically in both engines (a Gaussian kernel would hit
  *    cross-engine exp() last-ulp divergence);
  *  - the evaluation GRID is a constant-size broadcast relation
  *    (19/12 points): the fact side joins it map-side, kernel
  *    partials aggregate per grid point as exact decimal sums, and
  *    the single shuffle carries |grid| rows per mapper. A 100 TB
  *    fact costs one map-side-combinable pass; there is no pairwise
  *    blow-up because the grid, not the data, is the second join
  *    side.
  *
  * Determinism (D1–D5): per-pair weights rounded at 10dp before the
  * decimal sum (order-independent); final density/regression values
  * are double ratios of exact sums, rounded for output. */
object KernelQueries extends QueryFamily {

  /** q_kde_epan — Epanechnikov KDE of o_totalprice at 19 grid points
    * (25k..475k step 25k), bandwidth h = 50k. */
  def kdeEpan(s: SparkSession, d: String): DataFrame = {
    val grid = s.range(1, 20)
      .select((col("id") * 25000.0).as("g"))
    val h = 50000.0
    val terms = orders(s, d).select(col("o_totalprice").as("x"))
      .crossJoin(broadcast(grid))
      .withColumn("u", (col("x") - col("g")) / h)
      .withColumn("w", when(abs(col("u")) < 1.0,
        round(lit(0.75) * (lit(1.0) - col("u") * col("u")), 10))
        .otherwise(lit(0.0)))
    val n = orders(s, d).agg(count(lit(1)).as("n"))
    terms.groupBy(col("g"))
      .agg(sum(col("w").cast("decimal(18,10)")).as("sw"))
      .crossJoin(broadcast(n))
      .select(col("g"),
        round(col("sw").cast("double")
          / (col("n").cast("double") * h) * 1e6, 8).as("density_1e6"))
      .orderBy(col("g"))
  }

  val kdeEpanOracle: String =
    """WITH grid AS (SELECT CAST(i*25000 AS DOUBLE) AS g
      |  FROM range(1, 20) t(i)),
      |terms AS (SELECT g,
      |    CASE WHEN abs((o_totalprice - g)/50000.0) < 1.0
      |      THEN round(0.75*(1.0 - ((o_totalprice - g)/50000.0)
      |        *((o_totalprice - g)/50000.0)), 10)
      |      ELSE 0.0 END AS w
      |  FROM orders, grid),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
      |SELECT g,
      |  round(CAST(sum(CAST(w AS DECIMAL(18,10))) AS DOUBLE)
      |    /(CAST(n AS DOUBLE)*50000.0)*1e6, 8) AS density_1e6
      |FROM terms, n
      |GROUP BY g, n ORDER BY g""".stripMargin

  /** q_kernel_reg — Nadaraya–Watson regression of order value on
    * order age in days (12 grid points every 200 days, h = 150):
    * m(g) = Σ w·y / Σ w with the same polynomial kernel. */
  def kernelReg(s: SparkSession, d: String): DataFrame = {
    val grid = s.range(0, 12)
      .select((col("id") * 200.0).as("g"))
    val h = 150.0
    val pts = orders(s, d).select(
      datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
        .cast("double").as("x"),
      col("o_totalprice").as("y"))
    val terms = pts.crossJoin(broadcast(grid))
      .withColumn("u", (col("x") - col("g")) / h)
      .withColumn("w", when(abs(col("u")) < 1.0,
        round(lit(0.75) * (lit(1.0) - col("u") * col("u")), 10))
        .otherwise(lit(0.0)))
    terms.groupBy(col("g")).agg(
        sum(round(col("w") * col("y"), 4).cast("decimal(27,4)")).as("num"),
        sum(col("w").cast("decimal(18,10)")).as("den"),
        count(when(col("w") > 0, lit(1))).as("n_in_window"))
      .filter(col("den").cast("double") > 0.0)
      .select(col("g"), col("n_in_window"),
        round(col("num").cast("double") / col("den").cast("double"), 4)
          .as("m_hat"))
      .orderBy(col("g"))
  }

  val kernelRegOracle: String =
    """WITH grid AS (SELECT CAST(i*200 AS DOUBLE) AS g
      |  FROM range(0, 12) t(i)),
      |pts AS (SELECT CAST(date_diff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
      |    o_totalprice AS y
      |  FROM orders),
      |terms AS (SELECT g, y,
      |    CASE WHEN abs((x - g)/150.0) < 1.0
      |      THEN round(0.75*(1.0 - ((x - g)/150.0)*((x - g)/150.0)), 10)
      |      ELSE 0.0 END AS w
      |  FROM pts, grid),
      |agg AS (SELECT g,
      |    sum(CAST(round(w*y, 4) AS DECIMAL(27,4))) AS num,
      |    sum(CAST(w AS DECIMAL(18,10))) AS den,
      |    CAST(count(CASE WHEN w > 0 THEN 1 END) AS BIGINT)
      |      AS n_in_window
      |  FROM terms GROUP BY g)
      |SELECT g, n_in_window,
      |  round(CAST(num AS DOUBLE)/CAST(den AS DOUBLE), 4) AS m_hat
      |FROM agg WHERE CAST(den AS DOUBLE) > 0.0
      |ORDER BY g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kde_epan" -> (kdeEpan _),
    "q_kernel_reg" -> (kernelReg _))

  val oracle: Map[String, String] = Map(
    "q_kde_epan" -> kdeEpanOracle,
    "q_kernel_reg" -> kernelRegOracle)
}
