package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #37: dispersion economics — unit-price
  * dispersion per part (the law-of-one-price diagnostic) and
  * inter-order-gap regularity per customer segment (a two-level
  * aggregation: per-customer coefficient of variation, then segment
  * stats of those CVs — the canonical "aggregate of aggregates"
  * dataflow).
  *
  * Scale notes (100 TB): both are keyed contractions; the two-level
  * shape reuses the first aggregate's output as the second's input
  * relation (no re-scan); the top-20 dispersion report is
  * TakeOrderedAndProject. No windows except the per-customer lag
  * (partitioned).
  *
  * Determinism: moments via exact DECIMAL sums; CVs rounded to 6dp
  * BEFORE the second-level DECIMAL aggregation (the rounded value is
  * the semantic, as with every two-stage statistic here).
  */
object DispersionQueries extends QueryFamily {

  /** q_price_dispersion — top-20 parts by unit-price coefficient of
    * variation (≥10 sales): mean and CV of extendedprice/quantity
    * across that part's lineitems. */
  def priceDispersion(s: SparkSession, d: String): DataFrame = {
    val up = lineitem(s, d)
      .select(col("l_partkey").as("pk"),
        round(col("l_extendedprice") / col("l_quantity"), 4).as("u"))
    val g = up.groupBy(col("pk")).agg(
      count(lit(1)).as("n"),
      sum(col("u").cast("decimal(18,4)")).cast("double").as("su"),
      sum(round(col("u") * col("u"), 4).cast("decimal(27,4)")).cast("double")
        .as("suu"))
      .filter(col("n") >= 10)
    val nD = col("n").cast("double")
    val mean = col("su") / nD
    val sd = sqrt((col("suu") - col("su") * col("su") / nD) / (nD - 1.0))
    g.select(col("pk"), col("n"),
        round(mean, 4).as("mean_unit_price"),
        round(sd / mean, 6).as("cv"))
      .orderBy(col("cv").desc, col("pk")).limit(20)
  }

  val priceDispersionOracle: String =
    """WITH up AS (SELECT l_partkey AS pk,
      |    round(l_extendedprice / l_quantity, 4) AS u FROM lineitem),
      |g AS (SELECT pk, count(*) AS n,
      |    CAST(sum(CAST(u AS DECIMAL(18,4))) AS DOUBLE) AS su,
      |    CAST(sum(CAST(round(u*u, 4) AS DECIMAL(27,4))) AS DOUBLE) AS suu
      |  FROM up GROUP BY 1 HAVING count(*) >= 10)
      |SELECT pk, n,
      |  round(su/CAST(n AS DOUBLE), 4) AS mean_unit_price,
      |  round(sqrt((suu - su*su/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE)-1.0))
      |    / (su/CAST(n AS DOUBLE)), 6) AS cv
      |FROM g ORDER BY cv DESC, pk LIMIT 20""".stripMargin

  /** q_gap_regularity — per market segment: how REGULAR its
    * customers' ordering rhythms are. Level 1: per customer (≥3
    * orders) the CV of inter-order gaps; level 2: per segment the
    * customer count and mean/min/max of those CVs. */
  def gapRegularity(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev")).as("gap"))
    val perCust = gaps.groupBy(col("o_custkey")).agg(
      count(lit(1)).as("n"),
      sum(col("gap").cast("decimal(18,4)")).cast("double").as("sg"),
      sum((col("gap") * col("gap")).cast("decimal(27,4)")).cast("double")
        .as("sgg"))
      .filter(col("n") >= 3)
    val nD = col("n").cast("double")
    val mean = col("sg") / nD
    val sd = sqrt((col("sgg") - col("sg") * col("sg") / nD) / (nD - 1.0))
    val cvs = perCust
      .select(col("o_custkey"),
        when(mean > 0.0, round(sd / mean, 6)).otherwise(lit(0.0)).as("cv"))
    cvs.join(customer(s, d),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("cv").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_cv"),
        min(col("cv")).as("min_cv"), max(col("cv")).as("max_cv"))
      .orderBy(col("c_mktsegment"))
  }

  val gapRegularityOracle: String =
    """WITH gaps AS (SELECT o_custkey,
      |    date_diff('day', prev, o_orderdate) AS gap
      |  FROM (SELECT o_custkey, o_orderdate,
      |      lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate, o_orderkey) AS prev
      |    FROM orders)
      |  WHERE prev IS NOT NULL),
      |pc AS (SELECT o_custkey, count(*) AS n,
      |    CAST(sum(CAST(gap AS DECIMAL(18,4))) AS DOUBLE) AS sg,
      |    CAST(sum(CAST(gap*gap AS DECIMAL(27,4))) AS DOUBLE) AS sgg
      |  FROM gaps GROUP BY 1 HAVING count(*) >= 3),
      |cvs AS (SELECT o_custkey,
      |    CASE WHEN sg/CAST(n AS DOUBLE) > 0.0 THEN
      |      round(sqrt((sgg - sg*sg/CAST(n AS DOUBLE))
      |        /(CAST(n AS DOUBLE)-1.0)) / (sg/CAST(n AS DOUBLE)), 6)
      |      ELSE 0.0 END AS cv
      |  FROM pc)
      |SELECT c.c_mktsegment, count(*) AS n_customers,
      |  round(CAST(sum(CAST(cv AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS mean_cv,
      |  min(cv) AS min_cv, max(cv) AS max_cv
      |FROM cvs JOIN customer c ON c.c_custkey = cvs.o_custkey
      |GROUP BY 1 ORDER BY c.c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_price_dispersion" -> (priceDispersion _),
    "q_gap_regularity" -> (gapRegularity _))

  val oracle: Map[String, String] = Map(
    "q_price_dispersion" -> priceDispersionOracle,
    "q_gap_regularity" -> gapRegularityOracle)
}
