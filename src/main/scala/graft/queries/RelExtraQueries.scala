package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Relational-completeness extensions beyond SURVEY.md §2-B: pivot /
  * unpivot reshaping and scalar / correlated subqueries (Catalyst's
  * RewriteCorrelatedScalarSubquery path, SURVEY.md §4).
  *
  * Determinism note for the subquery thresholds: the scalar average
  * is computed as exact-decimal-sum ÷ count cast through double, so
  * both engines derive a bit-identical threshold — a raw AVG(double)
  * would drift at the last ulp and flip boundary rows.
  */
object RelExtraQueries extends QueryFamily {

  /** q_pivot — groupBy + pivot on a known key domain (status), counts
    * and exact sums per cell. */
  def pivotQ(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderpriority"))

  /** q_unpivot — melt wide measure columns into (metric, val) rows. */
  def unpivotQ(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  /** q_subquery_scalar — uncorrelated scalar subquery threshold
    * (orders above the global average price). */
  val subqueryScalarSql: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      |  FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  def subqueryScalar(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(subqueryScalarSql)
  }

  /** q_subquery_corr — correlated scalar subquery (each customer's
    * orders above that customer's own average); Catalyst decorrelates
    * to an aggregate + join. */
  val subqueryCorrSql: String =
    """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
      |FROM orders o
      |WHERE o.o_totalprice > (
      |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o.o_orderkey""".stripMargin

  def subqueryCorr(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(subqueryCorrSql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pivot" -> (pivotQ _),
    "q_unpivot" -> (unpivotQ _),
    "q_subquery_scalar" -> (subqueryScalar _),
    "q_subquery_corr" -> (subqueryCorr _))

  val oracle: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q_subquery_scalar" -> subqueryScalarSql,
    "q_subquery_corr" -> subqueryCorrSql)
}
