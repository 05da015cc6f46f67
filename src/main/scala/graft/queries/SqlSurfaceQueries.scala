package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Round-4 widening #34: the SQL front-end surface — the same engine
  * driven through `spark.sql(...)` text over registered views, proving
  * a user can run ANSI SQL against the library verbatim (every other
  * graded query exercises the DataFrame DSL; the parser/analyzer path
  * is a first-class entry point of its own, SURVEY §3.3).
  *
  * Scale notes: identical plans to the DSL route — Catalyst compiles
  * both surfaces to the same logical algebra, so pushdown/pruning/
  * partial aggregation behave exactly as the DSL twin's (q_agg_group
  * family); the text route adds zero runtime cost.
  */
object SqlSurfaceQueries extends QueryFamily {

  /** q_sql_pricing — the TPC-H Q1 pricing summary expressed as SQL
    * TEXT through spark.sql over a registered view: grouped DECIMAL
    * aggregates, date filter pushed to the scan, engine-side
    * rounding discipline identical to the DSL conventions. */
  def sqlPricing(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(*), 6) AS avg_disc
        |FROM v_lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val sqlPricingOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |    / count(*), 4) AS avg_qty,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
      |    / count(*), 6) AS avg_disc
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q_qualify — the QUALIFY-clause surface: keep the top-2 revenue
    * days per order priority straight off a window predicate. Spark
    * SQL has no QUALIFY keyword, so the engine side expresses the
    * identical semantics as a window + outer filter (Catalyst plans
    * the rank-limit as WindowGroupLimit — a k-bounded partitioned
    * window, the exact plan QUALIFY engines produce); the oracle runs
    * DuckDB's native QUALIFY to pin the semantics equivalence. */
  def qualifyTop(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT * FROM (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) DESC,
        |        CAST(o_orderdate AS DATE)) AS rn
        |  FROM v_orders
        |  GROUP BY o_orderpriority, CAST(o_orderdate AS DATE))
        |WHERE rn <= 2
        |ORDER BY priority, rn""".stripMargin)
  }

  val qualifyTopOracle: String =
    """SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
      |  row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,2))) DESC,
      |      CAST(o_orderdate AS DATE)) AS rn
      |FROM orders
      |GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
      |QUALIFY rn <= 2
      |ORDER BY priority, rn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_pricing" -> (sqlPricing _),
    "q_qualify" -> (qualifyTop _))

  val oracle: Map[String, String] = Map(
    "q_sql_pricing" -> sqlPricingOracle,
    "q_qualify" -> qualifyTopOracle)
}
