package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Round-4 widening #51: the classic TPC-H decision-support shapes
  * Q3 / Q5 / Q10 (adapted to this schema's columns) driven through
  * `spark.sql` text — the multi-join benchmark surface beside
  * q_sql_pricing's Q1. These pin the analyzer + optimizer path on
  * 3-to-6-table join trees: Catalyst must pick broadcast sides for
  * the dimension chain (region→nation→customer/supplier are tiny at
  * every SF), push the date/segment filters below the joins, and
  * bound the top-k with TakeOrderedAndProject off the ORDER BY+LIMIT.
  *
  * Scale notes (100 TB): fact-to-fact (lineitem⋈orders) shuffles on
  * the order key — unavoidable and key-parallel; every dimension hop
  * broadcasts (nation/region are O(10²) rows at any SF, customer/
  * supplier pruned by the pushed filters first). Revenue sums travel
  * as DECIMAL(18,4) partials (map-side combine), doubles only at the
  * final projection (D1).
  *
  * Determinism: unique trailing sort keys everywhere a LIMIT follows
  * (l_orderkey / c_custkey), so top-k is total-order stable
  * cross-engine; same SQL text runs on both engines modulo view
  * names.
  */
object TpchQueries extends QueryFamily {

  /** q_tpch_q3 — shipping-priority revenue: top-10 unshipped-revenue
    * orders for one market segment (TPC-H Q3 minus the o_shippriority
    * column this schema doesn't carry). */
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    s.sql(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate
        |FROM v_customer, v_orders, v_lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  val tpchQ3Oracle: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** q_tpch_q5 — local-supplier volume: revenue per nation inside one
    * region for one order year, counting only lineitems whose
    * supplier sits in the customer's own nation (the classic 6-table
    * join tree: region→nation→{customer,supplier}→orders→lineitem). */
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    supplier(s, d).createOrReplaceTempView("v_supplier")
    nation(s, d).createOrReplaceTempView("v_nation")
    region(s, d).createOrReplaceTempView("v_region")
    s.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM v_customer, v_orders, v_lineitem, v_supplier, v_nation, v_region
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  val tpchQ5Oracle: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q_tpch_q10 — returned-item reporting: the 20 customers with the
    * largest returned revenue in one quarter-year window, with their
    * nation (TPC-H Q10 minus address/phone/comment columns this
    * schema doesn't carry). */
  def tpchQ10(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    nation(s, d).createOrReplaceTempView("v_nation")
    s.sql(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  round(c_acctbal, 2) AS acctbal, n_name
        |FROM v_customer, v_orders, v_lineitem, v_nation
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND l_returnflag = 'R'
        |  AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)
  }

  val tpchQ10Oracle: String =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  round(c_acctbal, 2) AS acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |  AND l_returnflag = 'R'
      |  AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q3" -> (tpchQ3 _),
    "q_tpch_q5" -> (tpchQ5 _),
    "q_tpch_q10" -> (tpchQ10 _))

  val oracle: Map[String, String] = Map(
    "q_tpch_q3" -> tpchQ3Oracle,
    "q_tpch_q5" -> tpchQ5Oracle,
    "q_tpch_q10" -> tpchQ10Oracle)
}
