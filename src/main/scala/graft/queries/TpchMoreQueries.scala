package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Round-4 widening #78: a third TPC-H tranche — Q12 / Q15 / Q18 /
  * Q19 / Q22 adapted to this schema (no l_shipmode/commitdate →
  * priority classes stand in on Q12; no partsupp → Q15 ranks
  * suppliers by lineitem revenue; no p_container/c_phone → Q19's
  * OR-of-conjunctions keeps brand/size/quantity, Q22's country
  * prefix becomes the nation key parity). Each pins a distinct
  * optimizer surface: conditional aggregation after a pushed date
  * filter (Q12), a scalar-subquery max over a derived view (Q15),
  * HAVING-driven semi-join into a top-k (Q18), disjunctive
  * multi-column pushdown (Q19), and NOT EXISTS anti-join under a
  * scalar-subquery threshold (Q22).
  *
  * Scale notes (100 TB): fact joins shuffle on their keys; every
  * dimension hop broadcasts; Q15/Q22's scalar aggregates are 1-row
  * broadcast cross joins; Q18's heavy groupBy(orderkey) is
  * key-parallel with map-side combine and feeds
  * TakeOrderedAndProject. DECIMAL partials per D1.
  */
object TpchMoreQueries extends QueryFamily {

  private def views(s: SparkSession, d: String): Unit = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    supplier(s, d).createOrReplaceTempView("v_supplier")
    nation(s, d).createOrReplaceTempView("v_nation")
    part(s, d).createOrReplaceTempView("v_part")
  }

  private def q12Sql(p: String): String =
    s"""SELECT l_returnflag,
       |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM ${p}orders, ${p}lineitem
       |WHERE o_orderkey = l_orderkey
       |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** q_tpch_q12 — priority-class line counts per return flag for one
    * ship year (Q12's conditional-count shape; priority classes stand
    * in for the missing ship modes). */
  def tpchQ12(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q12Sql("v_"))
  }

  private def q15Sql(p: String): String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
       |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
       |  FROM ${p}lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM ${p}supplier, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q_tpch_q15 — top supplier by one quarter's revenue: the derived
    * revenue view joined back under a scalar-subquery max. */
  def tpchQ15(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q15Sql("v_"))
  }

  private def q18Sql(p: String): String =
    s"""SELECT c_name, c_custkey, o_orderkey,
       |  CAST(o_orderdate AS DATE) AS orderdate,
       |  round(o_totalprice, 2) AS totalprice,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       |    AS sum_qty
       |FROM ${p}customer, ${p}orders, ${p}lineitem
       |WHERE o_orderkey IN (
       |    SELECT l_orderkey FROM ${p}lineitem
       |    GROUP BY l_orderkey
       |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 120)
       |  AND c_custkey = o_custkey
       |  AND o_orderkey = l_orderkey
       |GROUP BY c_name, c_custkey, o_orderkey,
       |  CAST(o_orderdate AS DATE), round(o_totalprice, 2)
       |ORDER BY totalprice DESC, o_orderkey
       |LIMIT 20""".stripMargin

  /** q_tpch_q18 — large-volume orders: the HAVING semi-join into a
    * customer report, top-20 by order value. */
  def tpchQ18(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q18Sql("v_"))
  }

  private def q19Sql(p: String): String =
    s"""SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
       |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       |  count(*) AS n_items
       |FROM ${p}lineitem, ${p}part
       |WHERE p_partkey = l_partkey
       |  AND ((p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       |      AND l_quantity >= 1 AND l_quantity <= 21)
       |    OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 30
       |      AND l_quantity >= 10 AND l_quantity <= 30)
       |    OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 45
       |      AND l_quantity >= 20 AND l_quantity <= 40))""".stripMargin

  /** q_tpch_q19 — discounted revenue under an OR of brand/size/
    * quantity conjunctions (the disjunctive-pushdown stress shape). */
  def tpchQ19(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q19Sql("v_"))
  }

  private def q22Sql(p: String): String =
    s"""WITH avg_bal AS (
       |  SELECT avg(c_acctbal) AS ab FROM ${p}customer
       |  WHERE c_acctbal > 0.0)
       |SELECT (c_nationkey % 5) AS cntry_grp,
       |  CAST(count(*) AS BIGINT) AS numcust,
       |  CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)))
       |    AS DOUBLE) AS totacctbal
       |FROM ${p}customer, avg_bal
       |WHERE c_acctbal > ab
       |  AND NOT EXISTS (SELECT 1 FROM ${p}orders
       |    WHERE o_custkey = c_custkey
       |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
       |GROUP BY (c_nationkey % 5)
       |ORDER BY cntry_grp""".stripMargin

  /** q_tpch_q22 — dormant high-balance customers: above the positive-
    * balance average (scalar subquery) with no recent orders
    * (NOT EXISTS anti-join), grouped by the nation-key residue class
    * standing in for the missing phone country code. */
  def tpchQ22(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q22Sql("v_"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q12" -> (tpchQ12 _),
    "q_tpch_q15" -> (tpchQ15 _),
    "q_tpch_q18" -> (tpchQ18 _),
    "q_tpch_q19" -> (tpchQ19 _),
    "q_tpch_q22" -> (tpchQ22 _))

  val oracle: Map[String, String] = Map(
    "q_tpch_q12" -> q12Sql(""),
    "q_tpch_q15" -> q15Sql(""),
    "q_tpch_q18" -> q18Sql(""),
    "q_tpch_q19" -> q19Sql(""),
    "q_tpch_q22" -> q22Sql(""))
}
