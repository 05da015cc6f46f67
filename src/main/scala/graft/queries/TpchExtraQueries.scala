package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Round-4 widening #59: five more classic TPC-H decision-support
  * shapes — Q6 / Q7 / Q8 / Q9 / Q14 — adapted to this schema's
  * columns and driven through `spark.sql` text beside TpchQueries'
  * Q3/Q5/Q10. Adaptations forced by the schema (no partsupp, no
  * l_shipmode/commitdate, synthetic NATION_n names):
  *  - Q9's supply cost becomes `p_retailprice * l_quantity` (part is
  *    the only cost carrier on disk) — the join tree and the
  *    profit-by-nation-and-year aggregation shape are unchanged;
  *  - Q7/Q8 pick the synthetic nation names; Q14's promo predicate is
  *    exact equality (`p_type = 'PROMO'` — the generator emits flat
  *    categories, not TPC-H's three-word types).
  *
  * Scale notes (100 TB): Q6 is a pure scan-side filter+fold (no
  * shuffle at all once pushed); Q7/Q8/Q9 shuffle fact-to-fact on the
  * order key and broadcast every dimension hop (nation O(25),
  * customer/supplier pruned before the join); Q14's part join
  * broadcasts at test SF and hash-shuffles key-parallel beyond.
  * Revenue partials travel as DECIMAL(18,4) (map-side combine);
  * doubles appear only in the final projection (D1). Market-share and
  * promo-share divisions are double-on-decimal-sums: both operands
  * hash-exact, so the IEEE quotient is bit-identical cross-engine.
  */
object TpchExtraQueries extends QueryFamily {

  private def views(s: SparkSession, d: String): Unit = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    supplier(s, d).createOrReplaceTempView("v_supplier")
    nation(s, d).createOrReplaceTempView("v_nation")
    region(s, d).createOrReplaceTempView("v_region")
    part(s, d).createOrReplaceTempView("v_part")
  }

  /** Shared SQL text: `tbl("v_")` for Spark temp views, `tbl("")` for
    * the DuckDB oracle's bare table names. */
  private def q6Sql(p: String): String =
    s"""SELECT CAST(sum(CAST(l_extendedprice * l_discount
       |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       |  count(*) AS n_items
       |FROM ${p}lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_discount >= 0.03 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  /** q_tpch_q6 — forecast-revenue-change: single-row filter+fold over
    * lineitem only; the entire predicate set pushes to the scan. */
  def tpchQ6(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q6Sql("v_"))
  }

  private def q7Sql(p: String): String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  CAST(sum(volume) AS DOUBLE) AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
       |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
       |  FROM ${p}supplier, ${p}lineitem, ${p}orders, ${p}customer,
       |    ${p}nation n1, ${p}nation n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |    AND c_nationkey = n2.n_nationkey
       |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
       |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |) shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q_tpch_q7 — volume shipping between two nations by direction and
    * ship year (the classic bidirectional nation-pair filter pushed
    * into both broadcast nation hops). */
  def tpchQ7(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q7Sql("v_"))
  }

  private def q8Sql(p: String): String =
    s"""SELECT o_year,
       |  CAST(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
       |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       |    / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
       |FROM (
       |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
       |    n2.n_name AS nation
       |  FROM ${p}part, ${p}supplier, ${p}lineitem, ${p}orders,
       |    ${p}customer, ${p}nation n1, ${p}nation n2, ${p}region
       |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND c_nationkey = n1.n_nationkey
       |    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
       |    AND s_nationkey = n2.n_nationkey
       |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |    AND p_type = 'ECONOMY'
       |) all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  /** q_tpch_q8 — national market share: one supplier nation's revenue
    * share of ECONOMY-part volume sold into AMERICA, by order year
    * (the 8-table join tree; conditional numerator as a decimal CASE
    * so both division operands are hash-exact sums). */
  def tpchQ8(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q8Sql("v_"))
  }

  private def q9Sql(p: String): String =
    s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
       |FROM (
       |  SELECT n_name AS nation,
       |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       |    CAST(l_extendedprice * (1 - l_discount)
       |      - p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
       |  FROM ${p}part, ${p}supplier, ${p}lineitem, ${p}orders, ${p}nation
       |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
       |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |    AND p_name LIKE '%red%'
       |) profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin

  /** q_tpch_q9 — product-type profit by supplier nation and order
    * year, with `p_retailprice * l_quantity` standing in for the
    * missing partsupp supply cost (schema adaptation, see header). */
  def tpchQ9(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q9Sql("v_"))
  }

  private def q14Sql(p: String): String =
    s"""SELECT CAST(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
       |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
       |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
       |      AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE) AS promo_revenue,
       |  count(*) AS n_items
       |FROM ${p}lineitem, ${p}part
       |WHERE l_partkey = p_partkey
       |  AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin

  /** q_tpch_q14 — promotion effect: PROMO-part share of one ship
    * month's revenue (conditional decimal sums → one IEEE division). */
  def tpchQ14(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q14Sql("v_"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q6" -> (tpchQ6 _),
    "q_tpch_q7" -> (tpchQ7 _),
    "q_tpch_q8" -> (tpchQ8 _),
    "q_tpch_q9" -> (tpchQ9 _),
    "q_tpch_q14" -> (tpchQ14 _))

  val oracle: Map[String, String] = Map(
    "q_tpch_q6" -> q6Sql(""),
    "q_tpch_q7" -> q7Sql(""),
    "q_tpch_q8" -> q8Sql(""),
    "q_tpch_q9" -> q9Sql(""),
    "q_tpch_q14" -> q14Sql(""))
}
