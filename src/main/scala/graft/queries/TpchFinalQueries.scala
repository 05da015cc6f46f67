package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Round-4 widening #88: the FINAL TPC-H tranche — Q4 / Q13 / Q17 /
  * Q21 — closing out every classic TPC-H query expressible on this
  * schema. With TpchQueries (Q3/Q5/Q10), TpchExtraQueries
  * (Q6/Q7/Q8/Q9/Q14), TpchMoreQueries (Q12/Q15/Q18/Q19/Q22), and the
  * core-surface Q1 shape (q_agg_group), all 16 partsupp-free TPC-H
  * queries now run; Q2/Q11/Q16/Q20 need the partsupp table, which the
  * generator does not emit (TESTDATA.md).
  *
  * Schema adaptations (no l_commitdate / l_receiptdate / o_comment):
  *  - Q4/Q21's "late" predicate becomes ship-latency vs the order
  *    date: `l_shipdate > o_orderdate + INTERVAL n DAY` (45 for Q4's
  *    EXISTS, 60 for Q21's waiting predicate) — the correlated
  *    EXISTS / double-anti-EXISTS join trees are unchanged;
  *  - Q13's comment exclusion becomes a priority-class exclusion in
  *    the LEFT JOIN's ON clause (the point of Q13 is the
  *    filter-inside-outer-join + two-level aggregate, not the LIKE);
  *  - Q17's 'Brand#23'/container filter keeps the brand and drops the
  *    container (not generated).
  *
  * Scale notes (100 TB): Q4's EXISTS is a left-semi hash join
  * shuffled on the order key (the 45-day correlation rides in the
  * join condition — no fact-side pre-aggregation needed); Q13 is two
  * stacked keyed aggregations, each map-side-combinable, the second
  * over the tiny count domain; Q17 decorrelates the scalar subquery
  * into a per-part average contracted BEFORE the part filter joins it
  * (the aggregate is over lineitem keyed by partkey — shuffle-scalable
  * — and the Brand#23 part dim broadcasts); Q21 shuffles the
  * order-status-F fact once on the order key and resolves both the
  * EXISTS and NOT-EXISTS against the SAME shuffled build side
  * (semi + anti on one exchange), then contracts per supplier and
  * TakeOrderedAndProject's the top 20.
  *
  * Determinism (D1–D5): counts are exact integers; Q17's threshold
  * average is an exact DECIMAL(18,2) sum divided as double and
  * rounded at 8dp in BOTH engines before the 0.2× comparison (raw
  * double avg would be reduction-order-dependent); revenue sums are
  * DECIMAL partials cast double at output; every result carries a
  * total ORDER BY on a unique key set. */
object TpchFinalQueries extends QueryFamily {

  private def views(s: SparkSession, d: String): Unit = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    supplier(s, d).createOrReplaceTempView("v_supplier")
    part(s, d).createOrReplaceTempView("v_part")
  }

  private def q4Sql(p: String): String =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM ${p}orders
       |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
       |  AND EXISTS (
       |    SELECT 1 FROM ${p}lineitem
       |    WHERE l_orderkey = o_orderkey
       |      AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** q_tpch_q4 — order-priority checking: orders of one quarter with
    * at least one late-shipped line (correlated EXISTS → left-semi
    * join on the order key). */
  def tpchQ4(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q4Sql("v_"))
  }

  private def q13Sql(p: String): String =
    s"""SELECT c_count, count(*) AS custdist
       |FROM (
       |  SELECT c_custkey, count(o_orderkey) AS c_count
       |  FROM ${p}customer LEFT OUTER JOIN ${p}orders
       |    ON c_custkey = o_custkey
       |    AND o_orderpriority <> '1-URGENT'
       |  GROUP BY c_custkey
       |) c_orders
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q_tpch_q13 — customer order-count distribution: the
    * filter-inside-LEFT-JOIN + two-level aggregate (zero-order
    * customers kept by the outer join, second aggregate over the
    * bounded count domain). */
  def tpchQ13(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q13Sql("v_"))
  }

  private def q17Sql(p: String): String =
    s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
       |    AS DOUBLE) / 7.0 AS avg_yearly,
       |  count(*) AS n_lines
       |FROM ${p}lineitem
       |JOIN ${p}part ON p_partkey = l_partkey
       |JOIN (
       |  SELECT l_partkey AS a_partkey,
       |    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
       |      AS DOUBLE) / count(*), 8) AS avg_qty
       |  FROM ${p}lineitem GROUP BY l_partkey
       |) pa ON pa.a_partkey = p_partkey
       |WHERE p_brand = 'Brand#23'
       |  AND l_quantity < 0.2 * avg_qty""".stripMargin

  /** q_tpch_q17 — small-quantity-order revenue: the correlated scalar
    * subquery hand-decorrelated into a per-part average join (the
    * exact plan Spark's subquery rewrite produces, but with the
    * determinism-rounded threshold shared by both engines). */
  def tpchQ17(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q17Sql("v_"))
  }

  private def q21Sql(p: String): String =
    s"""SELECT s_name, count(*) AS numwait
       |FROM ${p}supplier, ${p}lineitem l1, ${p}orders
       |WHERE s_suppkey = l1.l_suppkey
       |  AND o_orderkey = l1.l_orderkey
       |  AND o_orderstatus = 'F'
       |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
       |  AND EXISTS (
       |    SELECT 1 FROM ${p}lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM ${p}lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 20""".stripMargin

  /** q_tpch_q21 — suppliers who kept orders waiting: the sole late
    * supplier on multi-supplier finished orders (semi + anti EXISTS
    * against the same order-keyed exchange), top-20 by wait count. */
  def tpchQ21(s: SparkSession, d: String): DataFrame = {
    views(s, d); s.sql(q21Sql("v_"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q4" -> (tpchQ4 _),
    "q_tpch_q13" -> (tpchQ13 _),
    "q_tpch_q17" -> (tpchQ17 _),
    "q_tpch_q21" -> (tpchQ21 _))

  val oracle: Map[String, String] = Map(
    "q_tpch_q4" -> q4Sql(""),
    "q_tpch_q13" -> q13Sql(""),
    "q_tpch_q17" -> q17Sql(""),
    "q_tpch_q21" -> q21Sql(""))
}
