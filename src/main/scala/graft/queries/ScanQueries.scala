package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Scan / projection / filter operators (SURVEY.md §2-B #1–#5).
  *
  * Scale notes: all of these compile to a single parquet scan stage.
  * The projections reach the reader as `ReadSchema` (column pruning)
  * and the predicates as `PushedFilters` (row-group/page skipping via
  * parquet min-max stats) — verified by plan assertions in
  * ScanPlanSpec. At 100 TB the same plan shape applies unchanged;
  * only the final ORDER BY (driver-demanded determinism, D1) adds a
  * shuffle, which a real consumer would drop.
  */
object ScanQueries extends QueryFamily {

  /** #1 q_scan_project — projection pruning: read 3 of 16 columns. */
  def scanProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** #2 q_scan_pushdown — predicate pushed to the parquet reader. */
  def scanPushdown(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-06-01"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** #3 q_limit — ordered limit → TakeOrderedAndProject (top-k per
    * partition + merge on driver; no global sort at scale). */
  def limitQ(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** #4 q_filter_pred — compound AND/OR/NOT, BETWEEN, IN, IS NULL. */
  def filterPred(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(
        (col("o_orderstatus").isin("F", "P") &&
          col("o_totalprice").between(50000, 150000) &&
          !col("o_orderpriority").isin("5-LOW", "4-NOT SPECIFIED")) ||
        (col("o_orderstatus") === "O" && col("o_totalprice") < 2000 &&
          col("o_orderpriority").isNotNull))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** #5 q_filter_like — LIKE / ILIKE / startswith pattern predicates. */
  def filterLike(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(col("p_type").like("PROMO%") ||
        (col("p_name").ilike("%GREEN%") && col("p_type").like("%BRASS")))
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy(col("p_partkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project" -> (scanProject _),
    "q_scan_pushdown" -> (scanPushdown _),
    "q_limit" -> (limitQ _),
    "q_filter_pred" -> (filterPred _),
    "q_filter_like" -> (filterLike _))

  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2001-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_filter_pred" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE (o_orderstatus IN ('F','P')
        |       AND o_totalprice BETWEEN 50000 AND 150000
        |       AND o_orderpriority NOT IN ('5-LOW','4-NOT SPECIFIED'))
        |   OR (o_orderstatus = 'O' AND o_totalprice < 2000
        |       AND o_orderpriority IS NOT NULL)
        |ORDER BY o_orderkey""".stripMargin,
    "q_filter_like" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE 'PROMO%'
        |   OR (p_name ILIKE '%GREEN%' AND p_type LIKE '%BRASS')
        |ORDER BY p_partkey""".stripMargin)
}
