package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sort / top-k / set operators (SURVEY.md §2-B #31–#36).
  *
  * Scale notes: global sorts use Spark's range-partitioned sort
  * (sampling + range exchange) — linear scale-out. `orderBy.limit`
  * compiles to TakeOrderedAndProject (per-partition heap + driver
  * merge, no full sort). Set ops are hash shuffles on the full row;
  * at 100 TB, INTERSECT/EXCEPT become hash-partitioned semi/anti
  * joins — exactly what Catalyst rewrites them to (ReplaceIntersect
  * WithSemiJoin / ReplaceExceptWithAntiJoin).
  */
object SortSetQueries extends QueryFamily {

  /** #31 q_sort_multi — multi-key sort, mixed ASC/DESC, explicit null
    * placement. The data has no nulls, so nulls are manufactured with
    * a CASE to actually exercise NULLS LAST (Spark's DESC default is
    * nulls-last but DuckDB's is nulls-first — spelled on both sides).
    */
  def sortMulti(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("price_or_null",
        when(col("o_orderstatus") === "P", lit(null)).otherwise(col("o_totalprice")))
      .select(col("o_orderkey"), col("o_orderstatus"), col("price_or_null"))
      .orderBy(col("price_or_null").desc_nulls_last, col("o_orderkey").asc)

  /** #32 q_topk_global — global top-k over events by value. */
  def topkGlobal(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(15)

  /** #33 q_union_all — bag union (no dedup, no shuffle). */
  def unionAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .unionAll(
        o.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_orderkey"), col("o_orderpriority")))
      .orderBy(col("o_orderkey"))
  }

  /** #34 q_union_distinct — set union (hash dedup). */
  def unionDistinct(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .union(o.filter(col("o_totalprice") > 100000).select(col("o_custkey")))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  /** #35 q_intersect — custkeys having both F and O orders. */
  def intersectQ(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** #36 q_except — custkeys with F orders but no P orders. */
  def exceptQ(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** q_intersect_all — bag intersection (multiplicity = min of the
    * two sides, vs q_intersect's set semantics): custkeys appearing
    * in both F and O orders, once per matched pair. Plans as a
    * counted anti-multiplicity join — still one keyed shuffle. */
  def intersectAllQ(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersectAll(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** q_except_all — bag difference (multiplicity = left minus right,
    * floored at zero). */
  def exceptAllQ(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_intersect_all" -> (intersectAllQ _),
    "q_except_all" -> (exceptAllQ _),
    "q_sort_multi" -> (sortMulti _),
    "q_topk_global" -> (topkGlobal _),
    "q_union_all" -> (unionAll _),
    "q_union_distinct" -> (unionDistinct _),
    "q_intersect" -> (intersectQ _),
    "q_except" -> (exceptQ _))

  val oracle: Map[String, String] = Map(
    "q_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin,
    "q_sort_multi" ->
      """SELECT o_orderkey, o_orderstatus,
        | CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price_or_null
        |FROM orders
        |ORDER BY price_or_null DESC NULLS LAST, o_orderkey ASC""".stripMargin,
    "q_topk_global" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 15""".stripMargin,
    "q_union_all" ->
      """SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
        |ORDER BY o_orderkey""".stripMargin,
    "q_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |ORDER BY o_custkey""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin)
}
