package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.TopKStruct

/** Round-4 widening #55: grouped top-k through the custom
  * [[TopKStruct]] TypedImperativeAggregate — the aggregation-tier
  * top-k graded EXACTLY against the window-rank oracle, proving the
  * k-bounded-heap plan computes the identical relation the
  * `row_number() <= k` idiom does.
  *
  * Scale notes (100 TB): the whole point of the operator — map-side
  * partial aggregation reduces each (mapper, group) to ≤ k heap rows
  * BEFORE the exchange, so the shuffle carries ≤ k·mappers rows per
  * group where the window form ships the group's entire cardinality
  * and sorts it on one reducer. State per group is k rows at every
  * stage. See TopKStructSpec for the partial/final plan assertion.
  *
  * Determinism: the struct carries (DECIMAL price, orderkey) — a
  * total order, so the retained set and its descending array order
  * are unique; the explode restores rows for the driver's
  * column-sorted hash compare.
  */
object TopKAggQueries extends QueryFamily {

  /** q_topk_agg — top-3 orders per priority by (totalprice DESC,
    * orderkey DESC) via the heap aggregate, exploded back to rows. */
  def topKAgg(s: SparkSession, d: String): DataFrame = {
    val top = orders(s, d).groupBy(col("o_orderpriority"))
      .agg(TopKStruct.topK(struct(
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderkey").as("okey")), 3).as("top"))
    top.select(col("o_orderpriority"), explode(col("top")).as("t"))
      .select(col("o_orderpriority"),
        col("t.price").cast("double").as("price"),
        col("t.okey").as("okey"))
      .orderBy(col("o_orderpriority"), col("price").desc, col("okey").desc)
  }

  val topKAggOracle: String =
    """SELECT o_orderpriority, CAST(price AS DOUBLE) AS price, okey
      |FROM (SELECT o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    o_orderkey AS okey,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
      |        o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, price DESC, okey DESC""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_topk_agg" -> (topKAgg _))

  val oracle: Map[String, String] = Map(
    "q_topk_agg" -> topKAggOracle)
}
