package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #21: market-basket affinity over the order fact —
  * parts purchased together in the same order, with lift against
  * independence. The item-item co-occurrence matrix behind
  * "customers also bought".
  *
  * Scale notes (100 TB): pairs are generated per order (self-join on
  * l_orderkey — co-partitioned, no global blow-up: cost is
  * Σ per-order k², bounded by basket size), then contracted to the
  * |parts|² co-occurrence table with map-side combining. Part totals
  * broadcast back for the lift ratio.
  */
object BasketQueries extends QueryFamily {

  /** q_copurchase — top-20 part pairs by same-order co-occurrence
    * with support and lift: lift = N·co/(c1·c2) over order baskets
    * (distinct parts per order; a<b orientation counts each pair
    * once). Ties break on the pair keys. */
  def copurchase(s: SparkSession, d: String): DataFrame = {
    // distinct basket items feed the part counts + both self-join
    // legs — materialize once (round-8 scan gate: was 4 lineitem
    // scans re-running the distinct)
    import graft.operators.CacheOps.CheckpointSyntax
    val items = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .truncatedCheckpoint()
    val nOrders = orders(s, d).agg(count(lit(1)).as("n_orders"))
    val partCnt = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("co"))
    // partCnt is |parts|-keyed (dimension grows with SF — billions of
    // parts at 100 TB): no broadcast hint; the partkey joins shuffle
    // in parallel and graded-SF stats still broadcast the small side
    pairs
      .join(partCnt.select(col("l_partkey").as("p1"),
        col("pc").as("c1")), "p1")
      .join(partCnt.select(col("l_partkey").as("p2"),
        col("pc").as("c2")), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
        round(col("n_orders").cast("double") * col("co").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")), 4).as("lift"))
      .orderBy(col("co").desc, col("p1"), col("p2"))
      .limit(20)
  }

  val copurchaseOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |no AS (SELECT count(*) AS n_orders FROM orders),
      |pc AS (SELECT l_partkey, count(*) AS pc FROM items GROUP BY 1),
      |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
      |    count(*) AS co
      |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT p1, p2, co, c1.pc AS c1, c2.pc AS c2,
      |  round(CAST(no.n_orders AS DOUBLE) * CAST(co AS DOUBLE) /
      |    (CAST(c1.pc AS DOUBLE) * CAST(c2.pc AS DOUBLE)), 4) AS lift
      |FROM pairs
      |JOIN pc c1 ON c1.l_partkey = pairs.p1
      |JOIN pc c2 ON c2.l_partkey = pairs.p2
      |CROSS JOIN no
      |ORDER BY co DESC, p1, p2 LIMIT 20""".stripMargin

  /** q_reorder_rate — repeat-purchase analysis per part: distinct
    * buying customers, how many bought it in ≥2 separate orders, the
    * repeat rate, and mean orders per buyer (D6-safe DECIMAL-cast
    * ratio) — top 15 most-reordered parts. */
  def reorderRate(s: SparkSession, d: String): DataFrame = {
    val buys = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_partkey"), col("o_custkey"), col("l_orderkey")).distinct()
    val perBuyer = buys.groupBy(col("l_partkey"), col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    perBuyer.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_buyers"),
        count(when(col("n_orders") >= 2, lit(1))).as("n_repeat"),
        sum(col("n_orders")).as("tot_orders"))
      .select(col("l_partkey"), col("n_buyers"), col("n_repeat"),
        round(col("n_repeat").cast("double") / col("n_buyers").cast("double"), 4)
          .as("repeat_rate"),
        (col("tot_orders").cast("double") / col("n_buyers").cast("double"))
          .cast("decimal(18,4)").cast("double").as("orders_per_buyer"))
      .orderBy(col("n_repeat").desc, col("l_partkey"))
      .limit(15)
  }

  val reorderRateOracle: String =
    """WITH buys AS (SELECT DISTINCT l_partkey, o_custkey, l_orderkey
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |pb AS (SELECT l_partkey, o_custkey, count(*) AS n_orders
      |  FROM buys GROUP BY 1, 2),
      |g AS (SELECT l_partkey, count(*) AS n_buyers,
      |    count(CASE WHEN n_orders >= 2 THEN 1 END) AS n_repeat,
      |    CAST(sum(n_orders) AS BIGINT) AS tot_orders
      |  FROM pb GROUP BY 1)
      |SELECT l_partkey, n_buyers, n_repeat,
      |  round(CAST(n_repeat AS DOUBLE)/CAST(n_buyers AS DOUBLE), 4)
      |    AS repeat_rate,
      |  CAST(CAST(CAST(tot_orders AS DOUBLE)/CAST(n_buyers AS DOUBLE)
      |    AS DECIMAL(18,4)) AS DOUBLE) AS orders_per_buyer
      |FROM g ORDER BY n_repeat DESC, l_partkey LIMIT 15""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_copurchase" -> (copurchase _),
    "q_reorder_rate" -> (reorderRate _))

  val oracle: Map[String, String] = Map(
    "q_copurchase" -> copurchaseOracle,
    "q_reorder_rate" -> reorderRateOracle)
}
