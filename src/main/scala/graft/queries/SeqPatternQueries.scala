package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Round-4 widening #59: row-pattern matching — the MATCH_RECOGNIZE
  * shape (Trino/Flink/Oracle SQL:2016) expressed Spark-first as
  * per-partition lag windows + a pattern predicate. Spark has no
  * MATCH_RECOGNIZE keyword; the equivalent declarative plan is a
  * partitioned window materializing the pattern's fixed lookback,
  * with the pattern as an ordinary boolean row predicate — identical
  * semantics for fixed-length patterns (variable-length quantifiers
  * land in flatMapGroupsWithState, the streaming module's tier).
  *
  * Scale notes (100 TB): one window pass partitioned by customer —
  * pattern evaluation is embarrassingly parallel across partitions,
  * lookback state is 3 rows per partition; match rows contract to a
  * per-segment summary through the broadcast customer dim.
  *
  * Determinism: strict inequalities on exact DECIMAL(18,2) prices;
  * order sequence keyed (o_orderdate, o_orderkey) — a total order.
  */
object SeqPatternQueries extends QueryFamily {

  /** q_pattern_vshape — DOWN DOWN UP over four consecutive orders of
    * one customer (price p₃>p₂>p₁<p₀ with the match anchored at the
    * rebound row): per-market-segment matched-customer and match
    * counts — the fixed-length MATCH_RECOGNIZE report. */
  def patternVshape(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val seq = orders(s, d).select(col("o_custkey"),
        col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .withColumn("p1", lag(col("p"), 1).over(w))
      .withColumn("p2", lag(col("p"), 2).over(w))
      .withColumn("p3", lag(col("p"), 3).over(w))
    val matches = seq.filter(col("p3").isNotNull &&
        col("p3") > col("p2") && col("p2") > col("p1") &&
        col("p1") < col("p"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_matches"))
    // customer is SF-proportional — no broadcast hint: the PK join
    // is parallel at scale, stats still broadcast at graded SF
    matches.join(customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("matched_customers"),
        sum(col("n_matches")).as("total_matches"))
      .orderBy(col("c_mktsegment"))
  }

  val patternVshapeOracle: String =
    """WITH seq AS (SELECT o_custkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
      |      OVER w AS p1,
      |    lag(CAST(o_totalprice AS DECIMAL(18,2)), 2)
      |      OVER w AS p2,
      |    lag(CAST(o_totalprice AS DECIMAL(18,2)), 3)
      |      OVER w AS p3
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey)),
      |m AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_matches
      |  FROM seq
      |  WHERE p3 IS NOT NULL AND p3 > p2 AND p2 > p1 AND p1 < p
      |  GROUP BY 1)
      |SELECT c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS matched_customers,
      |  CAST(sum(n_matches) AS BIGINT) AS total_matches
      |FROM m JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pattern_vshape" -> (patternVshape _))

  val oracle: Map[String, String] = Map(
    "q_pattern_vshape" -> patternVshapeOracle)
}
