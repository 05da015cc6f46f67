package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #20: HITS hubs/authorities over the trade graph
  * (exact-integer power iterations) and a time-bounded conversion
  * funnel (each step must follow the previous within a window —
  * the realistic variant of the unbounded q_funnel).
  *
  * Scale notes (100 TB): HITS iterations are the same contracted
  * |V|-row co-partitioned joins as q_pagerank; the bounded funnel is
  * per-user min-aggregates chained by as-of-style conditions — one
  * shuffle on user_id total.
  */
object HitsFunnelQueries extends QueryFamily {

  /** q_hits — two HITS iterations on the weighted nation trade graph
    * with all-ones initialization: h₁ = A·1 (weighted out-degree),
    * a₂ = Aᵀ·h₁, h₂ = A·a₂ — every score an EXACT integer (no
    * normalization drift can exist), ranked by authority. */
  def hits(s: SparkSession, d: String): DataFrame = {
    val edges = customer(s, d).select(col("c_custkey"), col("c_nationkey").as("na"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("nb")),
        col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("na"), col("nb")).agg(count(lit(1)).as("w"))
      .persist()
    val h1 = edges.groupBy(col("na")).agg(sum(col("w")).as("h1"))
    val a2 = edges.join(h1, "na")
      .groupBy(col("nb")).agg(sum(col("w") * col("h1")).as("a2"))
    val h2 = edges.join(a2, "nb")
      .groupBy(col("na")).agg(sum(col("w") * col("a2")).as("h2"))
    graft.operators.CacheOps.finalized(
      nation(s, d).select(col("n_nationkey"))
        .join(h1, col("na") === col("n_nationkey"), "left").drop("na")
        .join(a2, col("nb") === col("n_nationkey"), "left").drop("nb")
        .join(h2, col("na") === col("n_nationkey"), "left").drop("na")
        .select(col("n_nationkey"),
          coalesce(col("h1"), lit(0L)).as("hub1"),
          coalesce(col("a2"), lit(0L)).as("auth2"),
          coalesce(col("h2"), lit(0L)).as("hub2"))
        .orderBy(col("n_nationkey")),
      edges)
  }

  val hitsOracle: String =
    """WITH edges AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  GROUP BY 1, 2),
      |h1 AS (SELECT src, CAST(sum(w) AS BIGINT) AS h1 FROM edges GROUP BY 1),
      |a2 AS (SELECT e.dst, CAST(sum(e.w * h1.h1) AS BIGINT) AS a2
      |  FROM edges e JOIN h1 ON h1.src = e.src GROUP BY 1),
      |h2 AS (SELECT e.src, CAST(sum(e.w * a2.a2) AS BIGINT) AS h2
      |  FROM edges e JOIN a2 ON a2.dst = e.dst GROUP BY 1)
      |SELECT n.n_nationkey,
      |  COALESCE(h1.h1, 0) AS hub1,
      |  COALESCE(a2.a2, 0) AS auth2,
      |  COALESCE(h2.h2, 0) AS hub2
      |FROM nation n
      |LEFT JOIN h1 ON h1.src = n.n_nationkey
      |LEFT JOIN a2 ON a2.dst = n.n_nationkey
      |LEFT JOIN h2 ON h2.src = n.n_nationkey
      |ORDER BY n.n_nationkey""".stripMargin

  /** q_funnel_window — time-bounded 3-step funnel view → click →
    * purchase, each step within 1 hour of the previous: per step the
    * user count, conversion from the prior step, and overall
    * conversion. First-qualifying timestamps chain as-of style (min
    * event at-or-after the prior step within the bound). */
  def funnelWindow(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"),
      col("ts2"), unix_micros(col("ts2")).as("us"))
    // shared stage frames materialized once (round-8 scan gate: the
    // funnel chain otherwise re-runs every upstream stage per
    // downstream branch — was 6 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val step1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      .truncatedCheckpoint()
    val step2 = e.filter(col("event_type") === "click")
      .join(step1, "user_id")
      .filter(col("us") >= col("t1") && col("us") - col("t1") <= 3600000000L)
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      .truncatedCheckpoint()
    val step3 = e.filter(col("event_type") === "purchase")
      .join(step2, "user_id")
      .filter(col("us") >= col("t2") && col("us") - col("t2") <= 3600000000L)
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val counts = step1.agg(count(lit(1)).as("n")).withColumn("step", lit(1))
      .withColumn("name", lit("view"))
      .unionByName(step2.agg(count(lit(1)).as("n")).withColumn("step", lit(2))
        .withColumn("name", lit("click_1h")))
      .unionByName(step3.agg(count(lit(1)).as("n")).withColumn("step", lit(3))
        .withColumn("name", lit("purchase_1h")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    counts
      .withColumn("conv_prev",
        round(col("n").cast("double") / lag(col("n"), 1).over(w).cast("double"), 4))
      .withColumn("conv_total",
        round(col("n").cast("double") /
          first(col("n")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)).cast("double"), 4))
      .select(col("step"), col("name"), col("n"), col("conv_prev"),
        col("conv_total"))
      .orderBy(col("step"))
  }

  val funnelWindowOracle: String =
    """WITH e AS (SELECT user_id, event_type,
      |    epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.us) AS t2
      |  FROM e JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.us >= s1.t1
      |    AND e.us - s1.t1 <= 3600000000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.us) AS t3
      |  FROM e JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= s2.t2
      |    AND e.us - s2.t2 <= 3600000000 GROUP BY 1),
      |c AS (
      |  SELECT 1 AS step, 'view' AS name, (SELECT count(*) FROM s1) AS n
      |  UNION ALL
      |  SELECT 2, 'click_1h', (SELECT count(*) FROM s2)
      |  UNION ALL
      |  SELECT 3, 'purchase_1h', (SELECT count(*) FROM s3))
      |SELECT step, name, n,
      |  round(CAST(n AS DOUBLE) /
      |    CAST(lag(n, 1) OVER (ORDER BY step) AS DOUBLE), 4) AS conv_prev,
      |  round(CAST(n AS DOUBLE) /
      |    CAST(first_value(n) OVER (ORDER BY step
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
      |    AS conv_total
      |FROM c ORDER BY step""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hits" -> (hits _),
    "q_funnel_window" -> (funnelWindow _))

  val oracle: Map[String, String] = Map(
    "q_hits" -> hitsOracle,
    "q_funnel_window" -> funnelWindowOracle)
}
