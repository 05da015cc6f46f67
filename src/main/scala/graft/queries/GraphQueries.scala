package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-3 widening #4: graph analytics over the nation-level trade
  * graph (an edge customer-nation → supplier-nation per lineitem,
  * weighted by frequency — the same graph q_pagerank walks): degree
  * profiles, exact triangle counting, and unrolled-BFS shortest
  * paths.
  *
  * Scale notes (100 TB): the edge list is the ONLY fact-sized join
  * tree and is aggregated to |V|² ≤ tiny before any graph op —
  * the classic "contract, then iterate" shape. Triangle counting
  * joins the (deduplicated, a<b-oriented) edge list with itself:
  * the standard distributed formulation (each join keyed on a
  * vertex, count matching closing edges). BFS is |V|-row iterations,
  * each one co-partitioned hash join + min-combine.
  */
object GraphQueries extends QueryFamily {

  private val edgesSql: String =
    """SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  GROUP BY 1, 2""".stripMargin

  /** q_graph_degree — per nation: out/in degree (distinct
    * counterparties each way), undirected simple degree (distinct
    * neighbors, self-loops dropped), and total edge weight out.
    * Nations with no trade keep zero rows via the left joins. */
  def degree(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d).persist()
    val out = e.groupBy(col("na")).agg(
      countDistinct(col("nb")).as("out_deg"), sum(col("w")).as("w_out"))
    val in = e.groupBy(col("nb")).agg(countDistinct(col("na")).as("in_deg"))
    val und = e.filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .distinct()
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("und_deg"))
    graft.operators.CacheOps.finalized(
      nation(s, d).select(col("n_nationkey"))
        .join(out, col("na") === col("n_nationkey"), "left")
        .join(in, col("nb") === col("n_nationkey"), "left")
        .join(und, col("node") === col("n_nationkey"), "left")
        .select(col("n_nationkey"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("und_deg"), lit(0L)).as("und_deg"),
          coalesce(col("w_out"), lit(0L)).as("w_out"))
        .orderBy(col("n_nationkey")),
      e)
  }

  val degreeOracle: String =
    s"""WITH edges AS ($edgesSql),
       |o AS (SELECT src, count(DISTINCT dst) AS out_deg, CAST(sum(w) AS BIGINT) AS w_out
       |  FROM edges GROUP BY 1),
       |i AS (SELECT dst, count(DISTINCT src) AS in_deg FROM edges GROUP BY 1),
       |u AS (SELECT node, count(*) AS und_deg FROM (
       |    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |    FROM edges WHERE src <> dst), unnest([a, b]) AS t(node)
       |  GROUP BY 1)
       |SELECT n.n_nationkey,
       |  COALESCE(o.out_deg, 0) AS out_deg,
       |  COALESCE(i.in_deg, 0) AS in_deg,
       |  COALESCE(u.und_deg, 0) AS und_deg,
       |  COALESCE(o.w_out, 0) AS w_out
       |FROM nation n
       |LEFT JOIN o ON o.src = n.n_nationkey
       |LEFT JOIN i ON i.dst = n.n_nationkey
       |LEFT JOIN u ON u.node = n.n_nationkey
       |ORDER BY n.n_nationkey""".stripMargin

  /** q_triangles — exact triangle count per vertex (and the graph
    * total, replicated) on the undirected simple graph: orient every
    * edge a<b, join twice to close wedges a<b<c, then credit each of
    * the three corners. The orientation makes every triangle counted
    * exactly once — the standard distributed-join formulation. */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val u = tradeEdges(s, d).filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .distinct().persist()
    val tri = u.as("e1")
      .join(u.as("e2"), col("e2.a") === col("e1.b"))
      .join(u.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val joined = nation(s, d).select(col("n_nationkey"))
      .join(perNode, col("node") === col("n_nationkey"), "left")
      .select(col("n_nationkey"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
    // corpus triangle total as a broadcast 1-row aggregate — |V| is
    // unbounded at scale, so no partition-less window over nodes
    val tot = joined.agg((sum(col("n_tri")) / 3).cast("long").as("total_tri"))
    graft.operators.CacheOps.finalized(
      joined.crossJoin(broadcast(tot))
        .orderBy(col("n_nationkey")),
      u)
  }

  val trianglesOracle: String =
    s"""WITH edges AS ($edgesSql),
       |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM u e1 JOIN u e2 ON e2.a = e1.b
       |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT node, count(*) AS n_tri
       |  FROM tri, unnest([x, y, z]) AS t(node) GROUP BY 1)
       |SELECT n.n_nationkey, COALESCE(pn.n_tri, 0) AS n_tri,
       |  CAST(sum(COALESCE(pn.n_tri, 0)) OVER () // 3 AS BIGINT) AS total_tri
       |FROM nation n LEFT JOIN pn ON pn.node = n.n_nationkey
       |ORDER BY n.n_nationkey""".stripMargin

  /** q_shortest_path — unweighted shortest-path distance from nation
    * 0 to every node over directed trade edges, BFS unrolled to 4
    * hops (the graph's diameter is ≤ 2 at every SF — dense trade —
    * so 4 is conservative). Each round: propagate dist+1 across
    * edges, min-combine with the previous frontier. NULL = beyond 4
    * hops / unreachable. */
  def shortestPath(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d).select(col("na"), col("nb")).persist()
    var dist: DataFrame = nation(s, d)
      .select(col("n_nationkey").as("node"))
      .filter(col("node") === 0).withColumn("dist", lit(0L))
    for (_ <- 1 to 4) {
      val nxt = dist.join(e, col("node") === col("na"))
        .select(col("nb").as("node"), (col("dist") + 1).as("dist"))
      // localCheckpoint per hop: dist appears twice per round (join +
      // union), so the unrolled BFS otherwise replicates the frontier
      // tree 2⁴× (q_kcore_peel pattern); the frame is ≤|nations| rows
      dist = dist.unionByName(nxt)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .truncatedCheckpoint()
    }
    graft.operators.CacheOps.finalized(
      nation(s, d).select(col("n_nationkey"))
        .join(dist, col("node") === col("n_nationkey"), "left")
        .select(col("n_nationkey"), col("dist"))
        .orderBy(col("n_nationkey")),
      e)
  }

  val shortestPathOracle: String = {
    def round(i: Int, prev: String): String =
      s"""d$i AS (SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + 1 AS dist
         |    FROM $prev p JOIN edges e ON e.src = p.node)
         |  GROUP BY 1)""".stripMargin
    s"""WITH edges AS ($edgesSql),
       |d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS dist
       |  FROM nation WHERE n_nationkey = 0),
       |${round(1, "d0")},
       |${round(2, "d1")},
       |${round(3, "d2")},
       |${round(4, "d3")}
       |SELECT n.n_nationkey, d4.dist
       |FROM nation n LEFT JOIN d4 ON d4.node = n.n_nationkey
       |ORDER BY n.n_nationkey""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_degree" -> (degree _),
    "q_triangles" -> (triangles _),
    "q_shortest_path" -> (shortestPath _))

  val oracle: Map[String, String] = Map(
    "q_graph_degree" -> degreeOracle,
    "q_triangles" -> trianglesOracle,
    "q_shortest_path" -> shortestPathOracle)
}
