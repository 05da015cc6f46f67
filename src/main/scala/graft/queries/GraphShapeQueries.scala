package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #61: whole-graph shape statistics over the nation
  * trade graph (the same contracted edge list q_pagerank / q_hits /
  * q_triangles walk) — the density/reciprocity panel, the degree
  * assortativity coefficient (Pearson r of endpoint degrees over
  * edge stubs), and directed Newman modularity of the region
  * partition.
  *
  * Scale notes (100 TB): every query contracts the fact-sized join
  * tree to the |V|² ≤ 625-row edge list FIRST (keyed shuffles, map-
  * side combine), then computes the statistic on the bounded graph —
  * the "contract, then analyze" shape. The stub/pair joins are
  * |E|-row × broadcast-degree joins; all counts stay exact longs
  * until the final division (CAST ... AS BIGINT in the oracle pins
  * DuckDB's HUGEINT sums to the same type).
  *
  * Determinism: integer sums are exact cross-engine; each statistic
  * performs its divisions in one spelled-out order and rounds at 6dp
  * (sqrt is IEEE-correctly-rounded, so identical operands give
  * identical roots).
  */
object GraphShapeQueries extends QueryFamily {

  /** Directed weighted nation trade graph (customer nation → supplier
    * nation, weight = lineitem count). */
  private def edges(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    // ≤|nations|² edge grid, referenced by every shape/assortativity/
    // modularity branch — materialize once (round-8 scan gate: the
    // re-embedded 4-table join chain cost 12 fact scans per plan)
    tradeEdges(s, d).truncatedCheckpoint()
  }

  /** q_graph_shape — one-row panel on the simple directed graph
    * (self-loops counted separately, excluded from density /
    * reciprocity): node count, directed edge count, density
    * m/(n·(n−1)), reciprocity (share of directed edges whose reverse
    * edge also exists), and self-loop count. */
  def graphShape(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d).select(col("na"), col("nb"))
    val simple = e.filter(col("na") =!= col("nb"))
    val nodes = e.select(col("na").as("v"))
      .union(e.select(col("nb").as("v"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val m = simple.agg(count(lit(1)).as("m_edges"))
    val recip = simple.as("a")
      .join(simple.as("b"),
        col("a.na") === col("b.nb") && col("a.nb") === col("b.na"))
      .agg(count(lit(1)).as("m_recip"))
    val loops = e.filter(col("na") === col("nb"))
      .agg(count(lit(1)).as("self_loops"))
    nodes.crossJoin(broadcast(m)).crossJoin(broadcast(recip))
      .crossJoin(broadcast(loops))
      .select(col("n_nodes"), col("m_edges"), col("self_loops"),
        round(col("m_edges").cast("double")
          / (col("n_nodes").cast("double")
            * (col("n_nodes").cast("double") - lit(1.0))), 6).as("density"),
        round(col("m_recip").cast("double")
          / col("m_edges").cast("double"), 6).as("reciprocity"))
  }

  val graphShapeOracle: String =
    s"""WITH e AS MATERIALIZED ($tradeEdgesSql),
      |simple AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst),
      |nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM
      |  (SELECT src AS v FROM e UNION SELECT dst FROM e)),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM simple),
      |recip AS (SELECT CAST(count(*) AS BIGINT) AS m_recip
      |  FROM simple a JOIN simple b
      |    ON a.src = b.dst AND a.dst = b.src),
      |loops AS (SELECT CAST(count(*) AS BIGINT) AS self_loops
      |  FROM e WHERE src = dst)
      |SELECT n_nodes, m_edges, self_loops,
      |  round(CAST(m_edges AS DOUBLE)
      |    /(CAST(n_nodes AS DOUBLE)*(CAST(n_nodes AS DOUBLE) - 1.0)), 6)
      |    AS density,
      |  round(CAST(m_recip AS DOUBLE)/CAST(m_edges AS DOUBLE), 6)
      |    AS reciprocity
      |FROM nodes, m, recip, loops""".stripMargin

  /** q_assortativity — degree assortativity of the undirected simple
    * trade graph: Pearson r of the endpoint degrees over all 2m
    * directed stubs; r > 0 = high-degree nations trade with each
    * other, r < 0 = hub-and-spoke. All sums are exact longs (degrees
    * ≤ |V|), one closed-form division at the end. */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    // Relative edge threshold (1.1× mean pair weight, broadcast 1-row
    // aggregate — the q_kcore_peel idiom): the full trade graph is
    // near-complete at every SF (constant degrees ⇒ 0/0), so the
    // statistic is taken on the strong-tie subgraph, which has real
    // degree variation and is SF-proportional.
    val raw = edges(s, d).filter(col("na") =!= col("nb"))
      .groupBy(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .agg(sum(col("w")).as("w"))
    val thr = raw.agg(avg(col("w")).as("mw"))
    val und = raw.crossJoin(broadcast(thr))
      .filter(col("w").cast("double") >= lit(1.1) * col("mw"))
      .select(col("a"), col("b"))
    val stubs = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = stubs.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val pairs = stubs
      .join(broadcast(deg.select(col("u"), col("deg").as("dj"))), "u")
      .join(broadcast(deg.select(col("u").as("v"), col("deg").as("dk"))), "v")
    val sums = pairs.agg(
      count(lit(1)).as("s"),
      sum(col("dj")).as("sj"), sum(col("dk")).as("sk"),
      sum(col("dj") * col("dk")).as("sjk"),
      sum(col("dj") * col("dj")).as("sjj"),
      sum(col("dk") * col("dk")).as("skk"))
    val sD = col("s").cast("double")
    def dbl(c: String) = col(c).cast("double")
    val den = sqrt((sD * dbl("sjj") - dbl("sj") * dbl("sj"))
      * (sD * dbl("skk") - dbl("sk") * dbl("sk")))
    sums.select(col("s").as("n_stubs"),
      when(den === lit(0.0), lit(null).cast("double"))
        .otherwise(round((sD * dbl("sjk") - dbl("sj") * dbl("sk")) / den, 6))
        .as("assortativity"))
  }

  val assortativityOracle: String =
    s"""WITH e AS MATERIALIZED ($tradeEdgesSql),
      |raw AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |    CAST(sum(w) AS BIGINT) AS w
      |  FROM e WHERE src <> dst GROUP BY 1, 2),
      |thr AS (SELECT avg(w) AS mw FROM raw),
      |und AS MATERIALIZED (SELECT a, b FROM raw, thr
      |  WHERE CAST(w AS DOUBLE) >= 1.1*mw),
      |stubs AS MATERIALIZED (SELECT a AS u, b AS v FROM und
      |  UNION ALL SELECT b AS u, a AS v FROM und),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
      |  FROM stubs GROUP BY 1),
      |pairs AS (SELECT dj.deg AS dj, dk.deg AS dk
      |  FROM stubs JOIN deg dj ON dj.u = stubs.u
      |  JOIN deg dk ON dk.u = stubs.v),
      |sums AS (SELECT CAST(count(*) AS BIGINT) AS s,
      |    CAST(sum(dj) AS BIGINT) AS sj, CAST(sum(dk) AS BIGINT) AS sk,
      |    CAST(sum(dj*dk) AS BIGINT) AS sjk,
      |    CAST(sum(dj*dj) AS BIGINT) AS sjj,
      |    CAST(sum(dk*dk) AS BIGINT) AS skk
      |  FROM pairs)
      |SELECT s AS n_stubs,
      |  CASE WHEN sqrt((CAST(s AS DOUBLE)*CAST(sjj AS DOUBLE)
      |        - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE))
      |      *(CAST(s AS DOUBLE)*CAST(skk AS DOUBLE)
      |        - CAST(sk AS DOUBLE)*CAST(sk AS DOUBLE))) = 0.0 THEN NULL
      |    ELSE round((CAST(s AS DOUBLE)*CAST(sjk AS DOUBLE)
      |      - CAST(sj AS DOUBLE)*CAST(sk AS DOUBLE))
      |    /sqrt((CAST(s AS DOUBLE)*CAST(sjj AS DOUBLE)
      |        - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE))
      |      *(CAST(s AS DOUBLE)*CAST(skk AS DOUBLE)
      |        - CAST(sk AS DOUBLE)*CAST(sk AS DOUBLE))), 6) END
      |    AS assortativity
      |FROM sums""".stripMargin

  /** q_modularity — directed Newman modularity of the REGION
    * partition on the weighted trade graph (self-loops included, as
    * standard): per region the within-region weight share
    * e_r = w_in/W and the expected share (out_r/W)·(in_r/W), term
    * = e_r − expected; the graph's Q is the sum over regions,
    * replicated on each row for the report. */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val nat = nation(s, d)
      .select(col("n_nationkey"), col("n_regionkey"))
    val e = edges(s, d)
      .join(broadcast(nat.select(col("n_nationkey").as("na"),
        col("n_regionkey").as("r_src"))), "na")
      .join(broadcast(nat.select(col("n_nationkey").as("nb"),
        col("n_regionkey").as("r_dst"))), "nb")
    val tot = e.agg(sum(col("w")).as("tw"))
    val within = e.filter(col("r_src") === col("r_dst"))
      .groupBy(col("r_src").as("rk")).agg(sum(col("w")).as("w_in"))
    val outW = e.groupBy(col("r_src").as("rk")).agg(sum(col("w")).as("w_out"))
    val inW = e.groupBy(col("r_dst").as("rk")).agg(sum(col("w")).as("w_into"))
    val terms = region(s, d).select(col("r_regionkey").as("rk"), col("r_name"))
      .join(within, Seq("rk"), "left")
      .join(outW, Seq("rk"), "left")
      .join(inW, Seq("rk"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r_name"),
        coalesce(col("w_in"), lit(0L)).as("w_in"),
        coalesce(col("w_out"), lit(0L)).as("w_out"),
        coalesce(col("w_into"), lit(0L)).as("w_into"),
        col("tw"))
      .withColumn("term",
        round(col("w_in").cast("double") / col("tw").cast("double")
          - (col("w_out").cast("double") / col("tw").cast("double"))
            * (col("w_into").cast("double") / col("tw").cast("double")), 8))
    val q = terms.agg(round(sum(col("term")), 6).as("q_modularity"))
    terms.crossJoin(broadcast(q))
      .select(col("r_name"), col("w_in"), col("w_out"), col("w_into"),
        col("term"), col("q_modularity"))
      .orderBy(col("r_name"))
  }

  val modularityOracle: String =
    s"""WITH e0 AS MATERIALIZED ($tradeEdgesSql),
      |e AS MATERIALIZED (SELECT e0.*, ns.n_regionkey AS r_src, nd.n_regionkey AS r_dst
      |  FROM e0 JOIN nation ns ON ns.n_nationkey = e0.src
      |  JOIN nation nd ON nd.n_nationkey = e0.dst),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM e),
      |win AS (SELECT r_src AS rk, CAST(sum(w) AS BIGINT) AS w_in
      |  FROM e WHERE r_src = r_dst GROUP BY 1),
      |wout AS (SELECT r_src AS rk, CAST(sum(w) AS BIGINT) AS w_out
      |  FROM e GROUP BY 1),
      |winto AS (SELECT r_dst AS rk, CAST(sum(w) AS BIGINT) AS w_into
      |  FROM e GROUP BY 1),
      |terms AS (SELECT r_name,
      |    COALESCE(w_in, 0) AS w_in, COALESCE(w_out, 0) AS w_out,
      |    COALESCE(w_into, 0) AS w_into, tw,
      |    round(CAST(COALESCE(w_in, 0) AS DOUBLE)/CAST(tw AS DOUBLE)
      |      - (CAST(COALESCE(w_out, 0) AS DOUBLE)/CAST(tw AS DOUBLE))
      |        *(CAST(COALESCE(w_into, 0) AS DOUBLE)/CAST(tw AS DOUBLE)),
      |      8) AS term
      |  FROM region r
      |  LEFT JOIN win ON win.rk = r.r_regionkey
      |  LEFT JOIN wout ON wout.rk = r.r_regionkey
      |  LEFT JOIN winto ON winto.rk = r.r_regionkey
      |  CROSS JOIN tot),
      |q AS (SELECT round(sum(term), 6) AS q_modularity FROM terms)
      |SELECT r_name, w_in, w_out, w_into, term, q_modularity
      |FROM terms, q
      |ORDER BY r_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_shape" -> (graphShape _),
    "q_assortativity" -> (assortativity _),
    "q_modularity" -> (modularity _))

  val oracle: Map[String, String] = Map(
    "q_graph_shape" -> graphShapeOracle,
    "q_assortativity" -> assortativityOracle,
    "q_modularity" -> modularityOracle)
}
