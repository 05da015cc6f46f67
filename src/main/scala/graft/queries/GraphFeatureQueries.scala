package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #20: graph-feature operators over the nation
  * trade graph (the GraphQueries base) — Adamic–Adar link-prediction
  * scores for non-adjacent pairs and per-node local clustering
  * coefficients.
  *
  * Scale notes (100 TB): both queries are neighbor-keyed joins — the
  * standard distributed formulation. Adamic–Adar closes wedges
  * through the shared neighbor z (join keyed on z, cost Σ_z deg(z)² —
  * the hub-capping caveat from the triangle family applies; at this
  * graph's |V| every side broadcasts), then left-joins the existing
  * edge set to flag already-linked pairs vs candidates. The
  * clustering coefficient reuses the oriented a<b<c triangle close
  * and divides by the wedge count deg·(deg−1)/2 — per-node keyed
  * aggregates throughout, no global windows.
  *
  * Determinism: degrees are exact integers; each 1/ln(deg z) term
  * re-enters DECIMAL after a fixed 12dp round so the per-pair
  * reduction is order-independent (D2); outputs rounded.
  */
object GraphFeatureQueries extends QueryFamily {

  /** q_adamic_adar — link-prediction scores for every nation pair
    * with ≥1 shared neighbor: AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z),
    * flagged `is_edge` so consumers read existing links as the
    * positive class and non-links ranked by score as candidates (at
    * graded scale the trade graph saturates, so the flag — not an
    * anti join — carries the split). */
  def adamicAdar(s: SparkSession, d: String): DataFrame = {
    val e = undirectedTradeEdges(s, d)
    val nbr = e.select(col("a").as("node"), col("b").as("z"))
      .union(e.select(col("b"), col("a")))
    val deg = nbr.groupBy(col("z")).agg(count(lit(1)).as("degz"))
    val nz = nbr.join(broadcast(deg), "z")
    val pairs = nz.as("l").join(nz.as("r"),
        col("l.z") === col("r.z") && col("l.node") < col("r.node"))
      .select(col("l.node").as("u"), col("r.node").as("v"),
        col("l.degz").as("degz"))
    val flagged = pairs.join(
        broadcast(e.withColumn("is_e", lit(1))),
        col("u") === col("a") && col("v") === col("b"), "left")
    flagged.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("shared"),
        max(col("is_e")).isNotNull.as("is_edge"),
        round(sum(round(lit(1.0) / log(col("degz").cast("double")), 12)
          .cast("decimal(24,12)")).cast("double"), 8).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
  }

  val adamicAdarOracle: String =
    s"""WITH e AS ($undirectedTradeEdgesSql),
      |nbr AS (SELECT a AS node, b AS z FROM e
      |  UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT z, count(*) AS degz FROM nbr GROUP BY 1),
      |nz AS (SELECT nbr.node, nbr.z, deg.degz
      |  FROM nbr JOIN deg ON deg.z = nbr.z),
      |pairs AS (SELECT l.node AS u, r.node AS v, l.degz
      |  FROM nz l JOIN nz r ON r.z = l.z AND l.node < r.node),
      |flagged AS (SELECT u, v, degz,
      |    CASE WHEN e.a IS NOT NULL THEN 1 END AS is_e
      |  FROM pairs LEFT JOIN e ON e.a = pairs.u AND e.b = pairs.v)
      |SELECT u, v, count(*) AS shared,
      |  max(is_e) IS NOT NULL AS is_edge,
      |  round(CAST(sum(CAST(round(1.0/ln(CAST(degz AS DOUBLE)), 12)
      |    AS DECIMAL(24,12))) AS DOUBLE), 8) AS aa_score
      |FROM flagged GROUP BY 1, 2
      |ORDER BY aa_score DESC, u, v""".stripMargin

  /** q_clustering_coef — local clustering coefficient per nation:
    * C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) from the oriented-wedge
    * triangle count and the undirected simple degree; zero-degree and
    * degree-1 nodes report 0. */
  def clusteringCoef(s: SparkSession, d: String): DataFrame = {
    val u = undirectedTradeEdges(s, d).persist()
    val tri = u.as("e1")
      .join(u.as("e2"), col("e2.a") === col("e1.b"))
      .join(u.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = u.select(col("a").as("node")).union(u.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val out = nation(s, d).select(col("n_nationkey").as("node"))
      .join(deg, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef", when(col("deg") < 2, lit(0.0))
        .otherwise(round(lit(2.0) * col("n_tri").cast("double") /
          (col("deg").cast("double") * (col("deg").cast("double") - 1.0)), 6)))
      .orderBy(col("node"))
    graft.operators.CacheOps.finalized(out, u)
  }

  val clusteringCoefOracle: String =
    s"""WITH u AS ($undirectedTradeEdgesSql),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM u e1 JOIN u e2 ON e2.a = e1.b
      |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, count(*) AS n_tri FROM (
      |    SELECT x AS node FROM tri UNION ALL
      |    SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |  GROUP BY 1),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM u UNION ALL SELECT b FROM u)
      |  GROUP BY 1)
      |SELECT n.n_nationkey AS node,
      |  coalesce(deg.deg, 0) AS deg,
      |  coalesce(pn.n_tri, 0) AS n_tri,
      |  CASE WHEN coalesce(deg.deg, 0) < 2 THEN 0.0
      |    ELSE round(2.0*coalesce(pn.n_tri, 0) /
      |      (CAST(deg.deg AS DOUBLE)*(CAST(deg.deg AS DOUBLE)-1.0)), 6)
      |  END AS coef
      |FROM nation n
      |LEFT JOIN deg ON deg.node = n.n_nationkey
      |LEFT JOIN pn ON pn.node = n.n_nationkey
      |ORDER BY node""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_adamic_adar" -> (adamicAdar _),
    "q_clustering_coef" -> (clusteringCoef _))

  val oracle: Map[String, String] = Map(
    "q_adamic_adar" -> adamicAdarOracle,
    "q_clustering_coef" -> clusteringCoefOracle)
}
