package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening: grid-cell-blocked spatial self-join — the
  * pattern that makes eps-neighborhood queries (DBSCAN core points,
  * radius joins, geo nearest-neighbor) tractable at scale. Points are
  * the first two embedding dimensions (real data, a 2-D projection of
  * the vector corpus).
  *
  * The scale story IS the query: quantize each point to an
  * eps-sized grid cell, explode one side over the 3x3 neighboring
  * cells, join CELL-KEYED, then verify the exact distance. Candidate
  * pairs are O(points-per-cell^2 * cells) instead of O(n^2) — the
  * same blocking shape as the LSH band join (DedupLshQueries) and the
  * banded levenshtein (StatsMlQueries), specialized to metric space.
  * At 100 TB the cell key is the shuffle key; skewed cells are
  * handled the same way as any hot join key (salting / AQE), and the
  * cell size trades candidate count vs fan-out exactly like LSH band
  * width.
  *
  * Determinism: coordinates are float32 values cast to double (exact
  * widening); cell = floor(x / eps) on doubles and the distance
  * test dx*dx + dy*dy <= eps*eps are single-rounded IEEE expressions
  * both engines evaluate identically — no multi-term float reduction
  * anywhere.
  */
object GeoCellQueries extends QueryFamily {

  private val Eps = 0.08
  private val MinPts = 4 // neighbors incl. self for a core point

  /** q_dbscan_core — DBSCAN core-point detection: per point, the
    * number of corpus points within eps (including itself), and
    * whether that reaches minPts. The first half of DBSCAN; the
    * cluster expansion is q_dedup_cluster's connected components over
    * exactly these edges. */
  def dbscanCore(s: SparkSession, d: String): DataFrame = {
    val pts = embeddings(s, d).select(col("vec_id"), col("label"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val cellX = floor(col("x") / Eps).cast("long")
    val cellY = floor(col("y") / Eps).cast("long")
    val right = pts.select(col("vec_id").as("b_id"),
      col("x").as("bx"), col("y").as("by"),
      cellX.as("cx"), cellY.as("cy"))
    val offsets = Seq(-1L, 0L, 1L)
    val probe = pts
      .withColumn("cx0", cellX).withColumn("cy0", cellY)
      .withColumn("dx", explode(array(offsets.map(lit): _*)))
      .withColumn("dy", explode(array(offsets.map(lit): _*)))
      .select(col("vec_id"), col("label"), col("x"), col("y"),
        (col("cx0") + col("dx")).as("cx"), (col("cy0") + col("dy")).as("cy"))
    val pairs = probe.join(right, Seq("cx", "cy"))
      .filter((col("x") - col("bx")) * (col("x") - col("bx")) +
        (col("y") - col("by")) * (col("y") - col("by")) <= lit(Eps * Eps))
    pairs.groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_eps"))
      .withColumn("is_core", col("n_eps") >= MinPts)
      .orderBy(col("vec_id"))
  }

  val dbscanCoreOracle: String =
    s"""WITH pts AS (SELECT vec_id, label,
      |    CAST(embedding[1] AS DOUBLE) AS x,
      |    CAST(embedding[2] AS DOUBLE) AS y
      |  FROM embeddings),
      |cells AS (SELECT *,
      |    CAST(floor(x / $Eps) AS BIGINT) AS cx,
      |    CAST(floor(y / $Eps) AS BIGINT) AS cy FROM pts),
      |offs AS (SELECT * FROM (VALUES (-1), (0), (1)) o(dx)
      |  CROSS JOIN (VALUES (-1), (0), (1)) p(dy)),
      |probe AS (SELECT c.vec_id, c.label, c.x, c.y,
      |    c.cx + o.dx AS cx, c.cy + o.dy AS cy
      |  FROM cells c CROSS JOIN offs o),
      |pairs AS (SELECT a.vec_id, a.label
      |  FROM probe a JOIN cells b ON b.cx = a.cx AND b.cy = a.cy
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      |    <= ${Eps * Eps})
      |SELECT vec_id, label, count(*) AS n_eps,
      |  count(*) >= $MinPts AS is_core
      |FROM pairs GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dbscan_core" -> (dbscanCore _))

  val oracle: Map[String, String] = Map(
    "q_dbscan_core" -> dbscanCoreOracle)
}
