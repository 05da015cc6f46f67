package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Round-4 widening #79: embedding outlier mining — the 10 vectors
  * least similar to their OWN label centroid (mislabeled/noise
  * candidates, the per-cluster companion to q_mahalanobis's global
  * outliers and q_centroid_shift's drift view).
  *
  * Scale notes (100 TB): centroids aggregate in EXPLODED
  * (label, pos) form — a keyed hash aggregation that never assembles
  * vectors on the driver (q_sim_pairs discipline); each vector's dot
  * with its centroid is a (vec, pos)-keyed join against the broadcast
  * |labels|×dim centroid table, contracted per vec_id; the final
  * bottom-10 is TakeOrderedAndProject.
  *
  * Determinism: float→double casts are exact; per-position products
  * run in DECIMAL (exact, order-independent sums); one double
  * division + sqrt at the end, reported at 4dp with vec_id
  * tie-break. */
object EmbOutlierQueries extends QueryFamily {

  /** q_emb_outlier — bottom-10 own-centroid cosines. */
  def embOutlier(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("v").cast("double").cast(DecimalType(18, 8)).as("va"))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("va").cast(DecimalType(20, 10))).cast("double") /
        count(lit(1))).cast(DecimalType(18, 8)).as("c"))
    val joined = ex.join(broadcast(cent), Seq("label", "pos"))
    val per = joined.groupBy(col("vec_id"), col("label")).agg(
      sum(col("va") * col("c")).cast("double").as("dot"),
      sum(col("va") * col("va")).cast("double").as("nv"),
      sum(col("c") * col("c")).cast("double").as("nc"))
    per.select(col("vec_id"), col("label"),
        round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 4)
          .as("cos_centroid"))
      .orderBy(col("cos_centroid"), col("vec_id"))
      .limit(10)
  }

  val embOutlierOracle: String =
    """WITH ex AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(CAST(UNNEST(embedding) AS DOUBLE) AS DECIMAL(18,8)) AS va
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, pos,
      |    CAST(CAST(SUM(CAST(va AS DECIMAL(20,10))) AS DOUBLE)
      |      / COUNT(*) AS DECIMAL(18,8)) AS c
      |  FROM ex GROUP BY 1, 2),
      |per AS (
      |  SELECT vec_id, ex.label,
      |    CAST(SUM(va * c) AS DOUBLE) AS dot,
      |    CAST(SUM(va * va) AS DOUBLE) AS nv,
      |    CAST(SUM(c * c) AS DOUBLE) AS nc
      |  FROM ex JOIN cent ON cent.label = ex.label AND cent.pos = ex.pos
      |  GROUP BY 1, 2)
      |SELECT vec_id, label,
      |  round(dot/(sqrt(nv)*sqrt(nc)), 4) AS cos_centroid
      |FROM per
      |ORDER BY cos_centroid, vec_id
      |LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_outlier" -> (embOutlier _))

  val oracle: Map[String, String] = Map(
    "q_emb_outlier" -> embOutlierOracle)
}
