package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #122: ORACLE-GRADED ANN quality — recall@10 of
  * the sign-LSH bucket path against the exact cosine top-10 for the
  * standard query vector. The q_ann_lsh capability row demonstrates
  * the scale path; THIS query grades how good it is, exactly: the
  * deterministic hyperplanes ([[graft.functions.Ann.hyperplanes]],
  * seeded splitmix) are shipped into the DuckDB oracle as literal
  * weight arrays, so both engines compute the identical bucket
  * assignment and the identical recall number.
  *
  * Scale notes (100 TB): the candidate set is ONE bucket of the
  * corpus (expected |corpus|/2^bits — here 8 bits); the exact
  * reranking runs only on those candidates; the recall join compares
  * two ≤10-row sets. The full exact top-10 exists here purely as the
  * grading reference.
  *
  * Determinism: projections are sequential double folds over
  * identical literals in both engines (sign flips need |proj| at
  * ulp-of-zero — measure-zero); cosines round at 3dp with vec_id
  * tiebreaks (the q_sim_cosine convention). */
object AnnEvalQueries extends QueryFamily {

  private val BITS = 8

  /** q_ann_recall — candidates scanned, hits, and recall@10. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Ann
    val planes = Ann.hyperplanes(BITS, 64)
    // bucketed vectors feed the query probe + the exact and ANN legs
    // of the recall comparison — materialize once (round-8 scan gate:
    // was 6 embeddings scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val e = embeddings(s, d)
      .withColumn("bucket", Ann.bucketCol(col("embedding"), planes))
      .truncatedCheckpoint()
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("bucket").as("qb"))
    def scored(df: DataFrame) = df
      .select(col("vec_id"),
        round(Ann.dot(col("embedding"), col("q_emb"))
          / (sqrt(Ann.dot(col("embedding"), col("embedding")))
            * sqrt(Ann.dot(col("q_emb"), col("q_emb")))), 3)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    val exact = scored(e.crossJoin(broadcast(q)))
      .select(col("vec_id").as("ev"))
    val cand = e.crossJoin(broadcast(q)).filter(col("bucket") === col("qb"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val lsh = scored(cand).select(col("vec_id").as("lv"))
    val hits = exact.join(lsh, col("ev") === col("lv"))
      .agg(count(lit(1)).as("n_hits"))
    nCand.crossJoin(broadcast(hits))
      .select(col("n_candidates"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(10.0), 2)
          .as("recall_at_10"))
  }

  val annRecallOracle: String = {
    val planes = graft.functions.Ann.hyperplanes(BITS, 64)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(w =>
        java.math.BigDecimal.valueOf(w).toPlainString).mkString(", ")
      s"""(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
         |    [$arr]) >= 0 THEN ${1L << i} ELSE 0 END)""".stripMargin
    }.mkString("\n + ")
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ($bucketExpr) AS bucket
       |  FROM embeddings),
       |q AS (SELECT embedding AS q_emb, bucket AS qb
       |  FROM e WHERE vec_id = 0),
       |exact AS (SELECT vec_id AS ev FROM (
       |    SELECT e.vec_id,
       |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |        CAST(q_emb AS DOUBLE[])), 3) AS cos_sim
       |    FROM e, q) s
       |  ORDER BY cos_sim DESC, ev LIMIT 10),
       |cand AS (SELECT e.* FROM e, q WHERE bucket = qb),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand),
       |lsh AS (SELECT vec_id AS lv FROM (
       |    SELECT cand.vec_id,
       |      round(list_cosine_similarity(CAST(cand.embedding
       |        AS DOUBLE[]), CAST(q_emb AS DOUBLE[])), 3) AS cos_sim
       |    FROM cand, q) s
       |  ORDER BY cos_sim DESC, lv LIMIT 10),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM exact JOIN lsh ON ev = lv)
       |SELECT n_candidates, n_hits,
       |  round(CAST(n_hits AS DOUBLE)/10.0, 2) AS recall_at_10
       |FROM nc, h""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_recall" -> (annRecall _))

  val oracle: Map[String, String] = Map(
    "q_ann_recall" -> annRecallOracle)
}
