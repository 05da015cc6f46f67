package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.FloatVecDot.dot

/** Round-4 widening #23: retrieval-pipeline operators — hybrid
  * keyword+vector rank fusion (the RRF used by every production
  * hybrid search stack) and fixed-window chunk planning with stride
  * overlap (the document→context-window expansion every RAG/training
  * pipeline runs before embedding).
  *
  * Scale notes (100 TB): both retrieval legs end in
  * `orderBy().limit(k)` (TakeOrderedAndProject — per-partition top-k
  * then a k-row driver merge, the Ann.rankTopK idiom), so the rank
  * windows only ever see ≤k rows; the fusion join is k×k tiny. Chunk
  * planning is embarrassingly parallel — one `sequence` explode per
  * document with no shuffle at all (the output inherits the scan's
  * partitioning).
  *
  * Determinism: keyword scores are exact term counts; cosine rounds
  * to 3dp before ranking with vec_id tiebreaks (q_sim_cosine
  * convention); 1/(60+rank) sums are two-term double adds on exact
  * small integers — bit-stable; fused scores rounded at 8dp with id
  * tiebreaks.
  */
object RetrievalQueries extends QueryFamily {

  /** q_rrf_fusion — reciprocal-rank fusion of a keyword leg (tf of
    * the query terms {hash, join, filter}, top-100) and a vector leg
    * (cosine vs query vec 0, top-100) over the aligned doc/vec ids:
    * rrf = Σ 1/(60+rank), missing legs contribute 0; top-20 fused. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "filter")
    val kwScore = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kw_score"))
    val kwTop = kwScore.orderBy(col("kw_score").desc, col("doc_id")).limit(100)
      .withColumn("kw_rank", row_number().over(
        Window.orderBy(col("kw_score").desc, col("doc_id"))))
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val vecScore = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("q_emb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("q_emb"), col("q_emb")))), 3).as("cos_sim"))
    val vecTop = vecScore.orderBy(col("cos_sim").desc, col("vec_id")).limit(100)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    val fused = kwTop.select(col("doc_id").as("id"), col("kw_rank"))
      .join(vecTop.select(col("vec_id").as("id"), col("vec_rank")),
        Seq("id"), "full_outer")
      .select(col("id"), col("kw_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(60.0) + col("kw_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")), lit(0.0)),
          8).as("rrf_score"))
    fused.orderBy(col("rrf_score").desc, col("id")).limit(20)
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col("id"))))
      .orderBy(col("fused_rank"))
  }

  val rrfFusionOracle: String =
    """WITH kw AS (SELECT doc_id, count(*) AS kw_score
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents)
      |  WHERE term IN ('hash','join','filter') GROUP BY 1),
      |kwtop AS (SELECT doc_id, row_number()
      |    OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
      |  FROM kw ORDER BY kw_score DESC, doc_id LIMIT 100),
      |vec AS (SELECT vec_id,
      |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
      |       WHERE vec_id = 0)), 3) AS cos_sim
      |  FROM embeddings),
      |vectop AS (SELECT vec_id, row_number()
      |    OVER (ORDER BY cos_sim DESC, vec_id) AS vec_rank
      |  FROM vec ORDER BY cos_sim DESC, vec_id LIMIT 100),
      |fused AS (SELECT coalesce(k.doc_id, v.vec_id) AS id,
      |    k.kw_rank, v.vec_rank,
      |    round(coalesce(1.0/(60.0 + k.kw_rank), 0.0) +
      |          coalesce(1.0/(60.0 + v.vec_rank), 0.0), 8) AS rrf_score
      |  FROM kwtop k FULL OUTER JOIN vectop v ON v.vec_id = k.doc_id),
      |top AS (SELECT * FROM fused
      |  ORDER BY rrf_score DESC, id LIMIT 20)
      |SELECT id, kw_rank, vec_rank, rrf_score,
      |  row_number() OVER (ORDER BY rrf_score DESC, id) AS fused_rank
      |FROM top ORDER BY fused_rank""".stripMargin

  /** q_chunk_plan — fixed-window chunking with overlap (window 32
    * tokens, stride 24): one row per (doc, chunk) with token
    * boundaries — the expansion table a RAG indexer or training
    * packer materializes before embedding. ceil on exact small
    * integers; no shuffle (the sequence explode is per-row). */
  def chunkPlan(s: SparkSession, d: String): DataFrame = {
    // SpaceTokens kernel: token COUNT without materializing the array
    val toks = documents(s, d).select(col("doc_id"),
      graft.functions.expressions.SpaceTokens
        .spaceTokens(lower(col("text"))).as("n_tok"))
    val planned = toks.withColumn("n_chunks",
      when(col("n_tok") <= 32, lit(1L)).otherwise(
        ceil((col("n_tok") - lit(32.0)) / lit(24.0)).cast("long") + 1L))
    planned
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 24L).as("start_tok"),
        least(col("chunk_id") * 24L + 32L, col("n_tok").cast("long"))
          .as("end_tok"),
        col("n_tok"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkPlanOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    len(string_split(lower(text), ' ')) AS n_tok FROM documents),
      |planned AS (SELECT doc_id, n_tok,
      |    CASE WHEN n_tok <= 32 THEN 1
      |      ELSE CAST(ceil((n_tok - 32.0)/24.0) AS BIGINT) + 1 END
      |      AS n_chunks
      |  FROM toks)
      |SELECT doc_id,
      |  unnest(generate_series(0, n_chunks - 1)) AS chunk_id,
      |  unnest(generate_series(0, n_chunks - 1)) * 24 AS start_tok,
      |  least(unnest(generate_series(0, n_chunks - 1)) * 24 + 32,
      |    CAST(n_tok AS BIGINT)) AS end_tok,
      |  n_tok
      |FROM planned ORDER BY doc_id, chunk_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rrf_fusion" -> (rrfFusion _),
    "q_chunk_plan" -> (chunkPlan _))

  val oracle: Map[String, String] = Map(
    "q_rrf_fusion" -> rrfFusionOracle,
    "q_chunk_plan" -> chunkPlanOracle)
}
