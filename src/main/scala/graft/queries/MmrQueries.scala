package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.FloatVecDot.dot
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #69: MMR (maximal-marginal-relevance) diversity
  * selection — the classic re-ranking operator RAG retrieval stacks
  * run after ANN candidate generation: greedily pick k documents
  * maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s), trading
  * relevance against redundancy (complements q_rrf_fusion / q_ndcg
  * on the retrieval shelf).
  *
  * Scale notes (100 TB): the expensive stage is candidate generation
  * — here the brute-force cosine top-20 via TakeOrderedAndProject
  * (at scale: ANN buckets, same contract). The greedy loop then runs
  * entirely on the BOUNDED candidate set (20 rows, 20×19 pair sims,
  * 5 unrolled rounds of ≤20-row joins) — persisted + eagerly
  * localCheckpoint'ed so the iteration never re-scans the corpus.
  *
  * Determinism: cosines round at 3dp (the q_sim_cosine float
  * protocol), MMR scores at 6dp, every argmax tie-broken by vec_id;
  * λ = 0.7 exactly representable in both parsers. */
object MmrQueries extends QueryFamily {

  private def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 3)

  /** q_mmr_select — MMR top-5 at λ = 0.7 from the cosine top-20
    * candidates for query vector 0. */
  def mmrSelect(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val cands = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        cos(col("embedding"), col("q_emb")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
      .persist()
    val sims = cands.as("a")
      .join(cands.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("sa"), col("b.vec_id").as("sb"),
        cos(col("a.embedding"), col("b.embedding")).as("sim"))
      .persist()
    var sel = cands
      .orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("rel"),
        round(lit(0.7) * col("rel"), 6).as("score"),
        lit(1).as("sel_rank"))
    for (r <- 2 to 5) {
      val remaining = cands.join(sel.select(col("vec_id").as("sid1")),
        col("vec_id") === col("sid1"), "left_anti")
      val maxSim = sims.join(sel.select(col("vec_id").as("sid2")),
          col("sb") === col("sid2"))
        .groupBy(col("sa")).agg(max(col("sim")).as("maxsim"))
      val pick = remaining.join(maxSim, col("vec_id") === col("sa"))
        .select(col("vec_id"), col("rel"),
          round(lit(0.7) * col("rel") - lit(0.3) * col("maxsim"), 6)
            .as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .withColumn("sel_rank", lit(r))
      // localCheckpoint per greedy round: each round references sel
      // twice (anti-join + max-sim join), so the unchecked DAG
      // doubles per round (q_kcore_peel pattern); sel is ≤5 rows
      sel = sel.unionByName(pick).truncatedCheckpoint()
    }
    graft.operators.CacheOps.finalized(
      sel.select(col("sel_rank"), col("vec_id"), col("rel"), col("score"))
        .orderBy(col("sel_rank")),
      cands, sims)
  }

  private def pickSql(r: Int): String =
    s"""pick$r AS (SELECT c.vec_id, c.rel,
       |    ROUND(0.7*c.rel - 0.3*max(s.sim), 6) AS score,
       |    $r AS sel_rank
       |  FROM cands c
       |  JOIN sims s ON s.a = c.vec_id
       |    AND s.b IN (SELECT vec_id FROM sel${r - 1})
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
       |  GROUP BY c.vec_id, c.rel
       |  ORDER BY score DESC, c.vec_id LIMIT 1),
       |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
       |  SELECT * FROM pick$r)""".stripMargin

  val mmrSelectOracle: String =
    s"""WITH cands AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
      |       WHERE vec_id = 0)), 3) AS rel
      |  FROM embeddings WHERE vec_id <> 0
      |  ORDER BY rel DESC, vec_id LIMIT 20),
      |sims AS MATERIALIZED (
      |  SELECT a.vec_id AS a, b.vec_id AS b,
      |    ROUND(list_cosine_similarity(a.emb, b.emb), 3) AS sim
      |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
      |sel1 AS (SELECT vec_id, rel, ROUND(0.7*rel, 6) AS score,
      |    1 AS sel_rank
      |  FROM cands ORDER BY rel DESC, vec_id LIMIT 1),
      |${pickSql(2)},
      |${pickSql(3)},
      |${pickSql(4)},
      |${pickSql(5)}
      |SELECT sel_rank, vec_id, rel, score FROM sel5
      |ORDER BY sel_rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mmr_select" -> (mmrSelect _))

  val oracle: Map[String, String] = Map(
    "q_mmr_select" -> mmrSelectOracle)
}
