package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening: interpolated Kneser–Ney bigram
  * smoothing — the production n-gram smoother (Chen & Goodman 1999)
  * that was missing between the shelf's Jelinek–Mercer interpolation
  * (q_jelinek_mercer) and Good–Turing mass re-estimation
  * (q_good_turing). Everything is count contractions over the bigram
  * table: c(w1w2), c(w1·) = Σ_w2 c(w1w2), the continuation counts
  * N1+(w1·) / N1+(·w2) are ROW counts of the same contraction, and
  * the normalizer N1+(··) is its cardinality — one corpus scan
  * total, every downstream table vocabulary-bounded. */
object SmoothingLmQueries extends QueryFamily {

  /** q_kneser_ney — P_KN(w2|w1) with absolute discount D = 0.75 for
    * the top-20 corpus bigrams (deterministic (count desc, w1, w2)
    * tie-break; TakeOrderedAndProject, never a global sort):
    * P_KN = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · (N1+(·w2)/N1+(··)).
    */
  def kneserNey(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val big = InfoStatsQueries.bigramsOf(documents(s, d))
    // materialize the bigram count table ONCE — four downstream
    // contractions (c1, N1+(·w2), N1+(··), top-20) otherwise each
    // re-scan the corpus (GlobalScanSpec fact-scan ceiling)
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .truncatedCheckpoint()
    // c1 and the forward continuation count from the SAME contraction
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val nbw = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val nbb = c12.agg(count(lit(1)).as("nbb"))
    val top = c12.orderBy(col("c12").desc, col("w1"), col("w2")).limit(20)
    top.join(c1, Seq("w1")).join(nbw, Seq("w2"))
      .crossJoin(broadcast(nbb))
      .select(col("w1"), col("w2"), col("c12"),
        round(greatest(col("c12").cast("double") - 0.75, lit(0.0))
            / col("c1") +
          (lit(0.75) * col("n1fw") / col("c1")) * (col("n1bw") / col("nbb")),
          8).as("p_kn"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
  }

  val kneserNeyOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |big AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      |  FROM toks a JOIN toks b
      |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1fw
      |  FROM c12 GROUP BY 1),
      |nbw AS (SELECT w2, count(*) AS n1bw FROM c12 GROUP BY 1),
      |nbb AS (SELECT count(*) AS nbb FROM c12),
      |top AS (SELECT * FROM c12 ORDER BY c12 DESC, w1, w2 LIMIT 20)
      |SELECT t.w1, t.w2, t.c12,
      |  round(greatest(CAST(t.c12 AS DOUBLE) - 0.75, 0.0)/c1.c1 +
      |    (0.75*c1.n1fw/c1.c1) * (CAST(nbw.n1bw AS DOUBLE)/nbb.nbb), 8)
      |    AS p_kn
      |FROM top t JOIN c1 ON c1.w1 = t.w1 JOIN nbw ON nbw.w2 = t.w2
      |CROSS JOIN nbb
      |ORDER BY t.c12 DESC, t.w1, t.w2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kneser_ney" -> (kneserNey _))

  val oracle: Map[String, String] = Map(
    "q_kneser_ney" -> kneserNeyOracle)
}
