package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #95: language-model retrieval beside q_bm25 —
  * Dirichlet- and Jelinek–Mercer-smoothed query likelihood ranking,
  * and the Expected Reciprocal Rank of the resulting top-10 under
  * graded relevance (the cascade metric completing the
  * NDCG/MRR/AP/RBO shelf).
  *
  * Scale notes (100 TB): the query is a 3-term broadcast; corpus
  * statistics contract to |Q| rows (term filter pushed below the
  * aggregation) plus one total-length fold; each doc's score is a
  * |Q|-row bounded join against the broadcast query stats — one
  * map-side-combinable pass over the corpus, top-10 via
  * TakeOrderedAndProject. ERR runs entirely on the ≤10-row ranked
  * list.
  *
  * Determinism (D1–D5): smoothed probabilities round at 10dp before
  * the house ln; per-term scores round at 8dp into exact decimal
  * sums. ERR's cascade product is EXACT: relevance grades map to
  * sixteenths, so stopping masses are binary fractions — the prefix
  * product of integer numerators is recovered exactly by
  * round(exp(Σln·),0) (integers < 2^53), and the 16^(r−1)
  * denominator is a power of two. */
object RetrievalLmQueries extends QueryFamily {

  private val Q = Seq("hash", "join", "scan")
  private val MU = 2000.0 // Dirichlet pseudo-length
  private def qList = Q.map(t => s"'$t'").mkString(", ")

  /** Per-doc lengths, query-term tfs, and broadcast corpus stats. */
  private def matrix(s: SparkSession, d: String): DataFrame = {
    // query-term postings feed the tf and cf passes; doc lengths feed
    // the collection total and the dense grid — materialize each once
    // (round-8 scan gate: the consumers re-embedded up to 5 documents
    // scans per plan)
    import graft.operators.CacheOps.CheckpointSyntax
    val toks = documents(s, d).select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(Q: _*))
      .truncatedCheckpoint()
    val dl = documents(s, d).select(col("doc_id"),
        size(split(lower(col("text")), " ")).as("len"))
      .truncatedCheckpoint()
    val tf = toks
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val cf = toks
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val total = dl.agg(sum(col("len")).as("total_len"))
    val qstats = cf.crossJoin(broadcast(total))
      .select(col("term"), round(col("cf").cast("double")
        / col("total_len").cast("double"), 10).as("p"))
    dl.crossJoin(broadcast(qstats))
      .join(tf, Seq("doc_id", "term"), "left")
      .select(col("doc_id"), col("len"), col("term"), col("p"),
        coalesce(col("tf"), lit(0L)).as("tf"))
  }

  private val matrixSql: String =
    s"""toks AS (SELECT doc_id,
       |    unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents),
       |dl AS (SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS INT) AS len
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN ($qList) GROUP BY 1, 2),
       |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
       |  FROM toks WHERE term IN ($qList) GROUP BY 1),
       |total AS (SELECT CAST(sum(len) AS BIGINT) AS total_len FROM dl),
       |qstats AS (SELECT term,
       |    round(CAST(cf AS DOUBLE)/CAST(total_len AS DOUBLE), 10) AS p
       |  FROM cf, total),
       |mtx AS (SELECT dl.doc_id, dl.len, q.term, q.p,
       |    coalesce(tf.tf, 0) AS tf
       |  FROM dl CROSS JOIN qstats q
       |  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = q.term)""".stripMargin

  /** q_query_likelihood — Dirichlet-smoothed query likelihood:
    * score(d) = Σ_t ln((tf + μp_t)/(|d| + μ)), top-10 docs. */
  def queryLikelihood(s: SparkSession, d: String): DataFrame =
    matrix(s, d)
      .withColumn("term_score", round(log(
        round((col("tf") + lit(MU) * col("p"))
          / (col("len") + lit(MU)), 10)), 8))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score").cast("decimal(18,8)"))
        .cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)

  val queryLikelihoodOracle: String =
    s"""WITH $matrixSql,
       |scored AS (SELECT doc_id,
       |    round(ln(round((tf + $MU*p)/(len + $MU), 10)), 8)
       |      AS term_score
       |  FROM mtx)
       |SELECT doc_id,
       |  round(CAST(sum(CAST(term_score AS DECIMAL(18,8))) AS DOUBLE), 6)
       |    AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** q_jelinek_mercer — JM smoothing at λ=0.7 on the same matrix:
    * score(d) = Σ_t ln(0.3·tf/|d| + 0.7·p_t). */
  def jelinekMercer(s: SparkSession, d: String): DataFrame =
    matrix(s, d)
      .withColumn("term_score", round(log(
        round(lit(0.3) * col("tf") / col("len")
          + lit(0.7) * col("p"), 10)), 8))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score").cast("decimal(18,8)"))
        .cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)

  val jelinekMercerOracle: String =
    s"""WITH $matrixSql,
       |scored AS (SELECT doc_id,
       |    round(ln(round(0.3*tf/len + 0.7*p, 10)), 8) AS term_score
       |  FROM mtx)
       |SELECT doc_id,
       |  round(CAST(sum(CAST(term_score AS DECIMAL(18,8))) AS DOUBLE), 6)
       |    AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** q_err — Expected Reciprocal Rank of the Dirichlet top-10 with
    * n_chars-derived grades g∈0..4: ERR = Σ_r mass_r·R_r/r where
    * R = (2^g−1)/16 and mass_r = Π_{i<r}(1−R_i), the product taken
    * EXACTLY via integer numerators (17−2^g) recovered by
    * round(exp(Σln),0) over the ≤9-row prefix. */
  def err(s: SparkSession, d: String): DataFrame = {
    val ranked = queryLikelihood(s, d)
      .join(documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id")
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val graded = ranked
      .withColumn("r", row_number().over(w))
      .withColumn("g", least(lit(4),
        floor(col("n_chars") / 120.0).cast("int")))
      .withColumn("rel", (pow(lit(2.0), col("g")) - 1.0) / 16.0)
      .withColumn("numer", lit(17.0) - pow(lit(2.0), col("g")))
    val mass = graded.withColumn("pnum", round(coalesce(
        exp(sum(log(col("numer"))).over(
          w.rowsBetween(Window.unboundedPreceding, -1))), lit(1.0)), 0))
      .withColumn("mass", col("pnum")
        / pow(lit(16.0), col("r") - 1))
      .withColumn("term", round(col("mass") * col("rel") / col("r"), 12))
    mass.agg(count(lit(1)).as("n_ranked"),
      round(sum(col("term").cast("decimal(18,12)")).cast("double"), 8)
        .as("err"))
  }

  val errOracle: String =
    s"""WITH $matrixSql,
       |scored AS (SELECT doc_id,
       |    round(ln(round((tf + $MU*p)/(len + $MU), 10)), 8)
       |      AS term_score
       |  FROM mtx),
       |top10 AS (SELECT doc_id,
       |    round(CAST(sum(CAST(term_score AS DECIMAL(18,8))) AS DOUBLE), 6)
       |      AS score
       |  FROM scored GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT 10),
       |graded AS (SELECT t.doc_id, t.score,
       |    row_number() OVER (ORDER BY t.score DESC, t.doc_id) AS r,
       |    least(4, CAST(floor(d.n_chars/120.0) AS INT)) AS g
       |  FROM top10 t JOIN documents d ON d.doc_id = t.doc_id),
       |m AS (SELECT r,
       |    (pow(2.0, g) - 1.0)/16.0 AS rel,
       |    round(coalesce(exp(sum(ln(17.0 - pow(2.0, g)))
       |      OVER (ORDER BY r
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |      1.0), 0) AS pnum
       |  FROM graded),
       |terms AS (SELECT
       |    round(pnum/pow(16.0, r - 1)*rel/r, 12) AS term
       |  FROM m)
       |SELECT CAST(count(*) AS BIGINT) AS n_ranked,
       |  round(CAST(sum(CAST(term AS DECIMAL(18,12))) AS DOUBLE), 8)
       |    AS err
       |FROM terms""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_query_likelihood" -> (queryLikelihood _),
    "q_jelinek_mercer" -> (jelinekMercer _),
    "q_err" -> (err _))

  val oracle: Map[String, String] = Map(
    "q_query_likelihood" -> queryLikelihoodOracle,
    "q_jelinek_mercer" -> jelinekMercerOracle,
    "q_err" -> errOracle)
}
