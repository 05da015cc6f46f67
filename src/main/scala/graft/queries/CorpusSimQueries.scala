package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.Determinism._

/** Round-3 widening #3: sparse-vector document similarity (TF-IDF
  * cosine over a token postings join) and deterministic A/B cohort
  * analytics — both everyday operations in a training-data pipeline
  * (semantic near-dup mining; holdout experiment readouts).
  */
object CorpusSimQueries extends QueryFamily {

  private val dbl = "double"
  private def dec30(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(30, 12))

  // ---------------------------------------------------------------
  // q_tfidf_cosine — most-similar document per document in TF-IDF
  // space, computed sparsely: dot products come from a token postings
  // self-join (only shared tokens contribute — never a dense d×d
  // matrix). Scale shape: the postings join partitions by token;
  // skewed (stop-)tokens are exactly the ones IDF down-weights, and
  // at 100 TB they get dropped by a df ceiling before the join —
  // IMPLEMENTED as the PostingsOps.postings(maxDf = …) capability
  // knob (PostingsOpsSpec pins capped ⊆ uncapped + the recall floor);
  // this graded form stays uncapped because its oracle is exact.
  // Determinism: tf·idf weights are doubles built by identical
  // expression trees (ln matches across engines — proven by
  // q_text_tfidf); every SUM is a decimal sum of deterministic casts.
  // ---------------------------------------------------------------
  def tfidfCosine(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("lang") === "de")
    val tok = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val df = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // df is |vocab|-sized — no broadcast hint (q_text_tfidf rule):
    // token-keyed shuffle join at scale, stats-chosen broadcast at SF
    // the weighted postings frame is referenced by the norms pass AND
    // both sides of the dot-product self-join — materialize once
    // (round-8 scan gate: was 24 documents scans; re-running the
    // explode+groupBy+df join three times is pure waste at any SF)
    import graft.operators.CacheOps.CheckpointSyntax
    val w = tok.join(df, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf").cast(dbl) * log(col("n_docs").cast(dbl) / col("df").cast(dbl)))
          .as("w"))
      .truncatedCheckpoint()
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(dec30(col("w") * col("w"))).cast(dbl).as("nrm"))
    val dots = w.as("a").join(w.as("b"),
        col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(dec30(col("a.w") * col("b.w"))).cast(dbl).as("dot"))
    val cos = dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4).as("cos_sim"))
      // both union branches reference the pair frame — materialize so
      // the postings self-join (the plan's expensive stage) runs once
      .truncatedCheckpoint()
    // symmetrize (pairs were generated once with doc_a < doc_b), then
    // keep each doc's single most-similar neighbour
    val sym = cos.unionAll(cos.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"), col("cos_sim")))
    val rw = Window.partitionBy(col("doc_a"))
      .orderBy(col("cos_sim").desc, col("doc_b"))
    sym.withColumn("rn", row_number().over(rw))
      .filter(col("rn") === 1)
      .select(col("doc_a"), col("doc_b"), col("cos_sim"))
      .orderBy(col("doc_a"))
  }

  val tfidfCosineOracle: String =
    """WITH docs AS (SELECT * FROM documents WHERE lang = 'de'),
      |tok AS (
      |  SELECT doc_id, token, count(*)::BIGINT AS tf FROM (
      |    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      |    FROM docs) u
      |  GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM docs),
      |df AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1),
      |w AS (
      |  SELECT tok.doc_id, tok.token,
      |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS w
      |  FROM tok JOIN df USING (token) CROSS JOIN n),
      |norms AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE) AS nrm
      |  FROM w GROUP BY 1),
      |dots AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
      |  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT doc_a, doc_b,
      |    ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cos_sim
      |  FROM dots
      |  JOIN norms na ON na.doc_id = dots.doc_a
      |  JOIN norms nb ON nb.doc_id = dots.doc_b),
      |sym AS (
      |  SELECT doc_a, doc_b, cos_sim FROM cos
      |  UNION ALL SELECT doc_b, doc_a, cos_sim FROM cos),
      |ranked AS (
      |  SELECT doc_a, doc_b, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY doc_a
      |      ORDER BY cos_sim DESC, doc_b) AS rn
      |  FROM sym)
      |SELECT doc_a, doc_b, cos_sim FROM ranked WHERE rn = 1
      |ORDER BY doc_a""".stripMargin

  // ---------------------------------------------------------------
  // q_ab_test — deterministic hash-split cohorts (md5 of the user id,
  // the same engine-identical splitter as q_sample_hash/q_train_split)
  // and per-cohort conversion to 'purchase'. One distinct, one
  // semi-join, one tiny aggregate — every step hash-partitions on
  // user_id, so the shape survives any scale.
  // ---------------------------------------------------------------
  def abTest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val users = ev.select(col("user_id")).distinct()
      .withColumn("cohort",
        when(substring(md5(col("user_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B"))
    val converted = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
      .withColumn("conv", lit(1L))
    users.join(converted, Seq("user_id"), "left")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("conv"), lit(0L))).as("n_converted"))
      .select(col("cohort"), col("n_users"), col("n_converted"),
        round(col("n_converted").cast(dbl) / col("n_users").cast(dbl), 4)
          .as("conv_rate"))
      .orderBy(col("cohort"))
  }

  val abTestOracle: String =
    """WITH users AS (
      |  SELECT DISTINCT user_id,
      |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |              IN ('0','1','2','3','4','5','6','7')
      |         THEN 'A' ELSE 'B' END AS cohort
      |  FROM events),
      |conv AS (
      |  SELECT DISTINCT user_id, 1 AS conv FROM events
      |  WHERE event_type = 'purchase')
      |SELECT cohort, count(*)::BIGINT AS n_users,
      |  SUM(COALESCE(conv, 0))::BIGINT AS n_converted,
      |  ROUND(CAST(SUM(COALESCE(conv, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
      |    AS conv_rate
      |FROM users LEFT JOIN conv USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_dfcap_pairs — the df-CEILING candidate-pair path (round-9):
  // the postings self-join with tokens above df=60 dropped BEFORE
  // the join, via the shared PostingsOps path. The fixture vocabulary
  // is bimodal (stop-tokens in ~every doc, content tokens in a few),
  // so 60 is where the ceiling BITES at the bench scale: at sf0.1 it
  // keeps 465 of the 246k possible pairs — the stop-token all-pairs
  // blow-up is exactly what got dropped. This is the 100 TB skew
  // answer for the whole token-join family (per-token pair fan-out
  // bounded at maxDf²) declared as a GRADED entry: the capped pair
  // set is exact and SQL-expressible, so unlike the rows-only scale
  // paths it hash-matches a DuckDB oracle. PostingsOpsSpec adds the
  // subset/recall-floor properties vs the uncapped join.
  // ---------------------------------------------------------------
  def dfcapPairs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("lang") === "de")
      .select(col("doc_id"), col("text"))
    graft.operators.PostingsOps
      .sharedTokenPairs(graft.operators.PostingsOps
        .postings(docs, maxDf = Some(60L)))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dfcapPairsOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE lang = 'de'),
      |tok AS (
      |  SELECT doc_id, token, count(*)::BIGINT AS tf FROM (
      |    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      |    FROM docs) u
      |  GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS df
      |  FROM tok GROUP BY 1),
      |p AS (SELECT tok.doc_id, tok.token
      |  FROM tok JOIN df USING (token) WHERE df.df <= 60)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // q_dfcap_cosine — the capped scale path graded END-TO-END
  // (round-10, verdict item 5): TF-IDF cosine SCORES over the
  // df-ceiling postings (df ≤ 60, same PostingsOps path as
  // q_dfcap_pairs). q_dfcap_pairs grades the candidate-pair SET; this
  // grades the scores a deployment would actually rank by — exact and
  // SQL-expressible, so unlike the rows-only scale paths it
  // hash-matches a DuckDB oracle. Weights use the UNCAPPED document
  // count and each surviving token's true df (the ceiling drops
  // stop-tokens; it must not inflate the idf of what remains); norms
  // are over surviving tokens only — the pair score is then exactly
  // "cosine in the capped feature space", the quantity the recall
  // floor in PostingsOpsSpec bounds. Scale shape: identical to
  // q_tfidf_cosine's materialize-once postings self-join, with the
  // one change that matters at 100 TB — per-token pair fan-out is
  // bounded at maxDf² BEFORE the join, so the stop-token reducer
  // blow-up (the token-join family's skew hazard) cannot occur.
  // ---------------------------------------------------------------
  def dfcapCosine(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val docs = documents(s, d).filter(col("lang") === "de")
      .select(col("doc_id"), col("text"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    // (doc_id, token, tf, df) with df ≤ 60, materialized once by
    // PostingsOps (docs scanned once; df aggregate computed once)
    val p = graft.operators.PostingsOps.postings(docs, maxDf = Some(60L))
    val w = p.crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf").cast(dbl) * log(col("n_docs").cast(dbl) / col("df").cast(dbl)))
          .as("w"))
      // drop zero weights (a token with df = n_docs has idf ln(1) = 0:
      // contributes nothing to any dot OR norm, but a doc whose
      // surviving tokens are ALL zero-weight would otherwise make
      // nrm = 0 and the score 0/0 — NaN, engine-divergent). Possible
      // only when the slice has ≤ maxDf docs; the guard keeps the
      // query total on any corpus slice (round-10 review).
      .filter(col("w") =!= 0.0)
      .truncatedCheckpoint() // feeds norms + both self-join sides
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(dec30(col("w") * col("w"))).cast(dbl).as("nrm"))
    val dots = w.as("a").join(w.as("b"),
        col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(dec30(col("a.w") * col("b.w"))).cast(dbl).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4).as("cos_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dfcapCosineOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE lang = 'de'),
      |tok AS (
      |  SELECT doc_id, token, count(*)::BIGINT AS tf FROM (
      |    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      |    FROM docs) u
      |  GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM docs),
      |df AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS df
      |  FROM tok GROUP BY 1),
      |p AS (SELECT tok.doc_id, tok.token, tok.tf, df.df
      |  FROM tok JOIN df USING (token) WHERE df.df <= 60),
      |w AS (
      |  SELECT doc_id, token, w FROM (
      |    SELECT doc_id, token,
      |      CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
      |    FROM p CROSS JOIN n) raw WHERE w <> 0.0),
      |norms AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE) AS nrm
      |  FROM w GROUP BY 1),
      |dots AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
      |  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  ROUND(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cos_sim
      |FROM dots
      |JOIN norms na ON na.doc_id = dots.doc_a
      |JOIN norms nb ON nb.doc_id = dots.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tfidf_cosine" -> (tfidfCosine _),
    "q_dfcap_pairs" -> (dfcapPairs _),
    "q_dfcap_cosine" -> (dfcapCosine _),
    "q_ab_test" -> (abTest _))

  val oracle: Map[String, String] = Map(
    "q_tfidf_cosine" -> tfidfCosineOracle,
    "q_dfcap_pairs" -> dfcapPairsOracle,
    "q_dfcap_cosine" -> dfcapCosineOracle,
    "q_ab_test" -> abTestOracle)
}
