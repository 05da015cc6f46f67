package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Text-analysis operators for LLM training-data pipelines
  * (north-star extensions): corpus-derived language ID, quality
  * scoring, tokenizer-style counting, and rolling-hash document
  * fingerprinting.
  *
  * Scale notes: lang-ID builds its per-language profile relationally
  * (two aggregations + a top-k window over a table with ≤ |vocab|×|langs|
  * rows — broadcastable) and scores documents with one broadcast
  * join; no model download, no driver-side state. Quality/token
  * queries are pure per-row projections inside whole-stage codegen.
  * The fingerprint is a positional polynomial hash aggregated per
  * doc — one linear shuffle, the standard sharding-safe form of a
  * rolling hash.
  */
object TextAnalysisQueries extends QueryFamily {

  /** #63 q_lang_id — n-gram-profile language ID: top-5 tokens per
    * language learned from the corpus, documents scored by profile
    * overlap, argmax with deterministic tie-break. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tokens = docs.select(col("doc_id"), col("lang"),
      explode(split(lower(col("text")), " ")).as("token"))
    val prof = tokens.groupBy(col("lang").as("lang_p"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val wProf = Window.partitionBy(col("lang_p"))
      .orderBy(col("freq").desc, col("token"))
    val top5 = prof.withColumn("rk", row_number().over(wProf))
      .filter(col("rk") <= 5).select(col("lang_p"), col("token"))
    val scores = tokens.select(col("doc_id"), col("token")).distinct()
      .join(broadcast(top5), "token")
      .groupBy(col("doc_id"), col("lang_p"))
      .agg(count(lit(1)).as("score"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang_p"))
    val pred = scores.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang_p").as("pred_lang"), col("score"))
    docs.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("pred_lang"), lit("unknown")) === col("lang")).as("hit"))
      .orderBy(col("doc_id"))
  }

  /** #64 q_quality_score — length/diversity heuristics: token count,
    * type-token ratio, mean token length, quality band. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = split(lower(col("text")), " ")
    documents(s, d)
      .select(col("doc_id"),
        size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"),
        col("n_chars"))
      .select(col("doc_id"), col("n_tok"), col("n_uniq"),
        r4(col("n_uniq").cast("double") / col("n_tok")).as("ttr"),
        r4((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
          .as("avg_tok_len"))
      .withColumn("quality",
        when(col("n_tok") >= 30 && col("ttr") >= 0.6, "high")
          .when(col("n_tok") >= 10, "mid")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  /** #65 q_token_count — whitespace and regex ("BPE-ish") token
    * counting per document. The whitespace count runs the codegen'd
    * [[graft.functions.expressions.SpaceTokens]] byte-scan kernel
    * (no per-row array allocation); equality to `size(split(…))` is
    * pinned by SpaceTokensSpec and this query's own grading. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.expressions.SpaceTokens
          .spaceTokens(col("text")).as("n_ws"),
        regexp_count(col("text"), lit("[a-z]+")).as("n_alpha"),
        regexp_count(col("text"), lit("[aeiou]")).as("n_vowel"),
        regexp_count(col("text"), lit("[a-z]{1,4}")).as("n_bpe"))
      .orderBy(col("doc_id"))

  /** #66 q_fingerprint — positional polynomial document fingerprint
    * (sharding-safe rolling hash: Σ h(tok)·w(pos) mod p). */
  private def fingerprintSql(tokenizer: String) =
    s"""WITH tokpos AS ($tokenizer),
       |tokh AS (SELECT doc_id, pos, md5(token) AS m FROM tokpos)
       |SELECT doc_id,
       |  CAST(SUM(${hexval("m")} * (((pos + 1) * 2654435761) % 1000003))
       |    % 1000000007 AS BIGINT) AS fingerprint
       |FROM tokh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def fingerprint(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("documents")
    s.sql(fingerprintSql(
      """SELECT doc_id, pos, token FROM documents
        | LATERAL VIEW posexplode(split(lower(text), ' ')) t AS pos, token""".stripMargin))
  }

  val fingerprintOracle: String = fingerprintSql(
    """SELECT doc_id,
      |  generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos,
      |  UNNEST(string_split(lower(text), ' ')) AS token
      |FROM documents""".stripMargin)

  /** q_fuzzy_match — blocked edit-distance fuzzy matching over the
    * DISTINCT name dictionary: dedupe names first (the synthetic
    * part names repeat heavily — pairing raw rows is a quadratic
    * explosion of exact dups), block on the noun token, verify with
    * Levenshtein ≤ 2, and report each fuzzy name pair with its row
    * support. Dedupe→block→verify is THE scalable fuzzy-join shape:
    * the quadratic verifier runs only inside blocks of the distinct-
    * key dictionary, never across the corpus. */
  def fuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val names = part(s, d)
      .groupBy(lower(col("p_name")).as("nm"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", split(col("nm"), " ").getItem(1))
    names.as("a")
      .join(names.as("b"), col("a.blk") === col("b.blk") &&
        col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("nm_a"), col("b.nm").as("nm_b"),
        levenshtein(col("a.nm"), col("b.nm")).as("dist"),
        (col("a.n_rows") + col("b.n_rows")).as("support"))
      .filter(col("dist") <= 2)
      .orderBy(col("nm_a"), col("nm_b"))
  }

  val fuzzyMatchOracle: String =
    """WITH names AS (
      |  SELECT lower(p_name) AS nm, COUNT(*) AS n_rows
      |  FROM part GROUP BY lower(p_name)),
      |p AS (SELECT nm, n_rows, string_split(nm, ' ')[2] AS blk FROM names)
      |SELECT a.nm AS nm_a, b.nm AS nm_b,
      |  levenshtein(a.nm, b.nm) AS dist,
      |  a.n_rows + b.n_rows AS support
      |FROM p a JOIN p b ON a.blk = b.blk AND a.nm < b.nm
      |WHERE levenshtein(a.nm, b.nm) <= 2
      |ORDER BY nm_a, nm_b""".stripMargin

  /** q_heavy_hitters — tokens above a 3% per-language frequency
    * floor (the exact form of what a CountMin sketch approximates at
    * stream scale): two keyed aggregates + one broadcastable totals
    * join — linear, no sort until the tiny output. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("lang"),
      explode(split(lower(col("text")), " ")).as("token"))
    val counts = toks.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("freq")).as("total"))
    counts.join(totals, "lang")
      .withColumn("pct",
        round(col("freq").cast("double") * 100.0 / col("total"), 4))
      .filter(col("pct") >= 3.0)
      .select(col("lang"), col("token"), col("freq"), col("pct"))
      .orderBy(col("lang"), col("pct").desc, col("token"))
  }

  val heavyHittersOracle: String =
    """WITH c AS (
      |  SELECT lang, token, count(*)::BIGINT AS freq FROM (
      |    SELECT lang, UNNEST(string_split(lower(text), ' ')) AS token
      |    FROM documents)
      |  GROUP BY 1, 2),
      |t AS (SELECT lang, SUM(freq)::BIGINT AS total FROM c GROUP BY 1)
      |SELECT c.lang, token, freq,
      |  ROUND(CAST(freq AS DOUBLE) * 100.0 / total, 4) AS pct
      |FROM c JOIN t ON c.lang = t.lang
      |WHERE ROUND(CAST(freq AS DOUBLE) * 100.0 / total, 4) >= 3.0
      |ORDER BY c.lang, pct DESC, token""".stripMargin

  /** q_token_cooccur — pointwise mutual information of token pairs
    * over document co-occurrence (the association-mining primitive
    * behind collocation detection and embedding objectives):
    * PMI(a,b) = ln(P(a,b)/(P(a)P(b))) with document-level
    * probabilities. The pair join is keyed on doc_id and the token
    * space is the closed vocabulary, so pairs are bounded by
    * |vocab|² — never corpus-quadratic. Support floor keeps the
    * estimate stable. */
  def tokenCooccur(s: SparkSession, d: String): DataFrame = {
    // distinct postings feed the df pass + both legs of the
    // co-occurrence self-join — materialize once (round-8 scan gate:
    // was 5 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val dt = documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("token"))
      .truncatedCheckpoint()
    val nDocs = documents(s, d).filter(col("lang") === "en")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = dt.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
    val pairs = dt.as("a")
      .join(dt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("tok_a"), col("b.token").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 20)
    pairs
      .join(df.select(col("token").as("tok_a"), col("dfreq").as("df_a")), "tok_a")
      .join(df.select(col("token").as("tok_b"), col("dfreq").as("df_b")), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_ab") * col("n_docs")).cast("double") /
          (col("df_a") * col("df_b")).cast("double")), 4).as("pmi"))
      .orderBy(col("tok_a"), col("tok_b"))
  }

  val tokenCooccurOracle: String =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      |  FROM documents WHERE lang = 'en'),
      |nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM dt),
      |df AS (SELECT token, count(*)::BIGINT AS dfreq FROM dt GROUP BY 1),
      |pairs AS (
      |  SELECT a.token AS tok_a, b.token AS tok_b, count(*)::BIGINT AS n_ab
      |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
      |  GROUP BY 1, 2 HAVING count(*) >= 20)
      |SELECT tok_a, tok_b, n_ab,
      |  ROUND(ln(CAST(n_ab * n_docs AS DOUBLE) / CAST(da.dfreq * db.dfreq AS DOUBLE)), 4) AS pmi
      |FROM pairs
      | JOIN df da ON da.token = tok_a
      | JOIN df db ON db.token = tok_b
      | CROSS JOIN nd
      |ORDER BY tok_a, tok_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_token_cooccur" -> (tokenCooccur _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_fuzzy_match" -> (fuzzyMatch _),
    "q_lang_id" -> (langId _),
    "q_quality_score" -> (qualityScore _),
    "q_token_count" -> (tokenCount _),
    "q_fingerprint" -> (fingerprint _))

  val oracle: Map[String, String] = Map(
    "q_token_cooccur" -> tokenCooccurOracle,
    "q_heavy_hitters" -> heavyHittersOracle,
    "q_lang_id" ->
      """WITH tokens AS (
        |  SELECT doc_id, lang, UNNEST(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |prof AS (
        |  SELECT lang AS lang_p, token, COUNT(*) AS freq
        |  FROM tokens GROUP BY 1, 2),
        |top5 AS (
        |  SELECT lang_p, token FROM (
        |    SELECT lang_p, token,
        |      ROW_NUMBER() OVER (PARTITION BY lang_p
        |        ORDER BY freq DESC, token) AS rk
        |    FROM prof) t WHERE rk <= 5),
        |scores AS (
        |  SELECT dt.doc_id, top5.lang_p, COUNT(*) AS score
        |  FROM (SELECT DISTINCT doc_id, token FROM tokens) dt
        |   JOIN top5 ON dt.token = top5.token
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, lang_p AS pred_lang, score FROM (
        |    SELECT doc_id, lang_p, score,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang_p) AS rk
        |    FROM scores) t WHERE rk = 1)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(p.pred_lang, 'unknown') AS pred_lang,
        |  COALESCE(p.score, 0) AS score,
        |  COALESCE(p.pred_lang, 'unknown') = d.lang AS hit
        |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, n_tok, n_uniq,
        | ROUND(CAST(n_uniq AS DOUBLE) / n_tok, 4) AS ttr,
        | ROUND(CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok, 4) AS avg_tok_len,
        | CASE WHEN n_tok >= 30 AND ROUND(CAST(n_uniq AS DOUBLE) / n_tok, 4) >= 0.6
        |        THEN 'high'
        |      WHEN n_tok >= 10 THEN 'mid' ELSE 'low' END AS quality
        |FROM (
        |  SELECT doc_id, n_chars,
        |    len(string_split(lower(text), ' ')) AS n_tok,
        |    len(list_distinct(string_split(lower(text), ' '))) AS n_uniq
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_ws,
        | len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
        | len(regexp_extract_all(text, '[aeiou]')) AS n_vowel,
        | len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" -> fingerprintOracle,
    "q_fuzzy_match" -> fuzzyMatchOracle)
}
