package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #6: corpus-cleaning text scores — readability
  * proxies (word length, syllable estimate, Flesch-style index) and
  * boilerplate detection by 5-gram document frequency — the
  * pre-training text-filtering siblings of q_quality_score /
  * q_repetition / q_contamination.
  *
  * Scale notes (100 TB): readability is a per-row scalar pipeline
  * (regex counting inside whole-stage codegen, no shuffle at all
  * until the final order); boilerplate contracts token streams to a
  * (shingle → document-frequency) table, joins it back by the
  * shingle key, and re-aggregates per document — the same
  * shuffle-on-content-key shape as TF-IDF, no pairwise document
  * comparison anywhere. The 5-gram stream comes from per-document
  * lead() windows (partitioned by doc — parallel across docs).
  *
  * Determinism: counts are exact integers; ratios rounded at fixed
  * scale; the syllable estimate (vowel-group count) is the same
  * regex in both engines.
  */
object CleanTextQueries extends QueryFamily {

  /** q_readability — per document: words, characters, vowel-group
    * "syllables", average word length, long-word ratio and the
    * Flesch-style ease index (sentence count := 1 — the synthetic
    * corpus has no sentence punctuation; the formula plumbing is the
    * operator under test). */
  def readability(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars"),
      regexp_count(col("text"), lit("[aeiou]+")).cast("long").as("n_syll"),
      size(filter(split(col("text"), " "),
        w => length(w) > 6)).cast("long").as("n_long"))
    base.select(col("doc_id"), col("n_words"), col("n_chars"), col("n_syll"),
        round(col("n_chars").cast("double") / col("n_words"), 6)
          .as("avg_word_len"),
        round(col("n_long").cast("double") / col("n_words"), 6)
          .as("long_ratio"),
        // exact decimal pipeline: the 6dp syllable ratio becomes a true
        // DECIMAL, the linear form stays exact (scale 7), and the final
        // round(…, 4) is HALF_UP in both engines — double arithmetic
        // here lands on genuine .xxxx5 ties (found by the oracle gate)
        round(lit(206.835).cast("decimal(9,3)") -
          lit(1.015).cast("decimal(4,3)") * col("n_words") -
          lit(84.6).cast("decimal(4,1)") *
            round(col("n_syll").cast("double") / col("n_words"), 6)
              .cast("decimal(9,6)"), 4)
          .cast("double").as("flesch"))
      .orderBy(col("doc_id"))
  }

  val readabilityOracle: String =
    """WITH base AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
      |      AS n_syll,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> length(w) > 6)) AS BIGINT) AS n_long
      |  FROM documents)
      |SELECT doc_id, n_words, n_chars, n_syll,
      |  round(CAST(n_chars AS DOUBLE)/n_words, 6) AS avg_word_len,
      |  round(CAST(n_long AS DOUBLE)/n_words, 6) AS long_ratio,
      |  CAST(round(CAST(206.835 AS DECIMAL(9,3)) -
      |    CAST(1.015 AS DECIMAL(4,3))*n_words -
      |    CAST(84.6 AS DECIMAL(4,1)) *
      |      CAST(round(CAST(n_syll AS DOUBLE)/n_words, 6) AS DECIMAL(9,6)),
      |    4) AS DOUBLE) AS flesch
      |FROM base ORDER BY doc_id""".stripMargin

  /** q_boilerplate — 5-gram boilerplate profile: shingles whose
    * document frequency ≥ 10 are "boilerplate"; per document, the
    * count and share of its 5-gram positions covered by boilerplate.
    * (The production shape behind terms-of-service / navigation-chrome
    * stripping: content repeated across many pages is template, not
    * text.) */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // round-12: the shingle frame feeds the df build AND the coverage
    // join — without the checkpoint the tokenize + 5-gram lead-window
    // (the dominant work) executes once per consumer. Materialize the
    // corpus-wide shingles once (same trade as q_tfidf_cosine's `w`).
    import graft.operators.CacheOps.CheckpointSyntax
    val shingles = toks
      .withColumn("sh", concat_ws(" ", col("tok"),
        lead(col("tok"), 1).over(w), lead(col("tok"), 2).over(w),
        lead(col("tok"), 3).over(w), lead(col("tok"), 4).over(w)))
      .withColumn("t4", lead(col("tok"), 4).over(w))
      .where(col("t4").isNotNull)
      .select(col("doc_id"), col("sh"))
      .truncatedCheckpoint()
    val df = shingles.select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    shingles.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 10, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6)
          .as("boiler_ratio"))
      .orderBy(col("doc_id"))
  }

  val boilerplateOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |sh0 AS (SELECT doc_id,
      |    concat_ws(' ', tok,
      |      lead(tok, 1) OVER w, lead(tok, 2) OVER w,
      |      lead(tok, 3) OVER w, lead(tok, 4) OVER w) AS sh,
      |    lead(tok, 4) OVER w AS t4
      |  FROM toks
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |shingles AS (SELECT doc_id, sh FROM sh0 WHERE t4 IS NOT NULL),
      |freq AS (SELECT sh, count(*) AS df
      |  FROM (SELECT DISTINCT sh, doc_id FROM shingles) GROUP BY sh)
      |SELECT s.doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN f.df >= 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler,
      |  round(CAST(sum(CASE WHEN f.df >= 10 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    count(*), 6) AS boiler_ratio
      |FROM shingles s JOIN freq f ON f.sh = s.sh
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_readability" -> (readability _),
    "q_boilerplate" -> (boilerplate _))

  val oracle: Map[String, String] = Map(
    "q_readability" -> readabilityOracle,
    "q_boilerplate" -> boilerplateOracle)
}
