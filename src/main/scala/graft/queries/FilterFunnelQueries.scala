package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #31: the corpus-cleaning filter funnel — the
  * per-stage survivor report every data-curation run publishes
  * (how many documents each successive filter removed, and what
  * remains for training).
  *
  * Scale notes (100 TB): ONE scan computes every stage — the stages
  * are cumulative boolean conjunctions aggregated as conditional
  * counts (no per-stage passes, no intermediate materialization);
  * per-source breakdown is the same pass keyed by source. The
  * long-format unpivot of 4 stage columns happens on the |sources|-row
  * aggregate, not the corpus.
  *
  * Determinism: stage predicates are exact integer/string tests on
  * each document; counts exact; rates rounded.
  */
object FilterFunnelQueries extends QueryFamily {

  /** q_filter_funnel — per source: documents entering, surviving
    * stage 1 (English), stage 2 (≥20 tokens), stage 3 (type-token
    * ratio ≥ 0.5), stage 4 (not a 4-token-prefix duplicate), with
    * the end-to-end keep rate. Stages are CUMULATIVE — each row of
    * the report reads "alive after stage k". */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val pfx = sha2(array_join(slice(toks, 1, 4), " "), 256)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"),
        pfx.as("pfx"))
    // keep the FIRST doc per prefix fingerprint (exact-dedup rule)
    val keeper = docs.groupBy(col("pfx")).agg(min(col("doc_id")).as("keep_id"))
    val staged = docs.join(keeper, "pfx")
      .select(col("source"),
        (col("lang") === "en").as("s1"),
        (col("n_tok") >= 20).as("s2"),
        (col("n_uniq").cast("double") / col("n_tok").cast("double") >= 0.5)
          .as("s3"),
        (col("doc_id") === col("keep_id")).as("s4"))
    staged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_in"),
        count(when(col("s1"), lit(1))).as("after_lang"),
        count(when(col("s1") && col("s2"), lit(1))).as("after_len"),
        count(when(col("s1") && col("s2") && col("s3"), lit(1))).as("after_ttr"),
        count(when(col("s1") && col("s2") && col("s3") && col("s4"), lit(1)))
          .as("after_dedup"))
      .withColumn("keep_rate",
        round(col("after_dedup").cast("double") / col("n_in").cast("double"), 6))
      .orderBy(col("source"))
  }

  val filterFunnelOracle: String =
    """WITH docs AS (SELECT doc_id, source, lang,
      |    len(string_split(lower(text), ' ')) AS n_tok,
      |    len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
      |    array_to_string(string_split(lower(text), ' ')[1:4], ' ') AS pfx
      |  FROM documents),
      |keeper AS (SELECT pfx, min(doc_id) AS keep_id FROM docs GROUP BY 1),
      |staged AS (SELECT d.source,
      |    d.lang = 'en' AS s1,
      |    d.n_tok >= 20 AS s2,
      |    CAST(d.n_uniq AS DOUBLE)/CAST(d.n_tok AS DOUBLE) >= 0.5 AS s3,
      |    d.doc_id = k.keep_id AS s4
      |  FROM docs d JOIN keeper k ON k.pfx = d.pfx)
      |SELECT source, count(*) AS n_in,
      |  count(CASE WHEN s1 THEN 1 END) AS after_lang,
      |  count(CASE WHEN s1 AND s2 THEN 1 END) AS after_len,
      |  count(CASE WHEN s1 AND s2 AND s3 THEN 1 END) AS after_ttr,
      |  count(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 END) AS after_dedup,
      |  round(CAST(count(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS keep_rate
      |FROM staged GROUP BY 1 ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_funnel" -> (filterFunnel _))

  val oracle: Map[String, String] = Map(
    "q_filter_funnel" -> filterFunnelOracle)
}
