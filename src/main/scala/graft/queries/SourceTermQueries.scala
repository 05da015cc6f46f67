package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #16: corpus provenance profiling (per-source
  * composition — the `source` column's first graded coverage) and
  * distinctive-term mining via smoothed log-odds ratios (the
  * Monroe-style "what words characterize this slice" analysis).
  *
  * Scale notes (100 TB): both are keyed aggregates over contracted
  * relations (|sources| / |lang × vocab| rows); the log-odds join
  * broadcasts the |vocab|-sized global counts.
  */
object SourceTermQueries extends QueryFamily {

  /** q_source_profile — per ingest source: document count, exact
    * char volume, language count, dominant language (deterministic
    * mode: max count, ties to the smaller lang), and corpus share. */
  def sourceProfile(s: SparkSession, d: String): DataFrame = {
    val perLang = documents(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"), sum(col("n_chars")).as("cl"))
    val wMode = Window.partitionBy(col("source"))
      .orderBy(col("nl").desc, col("lang"))
    // corpus doc total as a broadcast 1-row aggregate (no global window)
    val tot = documents(s, d).agg(count(lit(1)).as("tot"))
    perLang
      .withColumn("rk", row_number().over(wMode))
      .groupBy(col("source"))
      .agg(sum(col("nl")).as("n_docs"),
        sum(col("cl")).as("n_chars"),
        count(lit(1)).as("n_langs"),
        max(when(col("rk") === 1, col("lang"))).as("top_lang"))
      .crossJoin(broadcast(tot))
      .withColumn("share",
        round(col("n_docs").cast("double") / col("tot").cast("double"), 4))
      .drop("tot")
      .orderBy(col("source"))
  }

  val sourceProfileOracle: String =
    """WITH pl AS (SELECT source, lang, count(*) AS nl,
      |    sum(n_chars) AS cl
      |  FROM documents GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY nl DESC, lang) AS rk FROM pl),
      |g AS (SELECT source, CAST(sum(nl) AS BIGINT) AS n_docs, CAST(sum(cl) AS BIGINT) AS n_chars,
      |    count(*) AS n_langs,
      |    max(CASE WHEN rk = 1 THEN lang END) AS top_lang
      |  FROM r GROUP BY 1)
      |SELECT source, n_docs, n_chars, n_langs, top_lang,
      |  round(CAST(n_docs AS DOUBLE)/CAST(sum(n_docs) OVER () AS DOUBLE), 4)
      |    AS share
      |FROM g ORDER BY source""".stripMargin

  /** q_log_odds — distinctive terms per language: smoothed log-odds
    * of each token in lang vs the rest of the corpus,
    * ln((c+α)/(C−c+α·V)) − ln((r+α)/(R−r+α·V)), top 3 per lang.
    * Exact integer counts; the scalar tree is engine-identical and
    * rounded (D2). The informative-feature miner for slice QA. */
  def logOdds(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
    // ONE pass: the global token counts are exact folds of the
    // (lang, tok) grid (parity-pinned identity) — materialized once
    // (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val byLang = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val global = byLang.groupBy(col("tok")).agg(sum(col("c")).as("g"))
    val vocab = global.agg(count(lit(1)).as("v"), sum(col("g")).as("tot"))
    val langTot = byLang.groupBy(col("lang")).agg(sum(col("c")).as("lt"))
    val a = lit(0.01)
    // global is |vocab|-keyed — no broadcast hint (tok-keyed shuffle
    // join is parallel at corpus scale; stats still broadcast at SF).
    // langTot stays hinted: |langs| rows, bounded at any scale.
    val joined = byLang.join(global, "tok")
      .join(broadcast(langTot), "lang").crossJoin(broadcast(vocab))
      .withColumn("rest_c", col("g") - col("c"))
      .withColumn("rest_t", col("tot") - col("lt"))
    val inLang = (col("c").cast("double") + a) /
      (col("lt").cast("double") - col("c").cast("double") + a * col("v").cast("double"))
    val inRest = (col("rest_c").cast("double") + a) /
      (col("rest_t").cast("double") - col("rest_c").cast("double") +
        a * col("v").cast("double"))
    val scored = joined
      .withColumn("log_odds", round(log(inLang) - log(inRest), 6))
      .withColumn("rk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("log_odds").desc, col("tok"))))
      .filter(col("rk") <= 3)
    scored.select(col("lang"), col("rk"), col("tok"), col("c"), col("log_odds"))
      .orderBy(col("lang"), col("rk"))
  }

  val logOddsOracle: String =
    """WITH toks AS (SELECT lang,
      |    unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |bl AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |gl AS (SELECT tok, count(*) AS g FROM toks GROUP BY 1),
      |vb AS (SELECT count(*) AS v, sum(g) AS tot FROM gl),
      |lt AS (SELECT lang, sum(c) AS lt FROM bl GROUP BY 1),
      |j AS (SELECT bl.lang, bl.tok, bl.c, gl.g, lt.lt, vb.v, vb.tot,
      |    gl.g - bl.c AS rest_c, vb.tot - lt.lt AS rest_t
      |  FROM bl JOIN gl USING (tok) JOIN lt USING (lang) CROSS JOIN vb),
      |sc AS (SELECT lang, tok, c,
      |    round(ln((CAST(c AS DOUBLE) + 0.01) /
      |        (CAST(lt AS DOUBLE) - CAST(c AS DOUBLE) +
      |         0.01*CAST(v AS DOUBLE))) -
      |      ln((CAST(rest_c AS DOUBLE) + 0.01) /
      |        (CAST(rest_t AS DOUBLE) - CAST(rest_c AS DOUBLE) +
      |         0.01*CAST(v AS DOUBLE))), 6) AS log_odds
      |  FROM j),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY log_odds DESC, tok) AS rk FROM sc)
      |SELECT lang, rk, tok, c, log_odds FROM r WHERE rk <= 3
      |ORDER BY lang, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_profile" -> (sourceProfile _),
    "q_log_odds" -> (logOdds _))

  val oracle: Map[String, String] = Map(
    "q_source_profile" -> sourceProfileOracle,
    "q_log_odds" -> logOddsOracle)
}
