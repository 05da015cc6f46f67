package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #65: distribution-balance completions — Pielou
  * evenness (normalized Shannon entropy per source, the
  * "how uniform is the language mix" score beside q_simpson_div's
  * concentration view) and the chi-square goodness-of-fit of
  * event-type counts against the uniform expectation (the
  * one-sample sibling of q_chi2's independence test).
  *
  * Scale notes (100 TB): both contract to bounded category grids
  * first ((source × lang), |event_types|) — per-cell share terms,
  * DECIMAL-summed across the bounded domain, broadcast totals. No
  * windows, no raw-row retention.
  *
  * Determinism: shares round at 8dp before ln; per-cell terms at
  * 10dp into DECIMAL sums; expected counts are exact rationals of
  * integer counts (D2).
  */
object EvennessQueries extends QueryFamily {

  /** q_evenness — per source: Shannon H over its language mix (ln of
    * 8dp shares) and Pielou J = H / ln(richness) — 1 means perfectly
    * even, small means one language dominates. */
  def evenness(s: SparkSession, d: String): DataFrame = {
    val cell = documents(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val src = cell.groupBy(col("source")).agg(
      sum(col("c")).as("n"), count(lit(1)).as("richness"))
    val h = cell.join(broadcast(src), "source")
      .select(col("source"),
        round(-round(col("c").cast("double") / col("n").cast("double"), 8)
          * log(round(col("c").cast("double") / col("n").cast("double"), 8)),
          10).as("term"))
      .groupBy(col("source"))
      .agg(sum(col("term").cast("decimal(18,10)")).cast("double")
        .as("shannon_h"))
    src.join(h, "source")
      .select(col("source"), col("n"), col("richness"),
        round(col("shannon_h"), 6).as("shannon_h"),
        round(col("shannon_h")
          / log(col("richness").cast("double")), 6).as("pielou_j"))
      .orderBy(col("source"))
  }

  val evennessOracle: String =
    """WITH cell AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |src AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS richness
      |  FROM cell GROUP BY 1),
      |h AS (SELECT cell.source,
      |    CAST(sum(CAST(round(
      |      -round(CAST(c AS DOUBLE)/CAST(n AS DOUBLE), 8)
      |      * ln(round(CAST(c AS DOUBLE)/CAST(n AS DOUBLE), 8)), 10)
      |      AS DECIMAL(18,10))) AS DOUBLE) AS shannon_h
      |  FROM cell JOIN src ON src.source = cell.source GROUP BY 1)
      |SELECT src.source, n, richness,
      |  round(shannon_h, 6) AS shannon_h,
      |  round(shannon_h/ln(CAST(richness AS DOUBLE)), 6) AS pielou_j
      |FROM src JOIN h ON h.source = src.source
      |ORDER BY src.source""".stripMargin

  /** q_gof_uniform — chi-square goodness-of-fit of event-type counts
    * against the uniform expectation E = n/k:
    * χ² = Σ (O−E)²/E over the bounded type domain. */
  def gofUniform(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("o"))
    val tot = obs.agg(sum(col("o")).as("n"), count(lit(1)).as("k"))
    val e = col("n").cast("double") / col("k").cast("double")
    obs.crossJoin(broadcast(tot))
      .select(col("n"), col("k"),
        round(pow(col("o").cast("double") - e, 2) / e, 10).as("term"))
      .groupBy(col("n"), col("k"))
      .agg(sum(col("term").cast("decimal(27,10)")).cast("double")
        .as("chi2raw"))
      .select(col("n"), col("k"), round(col("chi2raw"), 4).as("gof_chi2"))
  }

  val gofUniformOracle: String =
    """WITH obs AS (SELECT event_type, CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k FROM obs),
      |terms AS (SELECT n, k,
      |    round(pow(CAST(o AS DOUBLE)
      |        - CAST(n AS DOUBLE)/CAST(k AS DOUBLE), 2)
      |      /(CAST(n AS DOUBLE)/CAST(k AS DOUBLE)), 10) AS term
      |  FROM obs CROSS JOIN tot)
      |SELECT n, k,
      |  round(CAST(sum(CAST(term AS DECIMAL(27,10))) AS DOUBLE), 4)
      |    AS gof_chi2
      |FROM terms GROUP BY n, k""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_evenness" -> (evenness _),
    "q_gof_uniform" -> (gofUniform _))

  val oracle: Map[String, String] = Map(
    "q_evenness" -> evennessOracle,
    "q_gof_uniform" -> gofUniformOracle)
}
