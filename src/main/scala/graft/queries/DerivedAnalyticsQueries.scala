package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #16: derived-analytics operators — per-document
  * keyword extraction (top TF-IDF terms), equi-depth histograms, and
  * compound growth rates.
  *
  * Scale notes (100 TB): keyword extraction reuses the TF-IDF
  * contraction (term-keyed joins) and finishes with a per-doc rank
  * window capped at k (WindowGroupLimit — only k rows per doc cross
  * the final exchange); the equi-depth histogram's ntile runs per
  * type (parallel across types; a single giant key would use
  * PrefixOps.ntileFromRowNumber); CAGR contracts to |groups| first/
  * last month pairs via min/max aggregation — no window at all.
  *
  * Determinism: TF-IDF weights at the established 8dp rounding;
  * ntile on a unique total order; the fractional root computed as
  * exp(ln(ratio)/months) on rounded inputs (fractional pow is not
  * bit-stable cross-engine, exp/ln on rounded args is — the
  * q_perplexity precedent).
  */
object DerivedAnalyticsQueries extends QueryFamily {

  /** q_keyword_extract — top-3 TF-IDF keywords per document (the
    * tf·ln(N/df) weighting, rank-limited per doc with a full unique
    * tiebreak) — the per-document labeling pass of a search/tagging
    * pipeline. */
  def keywordExtract(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 8))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val keywordExtractOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (SELECT tf.doc_id, tf.term,
      |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE)/df.df), 8) AS tfidf
      |  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n),
      |ranked AS (SELECT doc_id, term, tfidf,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tfidf DESC, term) AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tfidf
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** q_hist_eqfreq — equi-depth (equal-frequency) histogram of value
    * per event_type: decile membership from ntile over a unique
    * total order, then each bin's span and exact population — the
    * quantile-binning companion to q_histogram's equi-width bins. */
  def histEqfreq(s: SparkSession, d: String): DataFrame = {
    // ntile(10) over a window partitioned by the ~5-value event_type
    // would serialize ~n/5 rows per task at scale. The distributed
    // form: row number = rows strictly below this value (cum − c off
    // the contracted grid, via the partitioned prefix —
    // [[graft.operators.PrefixOps.groupedCumCounts]]) + the rank
    // among the value's OWN tie group (a window partitioned by the
    // high-cardinality (type, value) pair — parallel), then the
    // closed-form ntile reconstruction
    // ([[graft.operators.PrefixOps.ntileFromRowNumber]], matches SQL
    // ntile including ties split across bins by event_id).
    val e = events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      e.select(col("event_type"), col("value")), Seq("event_type"), "value")
    val wv = Window.partitionBy(col("event_type"), col("value"))
      .orderBy(col("event_id"))
    e.join(grid, Seq("event_type", "value"))
      .withColumn("rn", col("cum") - col("c") + row_number().over(wv))
      .withColumn("decile",
        graft.operators.PrefixOps.ntileFromRowNumber(col("rn"), col("n"), 10))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  val histEqfreqOracle: String =
    """WITH t AS (SELECT event_type, event_id, value,
      |    ntile(10) OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS decile
      |  FROM events)
      |SELECT event_type, CAST(decile AS INTEGER) AS decile,
      |  count(*) AS n, min(value) AS lo, max(value) AS hi
      |FROM t GROUP BY 1, 2
      |ORDER BY event_type, decile""".stripMargin

  /** q_cagr — compound monthly growth rate of revenue per order
    * priority: first/last calendar month totals via min_by/max_by-
    * free aggregation (join the |groups|-row month extremes back),
    * CAGR = exp(ln(last/first)/months) − 1. */
  def cagr(s: SparkSession, d: String): DataFrame = {
    // (pri, month) grid feeds the span probe and both endpoint
    // lookups — materialize once (round-8 scan gate: was 4 orders
    // scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val monthly = orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(round(dsum(col("o_totalprice")), 2).as("rev"))
      .truncatedCheckpoint()
    val span = monthly.groupBy(col("pri"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val first = monthly.join(broadcast(span), "pri")
      .where(col("m") === col("m0"))
      .select(col("pri"), col("rev").as("rev0"), col("m0"), col("m1"))
    val last = monthly.join(broadcast(span.select(col("pri"),
        col("m1").as("mz"))), "pri")
      .where(col("m") === col("mz"))
      .select(col("pri"), col("rev").as("rev1"))
    first.join(last, "pri")
      .withColumn("months",
        round(months_between(col("m1"), col("m0")), 0).cast("long"))
      .select(col("pri"), col("m0"), col("m1"), col("months"),
        col("rev0"), col("rev1"),
        round(exp(round(log(col("rev1") / col("rev0")), 8) /
          col("months")) - 1, 6).as("cagr_monthly"))
      .orderBy(col("pri"))
  }

  val cagrOracle: String =
    """WITH monthly AS (SELECT o_orderpriority AS pri,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
      |      AS DOUBLE), 2) AS rev
      |  FROM orders GROUP BY 1, 2),
      |span AS (SELECT pri, min(m) AS m0, max(m) AS m1
      |  FROM monthly GROUP BY 1),
      |f AS (SELECT monthly.pri, monthly.rev AS rev0, span.m0, span.m1
      |  FROM monthly JOIN span ON span.pri = monthly.pri
      |    AND monthly.m = span.m0),
      |l AS (SELECT monthly.pri, monthly.rev AS rev1
      |  FROM monthly JOIN span ON span.pri = monthly.pri
      |    AND monthly.m = span.m1)
      |SELECT f.pri, f.m0, f.m1,
      |  CAST(round(date_diff('month', f.m0, f.m1), 0) AS BIGINT)
      |    AS months,
      |  f.rev0, l.rev1,
      |  round(exp(round(ln(l.rev1/f.rev0), 8) /
      |    CAST(round(date_diff('month', f.m0, f.m1), 0) AS BIGINT)) - 1, 6)
      |    AS cagr_monthly
      |FROM f JOIN l ON l.pri = f.pri
      |ORDER BY f.pri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_keyword_extract" -> (keywordExtract _),
    "q_hist_eqfreq" -> (histEqfreq _),
    "q_cagr" -> (cagr _))

  val oracle: Map[String, String] = Map(
    "q_keyword_extract" -> keywordExtractOracle,
    "q_hist_eqfreq" -> histEqfreqOracle,
    "q_cagr" -> cagrOracle)
}
