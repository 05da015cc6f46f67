package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #28: corpus drift monitors — per-day novelty
  * rate (the freshness signal a crawl/stream ingest dashboards) and
  * IDF drift between the md5 corpus halves (vocabulary shift without
  * waiting for downstream eval regressions).
  *
  * Scale notes (100 TB): novelty keys every token occurrence by term
  * to find its first-seen day (one keyed aggregation), broadcasts
  * nothing, and joins first-seen back on the term key; IDF drift is
  * two per-term document-frequency contractions joined on term with a
  * TakeOrderedAndProject top-20 — the shuffle always moves (term,
  * count) pairs, never documents.
  *
  * Determinism: counts exact; ln on exact-count ratios is
  * bit-compatible (established exp/ln precedent); rounded outputs
  * with term/day tiebreaks.
  */
object CorpusDriftQueries extends QueryFamily {

  /** Stable per-document day assignment: docs don't carry
    * timestamps, so the calendar day is derived from doc_id (20
    * docs/day) — deterministic and shared with the oracle. */
  private def dayOf(c: org.apache.spark.sql.Column) =
    date_add(lit(java.sql.Date.valueOf("2024-01-01")),
      (c / 20L).cast("int"))

  /** q_novelty_rate — per ingest day: tokens seen that day, terms
    * making their first-ever appearance, and the novelty share — the
    * crawl-freshness curve (vocab_growth's cumulative sibling reads
    * totals; this reads the per-day increment). */
  def noveltyRate(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(dayOf(col("doc_id")).as("day"),
        explode(split(lower(col("text")), " ")).as("term"))
    val perDay = toks.groupBy(col("day"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val firstSeen = perDay.groupBy(col("term"))
      .agg(min(col("day")).as("first_day"))
    perDay.join(firstSeen, "term")
      .groupBy(col("day"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        count(when(col("first_day") === col("day"), lit(1))).as("n_new"))
      .select(col("day"), col("n_tokens"), col("n_terms"), col("n_new"),
        round(col("n_new").cast("double") / col("n_terms").cast("double"), 6)
          .as("novelty_rate"))
      .orderBy(col("day"))
  }

  val noveltyRateOracle: String =
    """WITH toks AS (SELECT
      |    DATE '2024-01-01' + CAST(doc_id // 20 AS INTEGER) AS day,
      |    unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |per_day AS (SELECT day, term, count(*) AS cnt
      |  FROM toks GROUP BY 1, 2),
      |first_seen AS (SELECT term, min(day) AS first_day
      |  FROM per_day GROUP BY 1)
      |SELECT p.day,
      |  CAST(sum(p.cnt) AS BIGINT) AS n_tokens,
      |  count(*) AS n_terms,
      |  count(CASE WHEN f.first_day = p.day THEN 1 END) AS n_new,
      |  round(CAST(count(CASE WHEN f.first_day = p.day THEN 1 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
      |FROM per_day p JOIN first_seen f ON f.term = p.term
      |GROUP BY p.day ORDER BY p.day""".stripMargin

  /** q_idf_drift — top-20 IDF movers between the md5 A/B document
    * halves: per half, idf = ln(n_docs/df) over terms present in
    * BOTH halves; ranked by |Δidf| — the vocabulary-shift monitor
    * between any two corpus slices. */
  def idfDrift(s: SparkSession, d: String): DataFrame = {
    val half = when(substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    val docs = documents(s, d).select(col("doc_id"), half.as("h"), col("text"))
    val docTerm = docs
      .select(col("h"), col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .distinct()
    val df = docTerm.groupBy(col("h"), col("term"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    // per-(half, term) idf feeds both split legs — materialize once
    // (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val idf = df.join(broadcast(nDocs), "h")
      .select(col("h"), col("term"),
        round(log(col("n_docs").cast("double") / col("df").cast("double")), 8)
          .as("idf"))
      .truncatedCheckpoint()
    val a = idf.filter(col("h") === "A").select(col("term"), col("idf").as("idf_a"))
    val b = idf.filter(col("h") === "B").select(col("term"), col("idf").as("idf_b"))
    a.join(b, "term")
      .select(col("term"), col("idf_a"), col("idf_b"),
        round(abs(col("idf_a") - col("idf_b")), 8).as("drift"))
      .orderBy(col("drift").desc, col("term")).limit(20)
  }

  val idfDriftOracle: String =
    """WITH docs AS (SELECT doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS h,
      |    text
      |  FROM documents),
      |dt AS (SELECT DISTINCT h, doc_id, term FROM (
      |    SELECT h, doc_id, unnest(string_split(lower(text), ' ')) AS term
      |    FROM docs)),
      |df AS (SELECT h, term, count(*) AS df FROM dt GROUP BY 1, 2),
      |nd AS (SELECT h, count(*) AS n_docs FROM docs GROUP BY 1),
      |idf AS (SELECT df.h, df.term,
      |    round(ln(CAST(nd.n_docs AS DOUBLE)/CAST(df.df AS DOUBLE)), 8)
      |      AS idf
      |  FROM df JOIN nd ON nd.h = df.h),
      |a AS (SELECT term, idf AS idf_a FROM idf WHERE h = 'A'),
      |b AS (SELECT term, idf AS idf_b FROM idf WHERE h = 'B')
      |SELECT a.term, a.idf_a, b.idf_b,
      |  round(abs(a.idf_a - b.idf_b), 8) AS drift
      |FROM a JOIN b ON b.term = a.term
      |ORDER BY drift DESC, a.term LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_novelty_rate" -> (noveltyRate _),
    "q_idf_drift" -> (idfDrift _))

  val oracle: Map[String, String] = Map(
    "q_novelty_rate" -> noveltyRateOracle,
    "q_idf_drift" -> idfDriftOracle)
}
