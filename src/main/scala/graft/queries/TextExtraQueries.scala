package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #25: corpus inspection — KWIC (keyword in
  * context) concordance extraction and per-source hapax-legomena
  * profiling (the vocabulary-health signal: a source whose terms are
  * mostly one-offs is either rich or noisy, and the rate says which
  * when read with q_quality_score).
  *
  * Scale notes (100 TB): KWIC slices the token array in place — the
  * posexplode carries the array alongside, so context assembly is a
  * per-row list slice with NO self-join on positions and no shuffle
  * beyond the output sort; hapax is two keyed aggregations
  * ((source, term) counts → per-source rollup). Both are
  * embarrassingly parallel scans.
  *
  * Determinism: pure string/integer operations; the one rate is
  * rounded; (doc_id, idx) is a unique total order.
  */
object TextExtraQueries extends QueryFamily {

  /** q_kwic — concordance for the term `join`: every occurrence with
    * its ±2-token context window, 1-based position. The array rides
    * along with the explode so the slice needs no position self-join. */
  def kwic(s: SparkSession, d: String): DataFrame = {
    val withArr = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("tok") === "join")
    val idx = col("pos") + 1 // 1-based
    val start = greatest(idx - 2, lit(1))
    val stop = least(idx + 2, size(col("toks")))
    withArr
      .select(col("doc_id"), idx.as("idx"),
        array_join(slice(col("toks"), start, stop - start + 1), " ")
          .as("context"))
      .orderBy(col("doc_id"), col("idx"))
  }

  val kwicOracle: String =
    """WITH ex AS (SELECT doc_id,
      |    string_split(lower(text), ' ') AS toks,
      |    generate_subscripts(string_split(lower(text), ' '), 1) AS idx,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents)
      |SELECT doc_id, CAST(idx AS INTEGER) AS idx,
      |  array_to_string(
      |    toks[greatest(idx - 2, 1):least(idx + 2, len(toks))], ' ')
      |    AS context
      |FROM ex WHERE tok = 'join'
      |ORDER BY doc_id, idx""".stripMargin

  /** q_hapax — per-source vocabulary health: distinct terms, hapax
    * legomena (terms seen once IN that source), the hapax share, and
    * token volume — the per-source slice of q_freq_of_freq's global
    * frequency-of-frequencies. */
  def hapax(s: SparkSession, d: String): DataFrame = {
    val tc = documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    tc.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_terms").cast("double"), 6)
          .as("hapax_rate"))
      .orderBy(col("source"))
  }

  val hapaxOracle: String =
    """WITH tc AS (SELECT source, term, count(*) AS cnt
      |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  count(*) AS n_terms,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS hapax_rate
      |FROM tc GROUP BY 1 ORDER BY source""".stripMargin

  /** q_collocations — top-20 bigram collocations by PMI (min count
    * 5): adjacent-token pairs from an in-place array zip (the tokens
    * column slides against itself — no position self-join), unigram
    * margins as broadcast term counts, PMI = ln(c·T/(n1·n2)) on
    * exact integers. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    // unigram table feeds the total fold + both bigram join legs —
    // materialize once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val toks = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
    val uni = toks.select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .truncatedCheckpoint()
    val tot = uni.agg(sum(col("n")).as("tt"))
    val bi = toks
      .select(posexplode(col("ts")).as(Seq("i", "w1")), col("ts"))
      .filter(col("i") < size(col("ts")) - 1)
      .select(col("w1"), element_at(col("ts"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 5)
    // uni is the |vocab|-sized unigram table — no broadcast hint; the
    // w1/w2 joins are token-keyed (parallel at corpus scale) and
    // graded-SF stats still choose broadcast unaided
    bi.join(uni.select(col("term").as("w1"), col("n").as("n1")), "w1")
      .join(uni.select(col("term").as("w2"), col("n").as("n2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c"),
        round(log(col("c").cast("double") * col("tt").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
  }

  val collocationsOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    string_split(lower(text), ' ') AS ts FROM documents),
      |uni AS (SELECT term, count(*) AS n FROM (
      |    SELECT unnest(ts) AS term FROM toks) GROUP BY 1),
      |tot AS (SELECT sum(n) AS tt FROM uni),
      |pairs AS (SELECT unnest(ts) AS w1,
      |    generate_subscripts(ts, 1) AS i, ts
      |  FROM toks),
      |bi AS (SELECT w1, ts[i + 1] AS w2, count(*) AS c
      |  FROM pairs WHERE i < len(ts)
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT bi.w1, bi.w2, bi.c,
      |  round(ln(CAST(bi.c AS DOUBLE) * CAST(tot.tt AS DOUBLE) /
      |    (CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE))), 6) AS pmi
      |FROM bi
      |JOIN uni u1 ON u1.term = bi.w1
      |JOIN uni u2 ON u2.term = bi.w2
      |CROSS JOIN tot
      |ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kwic" -> (kwic _),
    "q_hapax" -> (hapax _),
    "q_collocations" -> (collocations _))

  val oracle: Map[String, String] = Map(
    "q_kwic" -> kwicOracle,
    "q_hapax" -> hapaxOracle,
    "q_collocations" -> collocationsOracle)
}
