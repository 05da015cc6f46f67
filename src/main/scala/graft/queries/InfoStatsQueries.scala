package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #2: distribution-position window functions
  * (percent_rank / cume_dist), grouped robust statistics
  * (median + MAD), mutual information between a categorical and a
  * binned numeric column, and a bigram-LM fluency score — the
  * information-theoretic / robust-stats siblings of chi2, z-score and
  * the unigram perplexity proxy.
  *
  * Scale notes (100 TB): pctrank/cume_dist are PARTITIONED windows
  * (per event_type) — each key's pass is parallel across keys;
  * median/MAD use Spark's exact `median` aggregate per key (per-group
  * value buffers — fine for bounded per-key cardinality; an unbounded
  * key would use the PrefixOps disc-quantile contraction instead);
  * MI contracts to a ~|types|·|bands| cell table with broadcast
  * marginals; the bigram LM is token-keyed joins end to end — the
  * conditional-probability table joins back on the bigram key, never
  * a cross product.
  *
  * Determinism: rank ratios are exact-count arithmetic; median
  * interpolation (avg of the two middle doubles) is the same IEEE
  * expression in both engines; every float term is rounded to a fixed
  * scale before any DECIMAL sum (SURVEY.md D2).
  */
object InfoStatsQueries extends QueryFamily {

  /** q_win_pctrank — percent_rank and cume_dist of `value` within
    * each event_type: the two distribution-position window functions
    * not yet in the graded window family. Both are deterministic
    * under ties (rank/count based) — and both depend ONLY on the
    * per-(type, value) counts, so instead of a window partitioned by
    * the ~5-value event_type (each task would sort ~n/5 of the fact
    * table at scale) the plan contracts to the (type, value) grid,
    * runs the cumulative count through the partitioned distributed
    * prefix ([[graft.operators.PrefixOps.groupedCumCounts]] —
    * parallelism |types|·buckets), and joins the per-cell
    * percent_rank/cume_dist back onto the facts by (type, value).
    * Arithmetic is the engines' own: pr = (rank−1)/(n−1) with
    * rank = cum−c+1, cd = cum/n — identical exact-count ratios. */
  def winPctrank(s: SparkSession, d: String): DataFrame = {
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      events(s, d).select(col("event_type"), col("value")),
      Seq("event_type"), "value")
    val cell = grid.select(col("event_type"), col("value"),
      round(when(col("n") > 1,
          (col("cum") - col("c")).cast("double") /
            (col("n") - 1).cast("double"))
        .otherwise(lit(0.0)), 6).as("pr"),
      round(col("cum").cast("double") / col("n").cast("double"), 6)
        .as("cd"))
    events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(cell, Seq("event_type", "value"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("pr"), col("cd"))
      .orderBy(col("event_id"))
  }

  val winPctrankOracle: String =
    """SELECT event_id, event_type, value,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value)
      |ORDER BY event_id""".stripMargin

  /** q_mad — per event_type: exact median of `value` and the median
    * absolute deviation around it (the robust location/scale pair
    * behind outlier fences that don't break under heavy tails).
    * Deviations are 8dp-rounded before the second median, so the
    * interpolated midpoints are bit-identical cross-engine.
    *
    * Both medians run through the contracted-grid path
    * ([[graft.operators.OrderStats.interpolatedPercentiles]]): the
    * builtin `median` aggregate buffers a (value → count) map per
    * group — ~n/|types| entries in one task over the ~5-value
    * event_type — where the grid + partitioned prefix keeps every
    * stage parallel and every per-task state bounded. Same
    * interpolation arithmetic, so the value is unchanged. */
  def mad(s: SparkSession, d: String): DataFrame = {
    val med = graft.operators.OrderStats.interpolatedPercentiles(
      events(s, d), Seq("event_type"), "value", Seq("med" -> 0.5))
      .select(col("event_type"), col("med"))
    val devs = events(s, d).join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        round(abs(col("value") - col("med")), 8).as("dev"))
    val madF = graft.operators.OrderStats.interpolatedPercentiles(
      devs, Seq("event_type"), "dev", Seq("mad_raw" -> 0.5))
      .select(col("event_type"), col("n"), col("mad_raw"))
    med.join(broadcast(madF), "event_type")
      .select(col("event_type"), col("n"),
        round(col("med"), 6).as("med"),
        round(col("mad_raw"), 6).as("mad"))
      .orderBy(col("event_type"))
  }

  val madOracle: String =
    """WITH m AS (SELECT event_type, median(value) AS med
      |  FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, m.med,
      |    round(abs(e.value - m.med), 8) AS dev
      |  FROM events e JOIN m ON m.event_type = e.event_type)
      |SELECT event_type, count(*) AS n,
      |  round(max(med), 6) AS med,
      |  round(median(dev), 6) AS mad
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_mutual_info — mutual information (in bits) between event_type
    * and the value band (width 100): per-cell PMI and contribution
    * plus the total MI — the information-theoretic dependence measure
    * next to q_chi2's frequency test. Cell terms are exact-count
    * ratios, 8dp-rounded DECIMAL before the order-free sum; marginals
    * and the total arrive by broadcast, not global windows. */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type").as("t"),
      floor(col("value") / 100.0).cast("long").as("b"))
    // ONE pass over the fact rows: margins and the grand total are
    // exact integer folds OF THE CELL GRID (identical values — sums
    // of disjoint counts), not three extra passes; the grid is
    // materialized once (round-8 scan gate: was 8 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = e.groupBy(col("t"), col("b")).agg(count(lit(1)).as("n_tb"))
      .truncatedCheckpoint()
    val tm = cells.groupBy(col("t")).agg(sum(col("n_tb")).as("n_t"))
    val bm = cells.groupBy(col("b")).agg(sum(col("n_tb")).as("n_b"))
    val tot = cells.agg(sum(col("n_tb")).as("n"))
    val joined = cells
      .join(broadcast(tm), "t").join(broadcast(bm), "b")
      .crossJoin(broadcast(tot))
    val pmi = log2((col("n_tb").cast("double") * col("n").cast("double")) /
      (col("n_t").cast("double") * col("n_b").cast("double")))
    val contrib = round(col("n_tb").cast("double") / col("n").cast("double") *
      pmi, 8).cast("decimal(18,8)")
    val scored = joined.select(col("t"), col("b"), col("n_tb"),
      round(pmi, 6).as("pmi"), contrib.as("contrib_d"))
    val mi = scored.agg(
      round(sum(col("contrib_d")).cast("double"), 6).as("mi_bits"))
    scored.crossJoin(broadcast(mi))
      .select(col("t"), col("b"), col("n_tb"), col("pmi"),
        round(col("contrib_d").cast("double"), 6).as("contrib"),
        col("mi_bits"))
      .orderBy(col("t"), col("b"))
  }

  val mutualInfoOracle: String =
    """WITH e AS (SELECT event_type AS t,
      |    CAST(floor(value/100.0) AS BIGINT) AS b
      |  FROM events),
      |cells AS (SELECT t, b, count(*) AS n_tb FROM e GROUP BY 1, 2),
      |tm AS (SELECT t, count(*) AS n_t FROM e GROUP BY 1),
      |bm AS (SELECT b, count(*) AS n_b FROM e GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM e),
      |s AS (SELECT c.t, c.b, c.n_tb,
      |    round(log2((CAST(c.n_tb AS DOUBLE)*CAST(tot.n AS DOUBLE)) /
      |      (CAST(tm.n_t AS DOUBLE)*CAST(bm.n_b AS DOUBLE))), 6) AS pmi,
      |    CAST(round(CAST(c.n_tb AS DOUBLE)/CAST(tot.n AS DOUBLE) *
      |      log2((CAST(c.n_tb AS DOUBLE)*CAST(tot.n AS DOUBLE)) /
      |        (CAST(tm.n_t AS DOUBLE)*CAST(bm.n_b AS DOUBLE))), 8)
      |      AS DECIMAL(18,8)) AS contrib_d
      |  FROM cells c
      |  JOIN tm ON tm.t = c.t JOIN bm ON bm.b = c.b CROSS JOIN tot),
      |mi AS (SELECT round(CAST(sum(contrib_d) AS DOUBLE), 6) AS mi_bits
      |  FROM s)
      |SELECT t, b, n_tb, pmi,
      |  round(CAST(contrib_d AS DOUBLE), 6) AS contrib, mi.mi_bits
      |FROM s CROSS JOIN mi ORDER BY t, b""".stripMargin

  /** q_bigram_lm — bigram-LM fluency score per document: corpus
    * bigram conditional probabilities P(w₂|w₁) = c(w₁w₂)/c(w₁·) from
    * exact counts over bigram positions, then each doc's mean
    * −log₂ P over its bigram sequence and the 2^avg perplexity — the
    * next-order sibling of the unigram q_perplexity quality score.
    * Token-keyed joins only; per-term 8dp DECIMAL rounding. */
  /** Adjacent-token bigrams of `docs(doc_id, text)` by ARRAY SHIFT —
    * one projection, no positional self-join. Factored out so
    * BigramShiftSpec can drive nasty token shapes (empty text,
    * single tokens, repeated separators, repeated bigrams) against
    * the join-form reference. */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("arr"))
      .filter(size(col("arr")) >= 2) // <2 tokens ⇒ no bigram (as the join form)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(arr) - 2)," +
          " i -> struct(arr[i] AS w1, arr[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  def bigramLm(s: SparkSession, d: String): DataFrame = {
    // Bigrams by ARRAY SHIFT, not a positional self-join (round-7):
    // adjacent pairs come straight off the split array in one
    // projection — the previous toks⋈toks on (doc_id, pos+1) re-read
    // the text column per side and shuffled the whole token stream;
    // and c1(w1) = Σ_w2 c12(w1, w2) exactly, so the unigram counts
    // are a further contraction of the bigram counts instead of a
    // third pass over the corpus. Two text scans total (c12 build +
    // the per-document scoring join), down from five.
    val big = bigramsOf(documents(s, d))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val nll = round(-log2(col("c12").cast("double") / col("c1").cast("double")), 8)
      .cast("decimal(18,8)")
    big
      .join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(nll).as("nll_d"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll_d").cast("double") / col("n_bigrams").cast("double"), 4)
          .as("avg_nll"))
      .withColumn("ppl2", round(pow(lit(2.0), col("avg_nll")), 4))
      .orderBy(col("doc_id"))
  }

  val bigramLmOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |big AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      |  FROM toks a JOIN toks b
      |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
      |t AS (SELECT g.doc_id, count(*) AS n_bigrams,
      |    sum(CAST(round(-log2(CAST(c12.c12 AS DOUBLE) /
      |      CAST(c1.c1 AS DOUBLE)), 8) AS DECIMAL(18,8))) AS nll_d
      |  FROM big g
      |  JOIN c12 ON c12.w1 = g.w1 AND c12.w2 = g.w2
      |  JOIN c1 ON c1.w1 = g.w1
      |  GROUP BY 1)
      |SELECT doc_id, n_bigrams,
      |  round(CAST(nll_d AS DOUBLE)/CAST(n_bigrams AS DOUBLE), 4) AS avg_nll,
      |  round(power(2.0, round(CAST(nll_d AS DOUBLE)/CAST(n_bigrams AS DOUBLE),
      |    4)), 4) AS ppl2
      |FROM t ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_pctrank" -> (winPctrank _),
    "q_mad" -> (mad _),
    "q_mutual_info" -> (mutualInfo _),
    "q_bigram_lm" -> (bigramLm _))

  val oracle: Map[String, String] = Map(
    "q_win_pctrank" -> winPctrankOracle,
    "q_mad" -> madOracle,
    "q_mutual_info" -> mutualInfoOracle,
    "q_bigram_lm" -> bigramLmOracle)
}
