package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #82: tokenizer-vocabulary economics — the
  * out-of-vocabulary rate of each source against the corpus top-1000
  * vocabulary (the coverage check run before freezing any tokenizer
  * vocab), and the entropy rate of the event-type Markov chain
  * (−Σ πᵢ Σ pᵢⱼ ln pᵢⱼ under the 3-step power distribution — the
  * per-step information content of user behavior, companion to
  * q_markov_stationary).
  *
  * Scale notes (100 TB): the top-1000 vocab is a keyed count +
  * TakeOrderedAndProject broadcast back into a token-keyed anti
  * membership join; per-source OOV shares are keyed contractions.
  * The chain work is |K|²-bounded.
  *
  * Determinism: counts exact; ln on 8dp-rounded probabilities;
  * per-cell products at 8dp into decimal sums; final 6dp. */
object VocabCoverageQueries extends QueryFamily {

  /** q_oov_rate — per source: token occurrences, the share falling
    * outside the corpus-wide top-1000 vocabulary (count ties broken
    * by token), and distinct OOV types. */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(1).as("in_vocab"))
    val marked = toks.join(broadcast(top), Seq("tok"), "left")
    marked.groupBy(col("source")).agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("tok")))
          .as("oov_types"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        col("oov_types"),
        round(col("n_oov").cast("double")
          / col("n_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy(col("source"))
  }

  val oovRateOracle: String =
    """WITH toks AS (SELECT source,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |top AS (SELECT tok, 1 AS in_vocab FROM (
      |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
      |    ORDER BY c DESC, tok LIMIT 1000)),
      |marked AS (SELECT source, toks.tok, in_vocab
      |  FROM toks LEFT JOIN top ON top.tok = toks.tok)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(CASE WHEN in_vocab IS NULL THEN 1 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(count(DISTINCT CASE WHEN in_vocab IS NULL THEN tok END)
      |    AS BIGINT) AS oov_types,
      |  round(CAST(count(CASE WHEN in_vocab IS NULL THEN 1 END)
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 6) AS oov_rate
      |FROM marked GROUP BY source
      |ORDER BY source""".stripMargin

  /** q_entropy_rate — the chain's entropy rate under the 3-step
    * power distribution: H = −Σᵢ π₃(i) Σⱼ pᵢⱼ ln pᵢⱼ, with the
    * per-state conditional entropy reported beside it. */
  def entropyRate(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
    // |alphabet|²-cell transition grid feeds p (referenced by hCond +
    // the 3 unrolled power-iteration steps) and outT — materialize
    // once (round-8 scan gate: was 20 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val trans = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val outT = trans.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val p = trans.join(broadcast(outT), "a")
      .select(col("a"), col("b"),
        round(col("c").cast("double") / col("ca").cast("double"), 8)
          .as("p"))
    val hCond = p.filter(col("p") > 0.0)
      .groupBy(col("a")).agg(
        round(-sum(round(col("p") * round(log(col("p")), 8), 8)
          .cast("decimal(27,8)")).cast("double"), 6).as("h_cond"))
    val k = outT.agg(count(lit(1)).as("k"))
    val pi0 = outT.crossJoin(broadcast(k))
      .select(col("a").as("st"),
        round(lit(1.0) / col("k").cast("double"), 8).as("pi"))
    def step(pi: DataFrame): DataFrame =
      p.join(broadcast(pi), col("a") === col("st"))
        .groupBy(col("b").as("st"))
        .agg(round(sum(round(col("p") * col("pi"), 8)
          .cast("decimal(27,8)")).cast("double"), 8).as("pi"))
    val pi3 = step(step(step(pi0)))
    val joined = hCond.join(pi3, col("a") === col("st"))
    val rate = joined.agg(
      round(sum(round(col("pi") * col("h_cond"), 8)
        .cast("decimal(27,8)")).cast("double"), 6).as("entropy_rate"))
    joined.crossJoin(broadcast(rate))
      .select(col("a").as("event_type"), round(col("pi"), 6).as("pi3"),
        col("h_cond"), col("entropy_rate"))
      .orderBy(col("event_type"))
  }

  val entropyRateOracle: String =
    """WITH seq AS (SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS b
      |  FROM events),
      |trans AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE b IS NOT NULL GROUP BY 1, 2),
      |outt AS MATERIALIZED (SELECT a, CAST(sum(c) AS BIGINT) AS ca
      |  FROM trans GROUP BY 1),
      |p AS MATERIALIZED (SELECT a, b,
      |    round(CAST(c AS DOUBLE)/CAST(ca AS DOUBLE), 8) AS p
      |  FROM trans JOIN outt USING (a)),
      |hcond AS (SELECT a,
      |    round(-CAST(sum(CAST(round(p*round(ln(p), 8), 8)
      |      AS DECIMAL(27,8))) AS DOUBLE), 6) AS h_cond
      |  FROM p WHERE p > 0.0 GROUP BY 1),
      |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM outt),
      |pi0 AS MATERIALIZED (SELECT a AS st,
      |    round(1.0/CAST(k AS DOUBLE), 8) AS pi FROM outt, k),
      |pi1 AS MATERIALIZED (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi0 ON pi0.st = p.a GROUP BY 1),
      |pi2 AS MATERIALIZED (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi1 ON pi1.st = p.a GROUP BY 1),
      |pi3 AS MATERIALIZED (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi2 ON pi2.st = p.a GROUP BY 1),
      |joined AS (SELECT a, pi, h_cond
      |  FROM hcond JOIN pi3 ON pi3.st = hcond.a),
      |rate AS (SELECT round(CAST(sum(CAST(round(pi*h_cond, 8)
      |    AS DECIMAL(27,8))) AS DOUBLE), 6) AS entropy_rate
      |  FROM joined)
      |SELECT a AS event_type, round(pi, 6) AS pi3, h_cond, entropy_rate
      |FROM joined, rate
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_oov_rate" -> (oovRate _),
    "q_entropy_rate" -> (entropyRate _))

  val oracle: Map[String, String] = Map(
    "q_oov_rate" -> oovRateOracle,
    "q_entropy_rate" -> entropyRateOracle)
}
