package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #103: unseen-vocabulary estimators off the
  * frequency-of-frequencies contraction (the q_yule_k / q_hapax
  * substrate) — Good–Turing smoothing (how much probability mass
  * belongs to words the corpus has NEVER seen, and the adjusted
  * counts r* for rare words) and the Chao1 / ACE species-richness
  * estimators (how many distinct terms the full population likely
  * has). These are the "is my training corpus big enough"
  * diagnostics of an LLM data pipeline.
  *
  * Scale notes (100 TB): tokens contract to term counts (one keyed
  * shuffle), then to the freq-of-freq table (a second, ≤|distinct
  * counts| rows) — every estimator is scalar algebra over that tiny
  * table. Nothing downstream of the second contraction scales with
  * the corpus.
  *
  * Determinism (D1–D5): all N_r are exact BIGINT; ratios spell one
  * shared expression order with 6–8dp output rounds. */
object VocabEstimatorQueries extends QueryFamily {

  /** freq-of-freq over word BIGRAMS: N_r = number of distinct
    * bigram types seen exactly r times. Bigrams, not unigrams: the
    * synthetic corpus' unigram vocabulary is small and every word
    * frequent (N₁ = 0 — Good–Turing degenerates and Chao1 divides
    * by zero under ANSI), while the bigram space has a genuine rare
    * tail. Bigram extraction is a doc-partitioned lead window (the
    * q_winnow gram idiom). */
  private def fof(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("g", concat_ws(" ", col("term"), col("nxt")))
      .groupBy(col("g")).agg(count(lit(1)).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("nr"))
  }

  private val fofSql: String =
    """fof AS (SELECT r, CAST(count(*) AS BIGINT) AS nr
      |  FROM (SELECT g, CAST(count(*) AS BIGINT) AS r
      |    FROM (SELECT term || ' ' || lead(term, 1)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |      FROM (SELECT doc_id,
      |          generate_subscripts(string_split(lower(text), ' '), 1)
      |            - 1 AS pos,
      |          unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents) tok) big
      |    WHERE g IS NOT NULL GROUP BY g) tc
      |  GROUP BY r)""".stripMargin

  /** q_good_turing — unseen mass P₀ = N₁/N and the Good–Turing
    * adjusted counts r* = (r+1)·N_{r+1}/N_r for r = 1..5 (NULL where
    * N_{r+1} is absent — the smoothing cutoff a production LM
    * applies before switching to raw counts). */
  def goodTuring(s: SparkSession, d: String): DataFrame = {
    val f = fof(s, d)
    val tot = f.agg(sum(col("r") * col("nr")).as("n_tokens"),
      sum(col("nr")).as("n_types"))
    val nxt = f.select((col("r") - 1).as("r"), col("nr").as("nr_next"))
    f.filter(col("r") <= 5)
      .join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("nr"), col("n_tokens"), col("n_types"),
        round((col("r") + 1).cast("double")
          * col("nr_next").cast("double") / col("nr").cast("double"), 6)
          .as("r_star"),
        when(col("r") === 1,
          round(col("nr").cast("double")
            / col("n_tokens").cast("double"), 8)).as("p0_unseen"))
      .orderBy(col("r"))
  }

  val goodTuringOracle: String =
    s"""WITH $fofSql,
       |tot AS (SELECT CAST(sum(r*nr) AS BIGINT) AS n_tokens,
       |    CAST(sum(nr) AS BIGINT) AS n_types FROM fof),
       |nxt AS (SELECT r - 1 AS r, nr AS nr_next FROM fof)
       |SELECT f.r, f.nr, n_tokens, n_types,
       |  round((f.r + 1)*CAST(nr_next AS DOUBLE)
       |    /CAST(f.nr AS DOUBLE), 6) AS r_star,
       |  CASE WHEN f.r = 1 THEN
       |    round(CAST(f.nr AS DOUBLE)/CAST(n_tokens AS DOUBLE), 8)
       |  END AS p0_unseen
       |FROM fof f LEFT JOIN nxt ON nxt.r = f.r, tot
       |WHERE f.r <= 5 ORDER BY f.r""".stripMargin

  /** q_chao1 — Chao1 richness Ŝ = S_obs + N₁²/(2N₂) with its
    * variance-free bias-corrected form and the ACE estimator
    * (abundance-based coverage, rare cutoff r ≤ 10). */
  def chao1(s: SparkSession, d: String): DataFrame = {
    val f = fof(s, d)
    val agg = f.agg(
      sum(col("nr")).as("s_obs"),
      sum(when(col("r") === 1, col("nr")).otherwise(lit(0L))).as("f1"),
      sum(when(col("r") === 2, col("nr")).otherwise(lit(0L))).as("f2"),
      sum(when(col("r") <= 10, col("nr")).otherwise(lit(0L))).as("s_rare"),
      sum(when(col("r") <= 10, col("r") * col("nr")).otherwise(lit(0L)))
        .as("n_rare"),
      sum(when(col("r") <= 10, col("r") * (col("r") - 1) * col("nr"))
        .otherwise(lit(0L))).as("gsum"))
    def g(c: String) = col(c).cast("double")
    val cace = round(lit(1.0) - g("f1") / nullif(g("n_rare"), lit(0.0)), 8)
    val gamma = round(greatest(lit(0.0),
      g("s_rare") / nullif(cace, lit(0.0)) * g("gsum")
        / (g("n_rare") * (g("n_rare") - lit(1.0))) - lit(1.0)), 8)
    agg.select(col("s_obs"), col("f1"), col("f2"),
      round(g("s_obs") + g("f1") * g("f1")
        / nullif(lit(2.0) * g("f2"), lit(0.0)), 4).as("chao1"),
      round(g("s_obs") + g("f1") * (g("f1") - lit(1.0))
        / (lit(2.0) * (g("f2") + lit(1.0))), 4).as("chao1_bc"),
      round((g("s_obs") - g("s_rare")) + g("s_rare")
        / nullif(cace, lit(0.0))
        + g("f1") / nullif(cace, lit(0.0)) * gamma, 4).as("ace"))
  }

  val chao1Oracle: String =
    s"""WITH $fofSql,
       |agg AS (SELECT CAST(sum(nr) AS BIGINT) AS s_obs,
       |    CAST(sum(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN r = 2 THEN nr ELSE 0 END) AS BIGINT) AS f2,
       |    CAST(sum(CASE WHEN r <= 10 THEN nr ELSE 0 END) AS BIGINT)
       |      AS s_rare,
       |    CAST(sum(CASE WHEN r <= 10 THEN r*nr ELSE 0 END) AS BIGINT)
       |      AS n_rare,
       |    CAST(sum(CASE WHEN r <= 10 THEN r*(r - 1)*nr ELSE 0 END)
       |      AS BIGINT) AS gsum
       |  FROM fof),
       |c AS (SELECT *,
       |    round(1.0 - CAST(f1 AS DOUBLE)/nullif(CAST(n_rare AS DOUBLE), 0.0), 8)
       |      AS cace
       |  FROM agg),
       |gm AS (SELECT *,
       |    round(greatest(0.0,
       |      CAST(s_rare AS DOUBLE)/nullif(cace, 0.0)*CAST(gsum AS DOUBLE)
       |        /(CAST(n_rare AS DOUBLE)*(CAST(n_rare AS DOUBLE) - 1.0))
       |        - 1.0), 8) AS gamma
       |  FROM c)
       |SELECT s_obs, f1, f2,
       |  round(CAST(s_obs AS DOUBLE)
       |    + CAST(f1 AS DOUBLE)*CAST(f1 AS DOUBLE)
       |      /nullif(2.0*CAST(f2 AS DOUBLE), 0.0), 4) AS chao1,
       |  round(CAST(s_obs AS DOUBLE)
       |    + CAST(f1 AS DOUBLE)*(CAST(f1 AS DOUBLE) - 1.0)
       |      /(2.0*(CAST(f2 AS DOUBLE) + 1.0)), 4) AS chao1_bc,
       |  round((CAST(s_obs AS DOUBLE) - CAST(s_rare AS DOUBLE))
       |    + CAST(s_rare AS DOUBLE)/nullif(cace, 0.0)
       |    + CAST(f1 AS DOUBLE)/nullif(cace, 0.0)*gamma, 4) AS ace
       |FROM gm""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_good_turing" -> (goodTuring _),
    "q_chao1" -> (chao1 _))

  val oracle: Map[String, String] = Map(
    "q_good_turing" -> goodTuringOracle,
    "q_chao1" -> chao1Oracle)
}
