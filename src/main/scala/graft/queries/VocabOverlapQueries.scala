package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #72: set-overlap coefficients between source
  * vocabularies — Broder containment (the asymmetric measure LSH
  * containment sketches estimate), Sørensen–Dice, and the overlap
  * coefficient, completing the q_text_jaccard / q_dup_cross_source
  * overlap family with the three coefficients dedup literature
  * actually compares.
  *
  * Scale notes (100 TB): tokens contract to the (source, token)
  * distinct set in one keyed pass; sizes are |sources| rows; the
  * intersection is a token-keyed self-join on the contracted set
  * (never doc×doc). Ordered pairs only (a < b) with both asymmetric
  * containments reported.
  *
  * Determinism: all set sizes exact longs; three divisions at 6dp. */
object VocabOverlapQueries extends QueryFamily {

  /** q_containment — per source pair: vocabulary sizes, intersection,
    * containment both ways, Dice, and overlap coefficient. */
  def containment(s: SparkSession, d: String): DataFrame = {
    // per-source vocab feeds the size frame + both self-join legs —
    // materialize once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val vocab = documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .distinct()
      .truncatedCheckpoint()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.tok") === col("b.tok")
          && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("sa"),
        col("v").as("va"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"),
        col("v").as("vb"))), "sb")
      .select(col("sa"), col("sb"), col("va"), col("vb"), col("inter"),
        round(col("inter").cast("double") / col("va").cast("double"), 6)
          .as("contain_a_in_b"),
        round(col("inter").cast("double") / col("vb").cast("double"), 6)
          .as("contain_b_in_a"),
        round(lit(2.0) * col("inter").cast("double")
          / (col("va") + col("vb")).cast("double"), 6).as("dice"),
        round(col("inter").cast("double")
          / least(col("va"), col("vb")).cast("double"), 6)
          .as("overlap_coef"))
      .orderBy(col("sa"), col("sb"))
  }

  val containmentOracle: String =
    """WITH vocab AS (SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents)),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v
      |  FROM vocab GROUP BY 1),
      |inter AS (SELECT a.source AS sa, b.source AS sb,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM vocab a JOIN vocab b
      |    ON b.tok = a.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, va.v AS va, vb.v AS vb, inter,
      |  round(CAST(inter AS DOUBLE)/CAST(va.v AS DOUBLE), 6)
      |    AS contain_a_in_b,
      |  round(CAST(inter AS DOUBLE)/CAST(vb.v AS DOUBLE), 6)
      |    AS contain_b_in_a,
      |  round(2.0*CAST(inter AS DOUBLE)/CAST(va.v + vb.v AS DOUBLE), 6)
      |    AS dice,
      |  round(CAST(inter AS DOUBLE)
      |    /CAST(least(va.v, vb.v) AS DOUBLE), 6) AS overlap_coef
      |FROM inter
      |JOIN sizes va ON va.source = sa
      |JOIN sizes vb ON vb.source = sb
      |ORDER BY sa, sb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_containment" -> (containment _))

  val oracle: Map[String, String] = Map(
    "q_containment" -> containmentOracle)
}
