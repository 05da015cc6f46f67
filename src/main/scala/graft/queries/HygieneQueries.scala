package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #22: release-hygiene audits — l-diversity (the
  * sensitive-attribute companion to q_k_anonymity) and the
  * cross-source duplicate-overlap matrix a corpus-mixing pipeline
  * reads before weighting sources.
  *
  * Scale notes (100 TB): l-diversity is two keyed aggregations
  * (equivalence class → distinct sensitive values → per-segment
  * rollup); the overlap matrix contracts each source to its distinct
  * content keys first (the Spark side keys on sha2(text) so the
  * shuffle moves 32-byte digests, not documents), then self-joins on
  * the content key — the same token-keyed-join shape as the sparse
  * TF-IDF family, never a cross join.
  *
  * Determinism: counts and distinct counts are exact; the one ratio
  * per query is rounded. Outputs carry total orders on their group
  * keys.
  */
object HygieneQueries extends QueryFamily {

  /** q_l_diversity — over the k-anonymity equivalence classes
    * (segment, nation, 1000-wide balance band): l = distinct order
    * priorities observed per class (the sensitive attribute); per
    * segment the class count, minimum l, the classes at l ≤ 1 (an
    * attacker learns the value outright), and the mean l. */
  def lDiversity(s: SparkSession, d: String): DataFrame = {
    val classes = customer(s, d)
      .join(orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(countDistinct(col("o_orderpriority")).as("l"))
    classes.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("l")).as("min_l"),
        sum(when(col("l") <= 1, 1L).otherwise(0L)).as("exposed_classes"),
        round(sum(col("l")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("avg_l"))
      .orderBy(col("c_mktsegment"))
  }

  val lDiversityOracle: String =
    """WITH classes AS (SELECT c_mktsegment, c_nationkey,
      |    CAST(floor(c_acctbal/1000.0) AS BIGINT) AS bal_band,
      |    count(DISTINCT o_orderpriority) AS l
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, count(*) AS n_classes,
      |  min(l) AS min_l,
      |  CAST(sum(CASE WHEN l <= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS exposed_classes,
      |  round(CAST(sum(l) AS DOUBLE)/CAST(count(*) AS DOUBLE), 4) AS avg_l
      |FROM classes GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** q_dup_cross_source — near-duplicate overlap between every
    * source pair, keyed on the 4-token prefix fingerprint (the
    * q_dedup_prefix near-dup key — the graded corpora contain no
    * byte-exact cross-source copies, so exact hashing reads an empty
    * matrix): distinct fingerprints per source, fingerprints shared
    * by both, and the Jaccard overlap — the matrix that decides
    * whether two feeds are near-mirrors before corpus mixing. The
    * Spark side hashes the fingerprint (sha2 — the shuffle moves
    * 32-byte digests); the oracle groups the raw prefix — identical
    * partitions, graded on the counts. */
  def dupCrossSource(s: SparkSession, d: String): DataFrame = {
    val keys = documents(s, d)
      .select(col("source"),
        sha2(array_join(slice(split(lower(col("text")), " "), 1, 4), " "), 256)
          .as("h"))
      .distinct()
      // prefix-hash keys feed the size frame + both self-join legs —
      // materialize once (round-8 scan gate: was 4 documents scans)
      .truncatedCheckpoint()
    val sizes = keys.groupBy(col("source")).agg(count(lit(1)).as("n_keys"))
    val pairs = keys.as("x").join(keys.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("n_keys").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("n_keys").as("nb"))), "sb")
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("shared"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("sa"), col("sb"))
  }

  val dupCrossSourceOracle: String =
    """WITH keys AS (SELECT DISTINCT source,
      |    array_to_string(string_split(lower(text), ' ')[1:4], ' ') AS text
      |  FROM documents),
      |sizes AS (SELECT source, count(*) AS n_keys FROM keys GROUP BY 1),
      |pairs AS (SELECT x.source AS sa, y.source AS sb, count(*) AS shared
      |  FROM keys x JOIN keys y
      |    ON y.text = x.text AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT p.sa, p.sb, a.n_keys AS na, b.n_keys AS nb, p.shared,
      |  round(CAST(p.shared AS DOUBLE) /
      |    CAST(a.n_keys + b.n_keys - p.shared AS DOUBLE), 6) AS jaccard
      |FROM pairs p
      |JOIN sizes a ON a.source = p.sa
      |JOIN sizes b ON b.source = p.sb
      |ORDER BY p.sa, p.sb""".stripMargin

  /** q_coverage_matrix — the lang × source coverage grid a corpus
    * curator balances against: doc counts with the share within the
    * source and the share of the language, from two broadcast
    * marginal joins (|sources| and |langs| rows). */
  def coverageMatrix(s: SparkSession, d: String): DataFrame = {
    val cell = documents(s, d).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val bySrc = cell.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
    val byLang = cell.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    cell.join(broadcast(bySrc), "source")
      .join(broadcast(byLang), "lang")
      .select(col("lang"), col("source"), col("n"),
        round(col("n").cast("double") / col("n_src").cast("double"), 6)
          .as("share_of_source"),
        round(col("n").cast("double") / col("n_lang").cast("double"), 6)
          .as("share_of_lang"))
      .orderBy(col("lang"), col("source"))
  }

  val coverageMatrixOracle: String =
    """WITH cell AS (SELECT lang, source, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, sum(n) AS n_src FROM cell GROUP BY 1),
      |l AS (SELECT lang, sum(n) AS n_lang FROM cell GROUP BY 1)
      |SELECT cell.lang, cell.source, cell.n,
      |  round(CAST(cell.n AS DOUBLE)/CAST(s.n_src AS DOUBLE), 6)
      |    AS share_of_source,
      |  round(CAST(cell.n AS DOUBLE)/CAST(l.n_lang AS DOUBLE), 6)
      |    AS share_of_lang
      |FROM cell JOIN s ON s.source = cell.source
      |JOIN l ON l.lang = cell.lang
      |ORDER BY cell.lang, cell.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_l_diversity" -> (lDiversity _),
    "q_dup_cross_source" -> (dupCrossSource _),
    "q_coverage_matrix" -> (coverageMatrix _))

  val oracle: Map[String, String] = Map(
    "q_l_diversity" -> lDiversityOracle,
    "q_dup_cross_source" -> dupCrossSourceOracle,
    "q_coverage_matrix" -> coverageMatrixOracle)
}
