package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism.hexval
import graft.functions.expressions.Md5Bucket.md5Bucket

/** Round-4 widening #35: the full MinHash-LSH near-duplicate
  * pipeline, graded EXACTLY — shingle → 16 content-addressed
  * minhashes → 8 two-row bands → bucket-join candidates → exact
  * Jaccard verification. The no-oracle MinHashDedup capability row
  * uses Spark ML's seeded MinHashLSH (recall property-tested); THIS
  * version derives every hash from md5 of the shingle text, so the
  * DuckDB oracle replays the identical sketch and the driver
  * hash-grades the whole pipeline end to end — candidates, misses,
  * and verified pairs are all deterministic.
  *
  * Scale notes (100 TB): the only joins are shingle-keyed and
  * band-bucket-keyed — cost O(Σ bucket²), never all-pairs (5-gram
  * shingles are near-unique, so buckets stay tiny; the token-set
  * variant would saturate — measured: 92k of 125k pairs exceed 0.5
  * token-set Jaccard on this corpus vs 25 pairs on shingle sets);
  * verification touches candidates only. Classic banding math: with
  * r=2, b=8, P(candidate) = 1−(1−j²)⁸ — ≥99.6% at j≥0.8.
  *
  * Determinism: minhashes are exact integer mins of md5 buckets
  * ([[md5Bucket]] kernel vs the portable hex spelling); Jaccard is a
  * ratio of exact set counts, rounded.
  */
object DedupLshQueries extends QueryFamily {

  private val Hashes = 16
  private val BandRows = 2
  private val Bands = Hashes / BandRows
  private val Space = 1 << 24

  /** Distinct 5-gram shingles per document. */
  private def shingles(s: SparkSession, d: String): DataFrame = {
    val ts = split(lower(col("text")), " ")
    documents(s, d)
      .select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("i", "w")),
        col("ts"))
      .filter(col("i") <= size(col("ts")) - 5)
      .select(col("doc_id"),
        array_join(slice(col("ts"), col("i") + 1, lit(5)), " ").as("sh"))
      .distinct()
  }

  /** q_lsh_exact — verified near-duplicate pairs from the banded
    * MinHash index: every candidate pair sharing a band bucket,
    * verified by exact shingle Jaccard ≥ 0.5. */
  def lshExact(s: SparkSession, d: String): DataFrame = {
    // the distinct shingle postings feed the signature pass, the size
    // frame, and both legs of the exact-Jaccard verify; the banded
    // buckets feed the skew census + the capped self-join —
    // materialize each once (round-8 scan gate: was 8 documents
    // scans re-running the shingle explode)
    import graft.operators.CacheOps.CheckpointSyntax
    val sh = shingles(s, d).truncatedCheckpoint()
    val hashed = sh.groupBy(col("doc_id")).agg(
      min(md5Bucket(concat(lit("lsh0:"), col("sh")), lit(Space))).as("h0"),
      (1 until Hashes).map(i =>
        min(md5Bucket(concat(lit(s"lsh$i:"), col("sh")), lit(Space)))
          .as(s"h$i")): _*)
    val bandKeys = (0 until Bands).map { b =>
      val parts = lit(b.toString) +:
        (0 until BandRows).map(r => col(s"h${b * BandRows + r}"))
      concat_ws(",", parts: _*)
    }
    val buckets = hashed.select(col("doc_id"),
      explode(array(bandKeys: _*)).as("bkt"))
      .truncatedCheckpoint()
    // skew guard: a degenerate band bucket (boilerplate corpora hash
    // thousands of docs into one bucket) would make the self-join
    // quadratic in that bucket — cap membership at 64, matching the
    // oracle, so the worst bucket costs 64² regardless of corpus
    val okBands = buckets.groupBy(col("bkt"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= 64)
      .select(col("bkt"))
    // band-keyed join (NOT broadcast: the ok-band list is
    // |buckets|-sized at scale); its shuffle partitioning is reused
    // by the self-join on the same key
    val capped = buckets.join(okBands, "bkt")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.bkt") === col("y.bkt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("sh")), "da")
      .join(sh.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    // sizes is |docs|-sized — no broadcast hint (the okBands comment's
    // own rule): doc-keyed shuffle joins stay parallel at corpus
    // scale, graded-SF stats still choose broadcast unaided
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"), col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("da"), col("db"))
  }

  val lshExactOracle: String = {
    val mins = (0 until Hashes).map(i =>
      s"min(${hexval(s"md5('lsh$i:' || sh)")} % $Space) AS h$i")
    val bands = (0 until Bands).map { b =>
      val cols = (0 until BandRows).map(r => s"h${b * BandRows + r}")
      s"'$b' || ',' || ${cols.mkString(" || ',' || ")}"
    }
    s"""WITH toks AS (SELECT doc_id,
      |    string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    array_to_string(ts[i:i+4], ' ') AS sh
      |  FROM (SELECT doc_id, ts,
      |      unnest(generate_series(1, len(ts)-4)) AS i FROM toks)),
      |hashed AS (SELECT doc_id, ${mins.mkString(",\n  ")}
      |  FROM sh GROUP BY 1),
      |buckets AS (SELECT doc_id,
      |    unnest(list_value(${bands.mkString(", ")})) AS band
      |  FROM hashed),
      |ok AS (SELECT band FROM buckets GROUP BY 1 HAVING count(*) <= 64),
      |capped AS (SELECT b.doc_id, b.band FROM buckets b
      |  JOIN ok ON ok.band = b.band),
      |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM capped x JOIN capped y
      |    ON y.band = x.band AND x.doc_id < y.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT cand.da, cand.db, count(*) AS inter
      |  FROM cand
      |  JOIN sh a ON a.doc_id = cand.da
      |  JOIN sh b ON b.doc_id = cand.db AND b.sh = a.sh
      |  GROUP BY 1, 2)
      |SELECT i.da, i.db, i.inter,
      |  round(CAST(i.inter AS DOUBLE) /
      |    CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
      |FROM inter i
      |JOIN sizes sa ON sa.doc_id = i.da
      |JOIN sizes sb ON sb.doc_id = i.db
      |WHERE round(CAST(i.inter AS DOUBLE) /
      |    CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) >= 0.5
      |ORDER BY i.da, i.db""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lsh_exact" -> (lshExact _))

  val oracle: Map[String, String] = Map(
    "q_lsh_exact" -> lshExactOracle)
}
