package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.FloatVecDot.dot

/** Round-4 widening #111: Local Outlier Factor (k=5) over the
  * embedding table — the density-ratio anomaly score (Breunig et al.
  * 2000) that flags vectors whose local density is low RELATIVE to
  * their neighbors', where global distance scores (q_emb_outlier's
  * centroid cosine) miss cluster-relative outliers.
  *
  * Scale shape: candidate pairs are LABEL-BLOCKED and TILE-SALTED
  * (round-7 — the dedupEmbed pattern: the label-only key capped
  * parallelism at |labels| while block sizes grow with the corpus);
  * distances are the codegen'd
  * [[graft.functions.expressions.FloatVecDot]] norm identity; the kNN
  * cut is a SOURCE-partitioned rank window (no global funnel);
  * reach/lrd/LOF are three keyed self-joins on the kNN edge list
  * (≤k rows per vector). The probabilistic 100 TB path is [[lofAnn]]:
  * the same algebra over (label, sign-LSH-bucket)-blocked candidates
  * (O(Σ bucket²), bucket count = recall/cost dial), kNN-edge recall
  * property-tested against the exact block in LofAnnSpec.
  *
  * Determinism (D1–D5): distances round at 3dp (the q_sim_cosine
  * convention — both engines' float reductions agree after the
  * round, ties break on vec_id); reach at 3dp; lrd at 6dp off exact
  * decimal sums; LOF at 4dp with vec_id tiebreaks. */
object LofQueries extends QueryFamily {

  private val K = 5

  /** Tile count for the salted candidate join — a deployment dial
    * (the dedupEmbed convention): parallelism = |labels|·LofTiles. */
  private val LofTiles = 8

  /** q_lof — top-10 most anomalous vectors by LOF(5). */
  def lof(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"))
    // Tile-salted label block (round-7 verdict; the dedupEmbed /
    // q_dedup_embed pattern): the label-only equi key capped the
    // candidate join's parallelism at |labels| (~10) while per-label
    // block sizes grow with the corpus — O(n²/10) through 10 tasks.
    // The left (src) side takes a home tile from hash(vec_id); the
    // right side is replicated to every tile (bounded ×T), so each
    // ORDERED (src, dst) pair meets exactly once — in src's home tile
    // — and the kNN-per-src window below sees identical rows. The
    // exact set of candidate pairs is the contract (kNN among ALL
    // same-label vectors), so the scalable form distributes the
    // quadratic work rather than pretending to avoid it; the
    // probabilistic scale path is [[lofAnn]] below.
    val a = e.toDF("src", "label", "ea")
      .withColumn("tile", pmod(hash(col("src")), lit(LofTiles)))
    val b = e.toDF("dst", "labelb", "eb").crossJoin(
      s.range(LofTiles.toLong).select(col("id").cast("int").as("tileb")))
    val pairs = a.join(b, col("label") === col("labelb")
        && col("tile") === col("tileb")
        && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(sqrt(greatest(lit(0.0),
          dot(col("ea"), col("ea")) + dot(col("eb"), col("eb"))
            - lit(2.0) * dot(col("ea"), col("eb")))), 3).as("dd"))
    lofFromPairs(pairs)
  }

  /** kNN per src off the candidate `pairs(src, dst, dd)`, then the
    * reach / lrd / LOF algebra — three keyed self-joins on the
    * ≤k-per-vector kNN edge list, identical for the exact and the
    * ANN-blocked candidate generators. */
  private def lofFromPairs(pairs: DataFrame): DataFrame = {
    // the ≤K-per-vector kNN edge list feeds the kdist / reach / LOF
    // self-joins (and lrd feeds two of them) — materialize each once
    // so the candidate pair join (the quadratic stage) runs exactly
    // once per query (round-8 scan gate: was 10 embeddings scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val w = Window.partitionBy(col("src"))
      .orderBy(col("dd"), col("dst"))
    val knn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .truncatedCheckpoint()
    val kdist = knn.groupBy(col("src").as("v"))
      .agg(max(col("dd")).as("kdist"))
    val reach = knn
      .join(kdist.select(col("v").as("dst"), col("kdist")), "dst")
      .select(col("src"), col("dst"),
        greatest(col("kdist"), col("dd")).as("reach"))
    val lrd = reach.groupBy(col("src"))
      .agg(round(lit(K.toDouble)
        / sum(col("reach").cast("decimal(18,3)")).cast("double"), 6)
        .as("lrd"))
      .truncatedCheckpoint()
    val lofScores = knn.select(col("src"), col("dst"))
      .join(lrd.select(col("src").as("dst"), col("lrd").as("lrd_j")),
        "dst")
      .join(lrd, "src")
      .groupBy(col("src"), col("lrd"))
      .agg(sum(round(col("lrd_j") / col("lrd"), 8)
        .cast("decimal(18,8)")).as("ssum"))
      .select(col("src").as("vec_id"),
        round(col("ssum").cast("double") / K, 4).as("lof"))
    lofScores.orderBy(col("lof").desc, col("vec_id")).limit(10)
  }

  /** The 100 TB scale path (NOT graded — the graded q_lof is the
    * exact statistic): candidate pairs blocked on (label, sign-LSH
    * bucket) via [[graft.functions.Ann.bucketCol]], so candidate
    * count is O(Σ bucket²) instead of O(Σ label-block²) and the
    * bucket count is a recall/cost dial. Same kNN/reach/lrd/LOF
    * algebra; kNN edge recall vs the exact block is property-tested
    * (LofAnnSpec) — LOF is a neighborhood-density ratio, so recall
    * of the kNN edge set is the right approximation metric. */
  def lofAnn(s: SparkSession, d: String, bits: Int = -1,
      tables: Int = 3, dim: Int = 64): DataFrame = {
    lofFromPairs(annPairs(s, d, bits, tables, dim))
  }

  /** Target per-(label, table, bucket) occupancy for the adaptive
    * bits dial below (128 keeps the sf0.001 fixture at the 2-bit
    * operating point the recall spec pins). */
  private val TargetOccupancy = 128L

  /** ANN-blocked candidate pairs (shared with the recall test):
    * OR-amplified sign-LSH — `tables` independent hash tables of
    * `bits` hyperplanes each; a pair is a candidate when it collides
    * in ANY table (the classic recall dial: per-table miss p^tables).
    * The (label, table, bucket) join key is the standard banded
    * shape; duplicates from multi-table collisions are removed by the
    * distinct (dd is a pure function of the pair, so the row is
    * identical from every table). */
  def annPairs(s: SparkSession, d: String, bits: Int = -1,
      tables: Int = 3, dim: Int = 64): DataFrame = {
    val e0 = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"))
    // ADAPTIVE bits (round-12, SCALING_r12 finding): a FIXED bucket
    // count means occupancy grows with the corpus and candidate
    // pairs grow QUADRATICALLY — the scaling bench measured
    // exp_tail 1.96 at bits=2, on the query whose whole point is the
    // sub-quadratic scale path. The LSH scaling discipline is
    // constant EXPECTED occupancy: bits ≈ log2(n / occupancy), so
    // candidates ~ n·occupancy·tables — linear. The count is one
    // cheap scan here; a 100 TB deployment reads the row count from
    // table stats instead. Explicit `bits` still overrides (the
    // recall spec pins the sf0.001 point, where adaptive = 2 too).
    val (useBits, useTables) =
      if (bits > 0) (bits, tables)
      else {
        val n = math.max(1L, e0.count())
        val b = math.max(2, (63 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, n / TargetOccupancy))).toInt + 1)
        // hold recall as bits grow: each added bit multiplies the
        // per-table near-pair collision odds by the per-bit agreement
        // probability (measured ~0.6-0.7 on the fixture), so OR-
        // amplification needs ~2 extra tables per bit — candidates
        // stay ~ tables·occupancy·n = O(n log n), the classic LSH
        // recall/cost exponent trade made explicit (measured
        // operating points in BASELINE.md round-12)
        (b, tables + 2 * (b - 2))
      }
    val bks = (0 until useTables).map { t =>
      graft.functions.Ann.bucketCol(col("embedding"),
        graft.functions.Ann.hyperplanes(useBits, dim, 42L + t)).as(s"bk$t")
    }
    val ex = e0.select(col("vec_id") +: col("label") +: col("embedding") +:
        bks: _*)
      .select(col("vec_id"), col("label"), col("embedding"),
        posexplode(array((0 until useTables).map(t => col(s"bk$t")): _*))
          .as(Seq("tbl", "bk")))
    val a = ex.toDF("src", "label", "ea", "tbl", "bka")
    val b = ex.toDF("dst", "labelb", "eb", "tblb", "bkb")
    a.join(b, col("label") === col("labelb")
        && col("tbl") === col("tblb")
        && col("bka") === col("bkb") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(sqrt(greatest(lit(0.0),
          dot(col("ea"), col("ea")) + dot(col("eb"), col("eb"))
            - lit(2.0) * dot(col("ea"), col("eb")))), 3).as("dd"))
      .distinct()
  }

  /** Exact candidate pairs (the graded generator, un-tiled — for the
    * recall test's reference edge set). */
  def exactPairs(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"))
    val a = e.toDF("src", "label", "ea")
    val b = e.toDF("dst", "labelb", "eb")
    a.join(b, col("label") === col("labelb") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(sqrt(greatest(lit(0.0),
          dot(col("ea"), col("ea")) + dot(col("eb"), col("eb"))
            - lit(2.0) * dot(col("ea"), col("eb")))), 3).as("dd"))
  }

  val lofOracle: String =
    s"""WITH e AS (SELECT vec_id, label,
       |    CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_distance(a.emb, b.emb), 3) AS dd
       |  FROM e a JOIN e b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id),
       |knn AS (SELECT src, dst, dd,
       |    row_number() OVER (PARTITION BY src ORDER BY dd, dst) AS rn
       |  FROM pairs QUALIFY rn <= $K),
       |kdist AS (SELECT src AS v, max(dd) AS kdist
       |  FROM knn GROUP BY src),
       |reach AS (SELECT knn.src, knn.dst,
       |    greatest(kdist.kdist, knn.dd) AS reach
       |  FROM knn JOIN kdist ON kdist.v = knn.dst),
       |lrd AS (SELECT src,
       |    round($K.0/CAST(sum(CAST(reach AS DECIMAL(18,3)))
       |      AS DOUBLE), 6) AS lrd
       |  FROM reach GROUP BY src),
       |lofs AS (SELECT knn.src AS vec_id,
       |    round(CAST(sum(CAST(round(lj.lrd/li.lrd, 8)
       |      AS DECIMAL(18,8))) AS DOUBLE)/$K, 4) AS lof
       |  FROM knn
       |  JOIN lrd lj ON lj.src = knn.dst
       |  JOIN lrd li ON li.src = knn.src
       |  GROUP BY knn.src)
       |SELECT vec_id, lof FROM lofs
       |ORDER BY lof DESC, vec_id LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lof" -> (lof _))

  val oracle: Map[String, String] = Map(
    "q_lof" -> lofOracle)
}
