package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #18: embedding-store operations — scalar (int8)
  * quantization error profiling and split-to-split centroid drift.
  * These are the storage/monitoring companions to the ANN and
  * vector-stats families: quantization decides whether a 100 TB
  * vector store fits in a quarter of the space, centroid shift is the
  * standing data-drift monitor between any two corpus slices.
  *
  * Scale notes (100 TB): both queries posexplode vectors into
  * (vector, dim) rows — the contraction key is `dim` (bounded, |dims|
  * groups), so every aggregate is a keyed shuffle with map-side
  * combine; the per-dim min/max frame that parameterizes the
  * quantizer is |dims| rows broadcast back to the exploded stream (no
  * second scan-wide shuffle); the centroid join matches |labels|×
  * |dims| rows — trivially broadcastable.
  *
  * Determinism: component floats widen to double exactly; min/max and
  * the quantize/reconstruct arithmetic are single IEEE ops (floor
  * included) so both engines compute identical errors; error sums
  * re-enter DECIMAL after a fixed 12dp round (dim_variance precedent);
  * per-dim extremes are emitted as raw unrounded doubles (exact, so
  * no rounding-tie exposure at all).
  */
object EmbOpsQueries extends QueryFamily {

  /** q_emb_quantize — per-dimension int8 quantization audit: codes =
    * floor(255·(x−lo)/(hi−lo)) against the per-dim [lo, hi] frame,
    * midpoint-free reconstruction lo + code/255·span, reporting each
    * dimension's MSE and worst absolute error. (x−lo)/(hi−lo) ≤ 1
    * exactly (monotone IEEE division), so codes stay in [0, 255]
    * without clamping. */
  def embQuantize(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vd", col("v").cast("double"))
    val mm = ex.groupBy(col("pos"))
      .agg(min(col("vd")).as("lo"), max(col("vd")).as("hi"))
    val span = col("hi") - col("lo")
    val code = when(span === 0.0, lit(0.0))
      .otherwise(floor((col("vd") - col("lo")) / span * 255.0))
    val recon = col("lo") + code / 255.0 * span
    val err = col("vd") - recon
    ex.join(broadcast(mm), "pos")
      .select(col("pos"), col("lo"), col("hi"), err.as("err"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        round(sum(round(col("err") * col("err"), 12)
          .cast("decimal(24,12)")).cast("double") /
          count(lit(1)).cast("double"), 10).as("mse"),
        max(abs(col("err"))).as("max_abs_err"))
      .orderBy(col("pos"))
  }

  val embQuantizeOracle: String =
    """WITH ex AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS vd
      |  FROM embeddings),
      |mm AS (SELECT pos, min(vd) AS lo, max(vd) AS hi
      |  FROM ex GROUP BY 1),
      |e AS (SELECT ex.pos, mm.lo, mm.hi,
      |    ex.vd - (mm.lo + (CASE WHEN mm.hi - mm.lo = 0 THEN 0.0
      |      ELSE floor((ex.vd - mm.lo)/(mm.hi - mm.lo)*255.0) END)
      |      /255.0*(mm.hi - mm.lo)) AS err
      |  FROM ex JOIN mm ON mm.pos = ex.pos)
      |SELECT pos, count(*) AS n, max(lo) AS lo, max(hi) AS hi,
      |  round(CAST(sum(CAST(round(err*err, 12) AS DECIMAL(24,12)))
      |    AS DOUBLE)/CAST(count(*) AS DOUBLE), 10) AS mse,
      |  max(abs(err)) AS max_abs_err
      |FROM e GROUP BY 1 ORDER BY pos""".stripMargin

  /** q_centroid_shift — drift monitor between the md5 A/B halves of
    * the corpus: per-label centroids (8dp means, the emb_inertia
    * convention) on each half, then per label the cosine and L2
    * distance between the two — identical halves score cos ≈ 1. */
  def centroidShift(s: SparkSession, d: String): DataFrame = {
    val split = when(substring(md5(col("vec_id").cast("string")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    val ex = embeddings(s, d).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vd", col("v").cast("double"))
      .withColumn("split", split)
    val cent = ex.groupBy(col("label"), col("split"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("vd").cast("decimal(20,10)")).cast("double").as("sv"))
      .select(col("label"), col("split"), col("pos"), col("n"),
        round(col("sv") / col("n").cast("double"), 8).as("m"))
    val a = cent.filter(col("split") === "A")
      .select(col("label"), col("pos"), col("n").as("na"), col("m").as("ma"))
    val b = cent.filter(col("split") === "B")
      .select(col("label"), col("pos"), col("n").as("nb"), col("m").as("mb"))
    val dot = sum(round(col("ma") * col("mb"), 12).cast("decimal(24,12)"))
      .cast("double")
    val l2a = sum(round(col("ma") * col("ma"), 12).cast("decimal(24,12)"))
      .cast("double")
    val l2b = sum(round(col("mb") * col("mb"), 12).cast("decimal(24,12)"))
      .cast("double")
    val d2 = sum(round((col("ma") - col("mb")) * (col("ma") - col("mb")), 12)
      .cast("decimal(24,12)")).cast("double")
    a.join(b, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(dot / (sqrt(l2a) * sqrt(l2b)), 8).as("cos_sim"),
        round(sqrt(d2), 8).as("l2_dist"))
      .orderBy(col("label"))
  }

  val centroidShiftOracle: String =
    """WITH ex AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS vd
      |  FROM embeddings),
      |sp AS (SELECT label, pos, vd,
      |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS sp
      |  FROM ex),
      |cent AS (SELECT label, sp, pos, count(*) AS n,
      |    round(CAST(sum(CAST(vd AS DECIMAL(20,10))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS m
      |  FROM sp GROUP BY 1, 2, 3),
      |a AS (SELECT label, pos, n AS na, m AS ma FROM cent WHERE sp = 'A'),
      |b AS (SELECT label, pos, n AS nb, m AS mb FROM cent WHERE sp = 'B')
      |SELECT a.label, max(a.na) AS n_a, max(b.nb) AS n_b,
      |  round(CAST(sum(CAST(round(a.ma*b.mb, 12) AS DECIMAL(24,12))) AS DOUBLE) /
      |    (sqrt(CAST(sum(CAST(round(a.ma*a.ma, 12) AS DECIMAL(24,12))) AS DOUBLE)) *
      |     sqrt(CAST(sum(CAST(round(b.mb*b.mb, 12) AS DECIMAL(24,12))) AS DOUBLE))), 8)
      |    AS cos_sim,
      |  round(sqrt(CAST(sum(CAST(round((a.ma-b.mb)*(a.ma-b.mb), 12)
      |    AS DECIMAL(24,12))) AS DOUBLE)), 8) AS l2_dist
      |FROM a JOIN b ON b.label = a.label AND b.pos = a.pos
      |GROUP BY a.label ORDER BY a.label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_quantize" -> (embQuantize _),
    "q_centroid_shift" -> (centroidShift _))

  val oracle: Map[String, String] = Map(
    "q_emb_quantize" -> embQuantizeOracle,
    "q_centroid_shift" -> centroidShiftOracle)
}
