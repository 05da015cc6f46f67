package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.functions.expressions.FloatVecDot.dot
import graft.Determinism._

/** Similarity-search / multimodal operators (SURVEY.md §2-B #54–#56).
  *
  * Scale notes:
  *  - #54 is the brute-force scoring baseline: one broadcast of the
  *    query vector, a codegen'd higher-order fold per row, a top-k.
  *    At 100 TB the same kernel runs inside an IVF/LSH candidate
  *    pruning stage (see graft.functions — the kernel is unchanged,
  *    only the candidate set shrinks).
  *  - #55 computes label centroids in EXPLODED (label, pos) form —
  *    a hash aggregation that scales out, never assembling vectors
  *    on the driver. Pairwise centroid cosines are a tiny self-join
  *    (10×10 labels).
  *  - Cross-engine float determinism: centroid sums go through
  *    decimal (exact, order-independent); per-row dot products stay
  *    double (sequential fold ⊥ engine SIMD order differs only at
  *    1e-16 — absorbed by ROUND 3/4).
  */
object SimQueries extends QueryFamily {

  private val dbl = "double"

  /** #54 q_sim_cosine — brute-force cosine top-10 vs query vec 0;
    * ranked on the ROUNDED score + vec_id so rank survives last-ulp
    * engine differences. */
  def simCosine(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("q_emb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("q_emb"), col("q_emb")))), 3).as("cos_sim"))
    val w = Window.orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .orderBy(col("rn"))
  }

  /** #55 q_sim_pairs — label-centroid pairwise cosines, all math in
    * exploded relational form with decimal-exact sums. */
  def simPairs(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
    // float→double cast is exact; double→decimal cast is deterministic
    // (a dyadic value is never a decimal rounding tie); decimal sum is
    // order-independent → centroids identical in both engines.
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(dbl).cast(DecimalType(20, 10))).cast(dbl) /
            count(lit(1))).cast(DecimalType(18, 8)).as("c"))
    val pairs = cent.as("a")
      .join(cent.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.c") * col("b.c")).cast(dbl).as("dot"),
        sum(col("a.c") * col("a.c")).cast(dbl).as("na"),
        sum(col("b.c") * col("b.c")).cast(dbl).as("nb"))
    pairs.select(col("la"), col("lb"),
        r4(col("dot") / sqrt(col("na") * col("nb"))).as("cos_sim"))
      .orderBy(col("la"), col("lb"))
  }

  /** #56 q_multimodal_join — assemble text + vector + scalar features
    * into one record (documents ⋈ embeddings on doc_id=vec_id; inner:
    * vecs ⊂ docs at sf0.1). */
  def multimodalJoin(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"),
        size(col("embedding")).as("dim"),
        // `+ 0.0` canonicalizes -0.0 → +0.0 (engines disagree on zero sign)
        (r4(element_at(col("embedding"), 1).cast(dbl)) + 0.0).as("emb0"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_cosine" -> (simCosine _),
    "q_sim_pairs" -> (simPairs _),
    "q_multimodal_join" -> (multimodalJoin _))

  val oracle: Map[String, String] = Map(
    // CAST to DOUBLE[] first: DuckDB's list_cosine_similarity on
    // FLOAT[] computes in float32 (~1e-7 error — measured), which can
    // flip the 3rd decimal; on DOUBLE[] it matches the double fold to
    // ~1e-16.
    "q_sim_cosine" ->
      """WITH scored AS (
        |  SELECT vec_id,
        |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |       WHERE vec_id = 0)), 3) AS cos_sim
        |  FROM embeddings)
        |SELECT vec_id, cos_sim, rn FROM (
        |  SELECT vec_id, cos_sim,
        |    ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 10 ORDER BY rn""".stripMargin,
    "q_sim_pairs" ->
      """WITH ex AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |         UNNEST(embedding) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        |         / COUNT(*) AS DECIMAL(18,8)) AS c
        |  FROM ex GROUP BY label, pos),
        |pairs AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    CAST(SUM(a.c * b.c) AS DOUBLE) AS dot,
        |    CAST(SUM(a.c * a.c) AS DOUBLE) AS na,
        |    CAST(SUM(b.c * b.c) AS DOUBLE) AS nb
        |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT la, lb, ROUND(dot / SQRT(na * nb), 4) AS cos_sim
        |FROM pairs ORDER BY la, lb""".stripMargin,
    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, n_chars, label,
        | len(embedding) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS emb0
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin)
}
