package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #33: one full Lloyd iteration of k-means, graded
  * EXACTLY — deterministic init (centroids = vectors 0..k−1),
  * assignment → centroid update → reassignment, with per-cluster
  * populations and inertia before/after. The distributed ML training
  * loop in miniature: every phase is a keyed contraction, and because
  * distances are EXACT DECIMAL sums over the (vector, dim, cluster)
  * expansion, both engines compute bit-identical assignments — no
  * seeded randomness, no fp-reduction ambiguity (unlike the
  * no-oracle q_kmeans_assign capability row, which uses fp distance
  * folds).
  *
  * Scale notes (100 TB): the expansion is |vectors|·|dims|·k rows —
  * k-bounded (the classic map-side k-means shape); centroid updates
  * contract to k·|dims| rows; nothing global, no windows. A real
  * trainer iterates this exact dataflow.
  */
object KmeansStepQueries extends QueryFamily {

  private val K = 4

  /** q_kmeans_step — per cluster after one Lloyd step: initial and
    * updated population, initial and updated inertia (Σ d² of
    * members, exact decimals). Inertia must not increase — the
    * textbook monotonicity — pinned by WideningInvariantSpec. */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    // exploded components feed both assignment passes + both centroid
    // frames; the round-0 assignment feeds the update AND its own
    // inertia fold — materialize each once (round-8 scan gate: was 6
    // embeddings scans; per-iteration materialization is the
    // standard distributed k-means shape)
    import graft.operators.CacheOps.CheckpointSyntax
    val ex = embeddings(s, d).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"), col("v").cast("double").as("x"))
      .truncatedCheckpoint()
    // Round-12 (guide §2.3 "aggregate before you shuffle"): the
    // assignment used to join the K·|dims| centroid frame onto the
    // exploded components (×K row expansion) and aggregate the
    // (vec_id, cluster) pairs, then argmin-contract per vec_id — two
    // aggregates over K× the rows. Pivoting the centroids WIDE (one
    // row per dim, K centroid columns — K is the algorithm constant)
    // computes all K distance sums in ONE pass over the unexpanded
    // components, and the argmin becomes a row-local `least` over K
    // structs: ~4× less aggregation hashing and no ×K shuffle. Values
    // are unchanged — identical per-dim round/decimal arithmetic, and
    // least(struct(d2, cluster)…) is exactly min(struct(d2, cluster))
    // over the K rows (the isNotNull guard mirrors the old shape's
    // absent rows for an empty cluster: least skips NULL args).
    def assign(centWide: DataFrame): DataFrame = {
      val sums = (0 until K).map { k =>
        sum(round((col("x") - col(s"c_$k")) * (col("x") - col(s"c_$k")), 10)
          .cast("decimal(24,10)")).as(s"d2_$k")
      }
      val d2 = ex.join(broadcast(centWide), "pos")
        .groupBy(col("vec_id"))
        .agg(sums.head, sums.tail: _*)
      val candidates = (0 until K).map { k =>
        when(col(s"d2_$k").isNotNull,
          struct(col(s"d2_$k").as("d2"), lit(k).as("cluster")))
      }
      d2.select(col("vec_id"), least(candidates: _*).as("m"))
        .select(col("vec_id"), col("m.cluster").as("cluster"),
          col("m.d2").as("d2"))
    }
    def pivotWide(cent: DataFrame): DataFrame =
      cent.groupBy(col("pos")).agg(
        max(when(col("cluster") === 0, col("c"))).as("c_0"),
        (1 until K).map(k =>
          max(when(col("cluster") === k, col("c"))).as(s"c_$k")): _*)
    // round-10: filter the K seed vectors BEFORE the explode, directly
    // on the base scan — the PK range pin pushes into the parquet read
    // (K rows touched) and the bounded-frame proof holds structurally:
    // the unique-mode origin trace correctly refuses to cross the
    // Generate in the old ex.filter(...) shape (vec_id repeats per
    // dim there — the "≤ K rows" reading was never true of the
    // exploded frame; K·|dims| is bounded, but for the explode-of-a-
    // pinned-frame reason this shape now states explicitly)
    val cent0 = pivotWide(embeddings(s, d).filter(col("vec_id") < K)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id").cast("int").as("cluster"), col("pos"),
        col("v").cast("double").as("c")))
    val a0 = assign(cent0).truncatedCheckpoint()
    val cent1 = pivotWide(a0.select(col("vec_id"), col("cluster"))
      .join(ex, "vec_id")
      .groupBy(col("cluster"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(20,10)")).cast("double") /
        count(lit(1)).cast("double"), 8).as("c")))
    val a1 = assign(cent1)
    val s0 = a0.groupBy(col("cluster")).agg(count(lit(1)).as("n0"),
      round(sum(col("d2")).cast("double"), 4).as("inertia0"))
    val s1 = a1.groupBy(col("cluster")).agg(count(lit(1)).as("n1"),
      round(sum(col("d2")).cast("double"), 4).as("inertia1"))
    s0.join(s1, "cluster")
      .select(col("cluster"), col("n0"), col("n1"),
        col("inertia0"), col("inertia1"))
      .orderBy(col("cluster"))
  }

  val kmeansStepOracle: String =
    """WITH ex AS (SELECT vec_id,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, pos, x AS c
      |  FROM ex WHERE vec_id < 4),
      |d0 AS (SELECT ex.vec_id, cent0.cluster,
      |    sum(CAST(round((ex.x - cent0.c)*(ex.x - cent0.c), 10)
      |      AS DECIMAL(24,10))) AS d2
      |  FROM ex JOIN cent0 ON cent0.pos = ex.pos
      |  GROUP BY 1, 2),
      |a0 AS (SELECT vec_id, m[2] AS cluster, m[1] AS d2 FROM (
      |  SELECT vec_id, min((d2, cluster)) AS m FROM d0 GROUP BY 1)),
      |cent1 AS (SELECT a0.cluster, ex.pos,
      |    round(CAST(sum(CAST(ex.x AS DECIMAL(20,10))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 8) AS c
      |  FROM a0 JOIN ex ON ex.vec_id = a0.vec_id
      |  GROUP BY 1, 2),
      |d1 AS (SELECT ex.vec_id, cent1.cluster,
      |    sum(CAST(round((ex.x - cent1.c)*(ex.x - cent1.c), 10)
      |      AS DECIMAL(24,10))) AS d2
      |  FROM ex JOIN cent1 ON cent1.pos = ex.pos
      |  GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, m[2] AS cluster, m[1] AS d2 FROM (
      |  SELECT vec_id, min((d2, cluster)) AS m FROM d1 GROUP BY 1)),
      |s0 AS (SELECT cluster, count(*) AS n0,
      |    round(CAST(sum(d2) AS DOUBLE), 4) AS inertia0
      |  FROM a0 GROUP BY 1),
      |s1 AS (SELECT cluster, count(*) AS n1,
      |    round(CAST(sum(d2) AS DOUBLE), 4) AS inertia1
      |  FROM a1 GROUP BY 1)
      |SELECT s0.cluster, s0.n0, s1.n1, s0.inertia0, s1.inertia1
      |FROM s0 JOIN s1 ON s1.cluster = s0.cluster
      |ORDER BY s0.cluster""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans_step" -> (kmeansStep _))

  val oracle: Map[String, String] = Map(
    "q_kmeans_step" -> kmeansStepOracle)
}
