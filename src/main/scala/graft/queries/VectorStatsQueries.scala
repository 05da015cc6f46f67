package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #13: distributed vector statistics and weighted
  * order statistics — cluster inertia over the embedding corpus,
  * per-dimension variance profiling (feature selection), and grouped
  * weighted quantiles.
  *
  * Scale notes (100 TB): inertia posexplodes vectors to (label, dim)
  * terms, joins the per-(label, dim) centroid back BY KEY (a
  * |labels|·|dims| broadcast — tiny), and re-aggregates per vector
  * then per label: no vector ever meets another vector. Dimension
  * variance is one contraction to |dims| rows. The weighted quantile
  * runs cumulative-weight windows per group (parallel across groups;
  * the global variant q_weighted_median uses the PrefixOps
  * contraction instead).
  *
  * Determinism: float components cast to double then fixed-scale
  * DECIMAL before every sum (q_sim_pairs convention); centroids
  * pinned at DECIMAL(18,8); cumulative weights are exact integers.
  */
object VectorStatsQueries extends QueryFamily {

  /** q_emb_inertia — k-means-style quality per label: centroid at
    * DECIMAL(18,8), per-vector squared distance to its label
    * centroid, label-level inertia (mean squared distance) and mean
    * vector norm — the "how tight are my clusters" readout next to
    * q_kmeans_assign. */
  def embInertia(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d).select(col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vd", col("v").cast("double"))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("vd").cast("decimal(20,10)")).cast("double") /
        count(lit(1))).cast("decimal(18,8)").as("c"))
    val perVec = ex.join(broadcast(cent), Seq("label", "pos"))
      .withColumn("dc", col("vd") - col("c").cast("double"))
      .groupBy(col("label"), col("vec_id"))
      .agg(
        sum(round(col("dc") * col("dc"), 10).cast("decimal(20,10)"))
          .as("d2"),
        sum(round(col("vd") * col("vd"), 10).cast("decimal(20,10)"))
          .as("n2"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2")).cast("double") / count(lit(1)), 6)
          .as("inertia"),
        round(sum(round(sqrt(col("n2").cast("double")), 8)
          .cast("decimal(18,8)")).cast("double") / count(lit(1)), 6)
          .as("mean_norm"))
      .orderBy(col("label"))
  }

  val embInertiaOracle: String =
    """WITH ex AS (SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS vd
      |  FROM embeddings),
      |cent AS (SELECT label, pos,
      |    CAST(CAST(SUM(CAST(vd AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*)
      |      AS DECIMAL(18,8)) AS c
      |  FROM ex GROUP BY 1, 2),
      |pv AS (SELECT ex.label, ex.vec_id,
      |    sum(CAST(round((ex.vd - CAST(cent.c AS DOUBLE)) *
      |      (ex.vd - CAST(cent.c AS DOUBLE)), 10) AS DECIMAL(20,10)))
      |      AS d2,
      |    sum(CAST(round(ex.vd * ex.vd, 10) AS DECIMAL(20,10))) AS n2
      |  FROM ex JOIN cent ON cent.label = ex.label AND cent.pos = ex.pos
      |  GROUP BY 1, 2)
      |SELECT label, count(*) AS n_vecs,
      |  round(CAST(sum(d2) AS DOUBLE)/count(*), 6) AS inertia,
      |  round(CAST(sum(CAST(round(sqrt(CAST(n2 AS DOUBLE)), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE)/count(*), 6) AS mean_norm
      |FROM pv GROUP BY label ORDER BY label""".stripMargin

  /** q_dim_variance — per-dimension variance across the corpus (the
    * feature-selection profile: near-constant dimensions carry no
    * signal), ranked by variance — one |dims|-row contraction. */
  def dimVariance(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d).select(
      posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vd", col("v").cast("double"))
    val stats = ex.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("vd").cast("decimal(20,10)")).cast("double").as("sv"),
        sum(round(col("vd") * col("vd"), 10).cast("decimal(20,10)"))
          .cast("double").as("svv"))
      .select(col("pos"), col("n"),
        round(col("sv") / col("n"), 8).as("mean_v"),
        round((col("svv") - col("sv") * col("sv") / col("n")) / col("n"), 8)
          .as("var_v"))
    val w = Window.orderBy(col("var_v").desc, col("pos"))
    stats.withColumn("var_rank", row_number().over(w))
      .orderBy(col("pos"))
  }

  val dimVarianceOracle: String =
    """WITH ex AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS vd
      |  FROM embeddings),
      |stats AS (SELECT pos, count(*) AS n,
      |    CAST(sum(CAST(vd AS DECIMAL(20,10))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(round(vd*vd, 10) AS DECIMAL(20,10))) AS DOUBLE)
      |      AS svv
      |  FROM ex GROUP BY 1),
      |m AS (SELECT pos, n,
      |    round(sv/n, 8) AS mean_v,
      |    round((svv - sv*sv/n)/n, 8) AS var_v
      |  FROM stats)
      |SELECT pos, n, mean_v, var_v,
      |  CAST(row_number() OVER (ORDER BY var_v DESC, pos) AS INTEGER)
      |    AS var_rank
      |FROM m ORDER BY pos""".stripMargin

  /** q_weighted_quantile — weighted median of price per return flag,
    * weighted by quantity: cumulative-weight windows per group
    * (parallel across groups), first value whose running weight
    * covers half the group total — the grouped sibling of the global
    * q_weighted_median (which contracts through PrefixOps
    * instead). */
  def weightedQuantile(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(col("l_returnflag").as("g"),
      col("l_extendedprice").as("x"),
      col("l_quantity").cast("long").as("wt"))
    val tot = base.groupBy(col("g")).agg(sum(col("wt")).as("tw"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("x"), col("wt"))
      .rowsBetween(Window.unboundedPreceding, 0)
    base
      .withColumn("cw", sum(col("wt")).over(w))
      .join(broadcast(tot), "g")
      .where(col("cw") * 2 >= col("tw"))
      .groupBy(col("g"))
      .agg(max(col("tw")).as("total_weight"),
        min(col("x")).as("weighted_median"))
      .orderBy(col("g"))
  }

  val weightedQuantileOracle: String =
    """WITH base AS (SELECT l_returnflag AS g, l_extendedprice AS x,
      |    CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |tot AS (SELECT g, CAST(sum(wt) AS BIGINT) AS tw
      |  FROM base GROUP BY 1),
      |cum AS (SELECT base.g, base.x, tot.tw,
      |    CAST(sum(base.wt) OVER (PARTITION BY base.g
      |      ORDER BY base.x, base.wt
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cw
      |  FROM base JOIN tot ON tot.g = base.g)
      |SELECT g, max(tw) AS total_weight,
      |  min(x) AS weighted_median
      |FROM cum WHERE cw * 2 >= tw
      |GROUP BY g ORDER BY g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_inertia" -> (embInertia _),
    "q_dim_variance" -> (dimVariance _),
    "q_weighted_quantile" -> (weightedQuantile _))

  val oracle: Map[String, String] = Map(
    "q_emb_inertia" -> embInertiaOracle,
    "q_dim_variance" -> dimVarianceOracle,
    "q_weighted_quantile" -> weightedQuantileOracle)
}
