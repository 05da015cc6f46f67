package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.expressions.FloatVecDot.dot

/** Round-3 widening #7: exact k-NN classification over the embedding
  * table, 2-D histogram (heatmap) binning, and rolling z-score
  * anomaly normalization.
  *
  * Scale notes (100 TB): k-NN against one query is a map-side scoring
  * pass + TakeOrderedAndProject (per-partition heap, k rows to the
  * driver) — the brute-force baseline q_ann_* prunes with LSH/IVF.
  * The 2-D histogram is a keyed count (|buckets| rows out). The
  * rolling z-score is a bounded ROWS frame per user — O(1) state per
  * row, natural-key partitioning.
  */
object AnalyticsExtraQueries extends QueryFamily {

  /** q_knn_classify — 5-NN majority-vote label prediction for query
    * vector 0 by exact cosine: the top-5 neighbors (excluding the
    * query itself), their votes, and the winning label (ties break to
    * the smaller label — spelled identically in both engines). */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot(col("embedding"), col("q_emb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("q_emb"), col("q_emb")))), 3).as("cos_sim"))
    // orderBy().limit(k) → TakeOrderedAndProject (per-partition heap
    // + driver merge) — the Ann.rankTopK idiom; the row_number window
    // then runs over the ≤5 surviving rows only
    val top = scored
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(5)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    top
      .withColumn("votes", count(lit(1)).over(Window.partitionBy(col("label"))))
      .withColumn("pred_label", first(col("label")).over(
        Window.orderBy(col("votes").desc, col("label"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("rn"), col("vec_id"), col("label"), col("cos_sim"),
        col("votes"), col("pred_label"))
      .orderBy(col("rn"))
  }

  val knnClassifyOracle: String =
    """WITH scored AS (
      |  SELECT vec_id, label,
      |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
      |       WHERE vec_id = 0)), 3) AS cos_sim
      |  FROM embeddings WHERE vec_id <> 0),
      |top AS (SELECT * FROM (
      |    SELECT vec_id, label, cos_sim,
      |      ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
      |    FROM scored) t
      |  WHERE rn <= 5),
      |v AS (SELECT *, count(*) OVER (PARTITION BY label) AS votes FROM top),
      |p AS (SELECT *, first_value(label) OVER (ORDER BY votes DESC, label
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS pred_label
      |  FROM v)
      |SELECT rn, vec_id, label, cos_sim, votes, pred_label
      |FROM p ORDER BY rn""".stripMargin

  /** q_histogram2d — heatmap binning: event counts over (value
    * bucket of width 50) × (hour of day), with each cell's share of
    * the total — exact integer bins, one keyed aggregate. */
  def histogram2d(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .select(floor(col("value") / 50.0).cast("long").as("v_bucket"),
        hour(col("ts2")).as("hr"))
      .groupBy(col("v_bucket"), col("hr"))
      .agg(count(lit(1)).as("n"))
    // grand total as a broadcast 1-row aggregate (no global window)
    val tot = cells.agg(sum(col("n")).as("tot"))
    cells.crossJoin(broadcast(tot))
      .withColumn("pct",
        round(col("n").cast("double") / col("tot").cast("double") * 100.0, 4))
      .drop("tot")
      .orderBy(col("v_bucket"), col("hr"))
  }

  val histogram2dOracle: String =
    """WITH c AS (SELECT CAST(floor(value / 50.0) AS BIGINT) AS v_bucket,
      |    CAST(hour(ts) AS INT) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT v_bucket, hr, n,
      |  round(CAST(n AS DOUBLE)/CAST(sum(n) OVER () AS DOUBLE)*100.0, 4) AS pct
      |FROM c ORDER BY v_bucket, hr""".stripMargin

  /** q_zscore_roll — rolling z-score over the trailing 20
    * observations per user: mean and sample variance from
    * DECIMAL-exact sum / sum-of-squares over the bounded frame
    * (order-free), σ via sqrt (IEEE correctly-rounded — engine-safe),
    * z = (x−μ)/σ. The streaming-friendly normalization for anomaly
    * feeds; NULL until the frame has ≥ 2 rows or when σ = 0. */
  def zscoreRoll(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id")).rowsBetween(-19, Window.currentRow)
    val n = count(lit(1)).over(w).cast("double")
    val sx = sum(col("value").cast("decimal(18,4)")).over(w).cast("double")
    val sxx = sum((col("value") * col("value")).cast("decimal(18,6)")).over(w)
      .cast("double")
    val mean = sx / n
    // clamp at 0: the decimal→double casts are exact but sx·sx/n is
    // not, so an all-equal frame can land a hair below zero — sqrt of
    // that would be NaN in both engines, which never survives a hash
    // compare. n ≥ 2 guards the 0/0 of a 1-row frame.
    val variance = greatest((sxx - sx * sx / n) / (n - 1.0), lit(0.0))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      .withColumn("mu", round(mean, 4))
      .withColumn("sigma", when(n >= 2.0, round(sqrt(variance), 4)))
      .withColumn("z", when(n >= 2.0, round((col("value") - mean) /
        nullif(sqrt(variance), lit(0.0)), 4)))
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
        col("mu"), col("sigma"), col("z"))
      .orderBy(col("event_id"))
  }

  val zscoreRollOracle: String =
    """WITH t AS (SELECT event_id, user_id, value,
      |    CAST(count(*) OVER w AS DOUBLE) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value*value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, round(value, 2) AS value,
      |  -- NOT round(): mu = (4dp-exact sum)/n with n ≤ 20 often has a
      |  -- SHORT exact decimal expansion that lands exactly on a .xxxx5
      |  -- rounding tie. Spark's round(double) rounds the shortest
      |  -- decimal repr (BigDecimal.valueOf) — ties go UP — while
      |  -- DuckDB's round() rounds the exact binary value (usually just
      |  -- below the tie) — DOWN. DuckDB's CAST(x AS DECIMAL) uses the
      |  -- repr like Spark does, so it is the cross-engine match.
      |  CAST(CAST(sx/n AS DECIMAL(18,4)) AS DOUBLE) AS mu,
      |  CASE WHEN n >= 2.0 THEN
      |    round(sqrt(greatest((sxx - sx*sx/n)/(n - 1.0), 0.0)), 4) END AS sigma,
      |  CASE WHEN n >= 2.0 THEN
      |    round((value - sx/n) /
      |      nullif(sqrt(greatest((sxx - sx*sx/n)/(n - 1.0), 0.0)), 0.0), 4)
      |  END AS z
      |FROM t ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_classify" -> (knnClassify _),
    "q_histogram2d" -> (histogram2d _),
    "q_zscore_roll" -> (zscoreRoll _))

  val oracle: Map[String, String] = Map(
    "q_knn_classify" -> knnClassifyOracle,
    "q_histogram2d" -> histogram2dOracle,
    "q_zscore_roll" -> zscoreRollOracle)
}
