package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #119: the matrix profile (Yeh et al., ICDM'16)
  * over each type's daily value series at window length 7 — the
  * all-pairs nearest-neighbor distance structure whose argmin is the
  * MOTIF (the most conserved repeated week) and whose arg-max-of-min
  * is the DISCORD (the most anomalous week), the modern time-series
  * primitive behind motif/anomaly mining.
  *
  * The Spark-first shape: subsequences are 7-element arrays from
  * type-PARTITIONED frame collects (the q_hampel idiom); candidate
  * pairs are the type-blocked self-join with the standard
  * |i−j| ≥ w exclusion zone; distances explode the pair back to 7
  * (pos, value) rows and fold as exact decimal sums — so the whole
  * profile is joins + keyed aggregations, not the sequential STAMP
  * scan. The per-window nearest neighbor is a min over the pair
  * list in BOTH directions (union of the triangle and its swap).
  *
  * Determinism (D1–D5): daily values 4dp; per-dim squared diffs 4dp
  * into decimal sums; all argmins break ties on window indices. */
object MatrixProfileQueries extends QueryFamily {

  private val W = 7

  /** q_matrix_profile — per type: the motif pair and the discord. */
  def matrixProfile(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
    val d0 = daily.groupBy(col("t")).agg(min(col("day")).as("dmin"))
    val idx = daily.join(broadcast(d0), "t")
      .select(col("t"), datediff(col("day"), col("dmin")).as("i"),
        col("v"))
    val wspec = Window.partitionBy(col("t")).orderBy(col("i"))
      .rowsBetween(0, W - 1)
    // per-(type, day) window frame feeds both sides of the pair join;
    // the pair grid feeds motif + both discord directions —
    // materialize each once (round-8 scan gate: was 12 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val win = idx
      .withColumn("arr", collect_list(col("v")).over(wspec))
      .filter(size(col("arr")) === W)
      .select(col("t"), col("i"), col("arr"))
      .truncatedCheckpoint()
    val a = win.toDF("t", "i1", "arr1")
    val b = win.toDF("t2", "i2", "arr2")
    val pairs = a.join(b, col("t") === col("t2")
        && col("i2") >= col("i1") + W)
      .select(col("t"), col("i1"), col("i2"),
        posexplode(col("arr1")).as(Seq("pos", "va")),
        col("arr2"))
      .select(col("t"), col("i1"), col("i2"),
        round((col("va") - element_at(col("arr2"), col("pos") + 1))
          * (col("va") - element_at(col("arr2"), col("pos") + 1)), 4)
          .as("dd"))
      .groupBy(col("t"), col("i1"), col("i2"))
      .agg(round(sum(col("dd").cast("decimal(18,4)")).cast("double"), 4)
        .as("d2"))
      .truncatedCheckpoint()
    val motif = pairs
      .withColumn("rn", row_number().over(Window.partitionBy(col("t"))
        .orderBy(col("d2"), col("i1"), col("i2"))))
      .filter(col("rn") === 1)
      .select(col("t"), col("i1").as("motif_i"),
        col("i2").as("motif_j"), col("d2").as("motif_d2"))
    val bothDirs = pairs.select(col("t"), col("i1").as("wi"), col("d2"))
      .unionByName(pairs.select(col("t"), col("i2").as("wi"), col("d2")))
    val nn = bothDirs.groupBy(col("t"), col("wi"))
      .agg(min(col("d2")).as("nn_d2"))
    val discord = nn
      .withColumn("rn", row_number().over(Window.partitionBy(col("t"))
        .orderBy(col("nn_d2").desc, col("wi"))))
      .filter(col("rn") === 1)
      .select(col("t"), col("wi").as("discord_i"),
        col("nn_d2").as("discord_d2"))
    motif.join(discord, "t").orderBy(col("t"))
  }

  val matrixProfileOracle: String =
    s"""WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
       |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
       |      AS v
       |  FROM events GROUP BY 1, 2),
       |d0 AS (SELECT t, min(day) AS dmin FROM daily GROUP BY t),
       |idx AS (SELECT daily.t, date_diff('day', dmin, day) AS i, v
       |  FROM daily JOIN d0 ON d0.t = daily.t),
       |win AS (SELECT t, i, arr FROM (SELECT t, i,
       |      list(v) OVER (PARTITION BY t ORDER BY i
       |        ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS arr
       |    FROM idx) x
       |  WHERE len(arr) = $W),
       |pairs AS (SELECT t, i1, i2,
       |    round(CAST(sum(CAST(round((va - arr2[pos])*(va - arr2[pos]),
       |      4) AS DECIMAL(18,4))) AS DOUBLE), 4) AS d2
       |  FROM (SELECT w1.t, w1.i AS i1, w2.i AS i2,
       |      generate_subscripts(w1.arr, 1) AS pos,
       |      unnest(w1.arr) AS va, w2.arr AS arr2
       |    FROM win w1 JOIN win w2
       |      ON w1.t = w2.t AND w2.i >= w1.i + $W) e
       |  GROUP BY t, i1, i2),
       |motif AS (SELECT t, i1 AS motif_i, i2 AS motif_j,
       |    d2 AS motif_d2
       |  FROM (SELECT *, row_number() OVER (PARTITION BY t
       |      ORDER BY d2, i1, i2) AS rn FROM pairs) p
       |  WHERE rn = 1),
       |bd AS (SELECT t, i1 AS wi, d2 FROM pairs
       |  UNION ALL SELECT t, i2 AS wi, d2 FROM pairs),
       |nn AS (SELECT t, wi, min(d2) AS nn_d2 FROM bd GROUP BY 1, 2),
       |discord AS (SELECT t, wi AS discord_i, nn_d2 AS discord_d2
       |  FROM (SELECT *, row_number() OVER (PARTITION BY t
       |      ORDER BY nn_d2 DESC, wi) AS rn FROM nn) q
       |  WHERE rn = 1)
       |SELECT motif.t, motif_i, motif_j, motif_d2,
       |  discord_i, discord_d2
       |FROM motif JOIN discord ON discord.t = motif.t
       |ORDER BY motif.t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_matrix_profile" -> (matrixProfile _))

  val oracle: Map[String, String] = Map(
    "q_matrix_profile" -> matrixProfileOracle)
}
