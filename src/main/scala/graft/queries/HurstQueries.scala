package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #68: the Hurst exponent by rescaled-range (R/S)
  * analysis — the classic long-memory diagnostic for a series
  * (H ≈ 0.5 random walk, > 0.5 persistent, < 0.5 mean-reverting) —
  * estimated per event type over the daily value series at block
  * scales 8/16/32 days, ln(R/S) regressed on ln(scale) in closed
  * form.
  *
  * Scale notes (100 TB): everything happens on the bounded
  * (type, day) grid; the scale fan-out is a 3-way explode of that
  * grid; every window is partitioned by (type, scale, block) —
  * thousands of small independent partitions. Block statistics,
  * cumulative deviations, and the final 3-point OLS are keyed decimal
  * folds. No partition-less windows.
  *
  * Determinism: daily values pinned at 4dp; block means at 8dp;
  * deviations at 4dp accumulate in exact DECIMAL running sums (order
  * independent); R/S ratios at 8dp; ln on 8dp-rounded arguments; the
  * block length literals make ln(8/16/32) identical cross-engine. */
object HurstQueries extends QueryFamily {

  /** q_hurst — per type: mean R/S at block scales 8/16/32 days
    * (complete blocks only) and the fitted Hurst exponent. */
  def hurst(s: SparkSession, d: String): DataFrame = {
    val wDay = Window.partitionBy(col("t")).orderBy(col("day"))
    val base = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
      .withColumn("rn", row_number().over(wDay))
      .withColumn("sc", explode(array(lit(8), lit(16), lit(32))))
      .withColumn("blk",
        floor((col("rn") - lit(1)).cast("double") / col("sc").cast("double"))
          .cast("long"))
    val stats = base.groupBy(col("t"), col("sc"), col("blk")).agg(
      count(lit(1)).as("nb"),
      round(sum(col("v").cast("decimal(18,4)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("mean"))
    val full = base.join(broadcast(stats), Seq("t", "sc", "blk"))
      .filter(col("nb") === col("sc"))
      .withColumn("dev", round(col("v") - col("mean"), 4))
    val wCum = Window.partitionBy(col("t"), col("sc"), col("blk"))
      .orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = full.withColumn("cumdev",
      sum(col("dev").cast("decimal(18,4)")).over(wCum))
    val perBlock = cum.groupBy(col("t"), col("sc"), col("blk")).agg(
      (max(col("cumdev")) - min(col("cumdev"))).cast("double").as("r"),
      sqrt(round(sum(round(col("dev") * col("dev"), 4)
          .cast("decimal(27,4)")).cast("double")
        / max(col("sc")).cast("double"), 8)).as("sd"))
    val rs = perBlock.filter(col("sd") > 0.0)
      .select(col("t"), col("sc"), round(col("r") / col("sd"), 8).as("rs"))
    val perScale = rs.groupBy(col("t"), col("sc")).agg(
      count(lit(1)).as("n_blocks"),
      round(sum(col("rs").cast("decimal(27,8)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("rs_mean"))
    val pts = perScale.select(col("t"),
      round(log(col("sc").cast("double")), 8).as("x"),
      round(log(col("rs_mean")), 8).as("y"))
    val m = pts.groupBy(col("t")).agg(
      count(lit(1)).as("n_scales"),
      sum(col("x").cast("decimal(27,8)")).as("sx"),
      sum(col("y").cast("decimal(27,8)")).as("sy"),
      sum(round(col("x") * col("y"), 8).cast("decimal(27,8)")).as("sxy"),
      sum(round(col("x") * col("x"), 8).cast("decimal(27,8)")).as("sxx"))
    val nD = col("n_scales").cast("double")
    def d1(c: String) = col(c).cast("double")
    val den = nD * d1("sxx") - d1("sx") * d1("sx")
    m.select(col("t"), col("n_scales"),
        when(den === lit(0.0), lit(null).cast("double"))
          .otherwise(round((nD * d1("sxy") - d1("sx") * d1("sy")) / den, 6))
          .as("hurst"))
      .orderBy(col("t"))
  }

  val hurstOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |base AS (SELECT t, v,
      |    row_number() OVER (PARTITION BY t ORDER BY day) AS rn
      |  FROM daily),
      |fan AS (SELECT t, v, rn, s.sc,
      |    CAST(floor(CAST(rn - 1 AS DOUBLE)/CAST(s.sc AS DOUBLE))
      |      AS BIGINT) AS blk
      |  FROM base CROSS JOIN (VALUES (8), (16), (32)) AS s(sc)),
      |stats AS (SELECT t, sc, blk, CAST(count(*) AS BIGINT) AS nb,
      |    round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS mean
      |  FROM fan GROUP BY 1, 2, 3),
      |full_b AS (SELECT fan.t, fan.sc, fan.blk, rn,
      |    round(v - mean, 4) AS dev
      |  FROM fan JOIN stats ON stats.t = fan.t AND stats.sc = fan.sc
      |    AND stats.blk = fan.blk
      |  WHERE nb = fan.sc),
      |cum AS (SELECT t, sc, blk, dev,
      |    sum(CAST(dev AS DECIMAL(18,4))) OVER (PARTITION BY t, sc, blk
      |      ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cumdev
      |  FROM full_b),
      |perblock AS (SELECT t, sc, blk,
      |    CAST(max(cumdev) - min(cumdev) AS DOUBLE) AS r,
      |    sqrt(round(CAST(sum(CAST(round(dev*dev, 4) AS DECIMAL(27,4)))
      |        AS DOUBLE)/CAST(max(sc) AS DOUBLE), 8)) AS sd
      |  FROM cum GROUP BY 1, 2, 3),
      |rs AS (SELECT t, sc, round(r/sd, 8) AS rs
      |  FROM perblock WHERE sd > 0.0),
      |perscale AS (SELECT t, sc, CAST(count(*) AS BIGINT) AS n_blocks,
      |    round(CAST(sum(CAST(rs AS DECIMAL(27,8))) AS DOUBLE)
      |      /CAST(count(*) AS DOUBLE), 8) AS rs_mean
      |  FROM rs GROUP BY 1, 2),
      |pts AS (SELECT t, round(ln(CAST(sc AS DOUBLE)), 8) AS x,
      |    round(ln(rs_mean), 8) AS y
      |  FROM perscale),
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_scales,
      |    CAST(sum(CAST(x AS DECIMAL(27,8))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(27,8))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x*y, 8) AS DECIMAL(27,8))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(x*x, 8) AS DECIMAL(27,8))) AS DOUBLE) AS sxx
      |  FROM pts GROUP BY 1)
      |SELECT t, n_scales,
      |  CASE WHEN CAST(n_scales AS DOUBLE)*sxx - sx*sx = 0.0 THEN NULL
      |    ELSE round((CAST(n_scales AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(n_scales AS DOUBLE)*sxx - sx*sx), 6) END AS hurst
      |FROM m ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hurst" -> (hurst _))

  val oracle: Map[String, String] = Map(
    "q_hurst" -> hurstOracle)
}
