package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening: two iterative-method entries
  * expressed as the house unrolled-contraction patterns —
  * exponential-smoothing model selection as ONE lag-grid join (the
  * q_adstock Koyck shape with the smoothing constant as a grid
  * dimension), and multi-outlier removal as three unrolled
  * argmax-and-exclude rounds (the q_gmm_em unrolled-iteration shape
  * applied to Rosner's generalized ESD). */
object SesEsdQueries extends QueryFamily {

  /** ONE shared weight construction feeding BOTH engines (ADVICE
    * r11): scala BigDecimal(double) rounds the shortest decimal
    * repr where java new BigDecimal(double) rounds the exact binary
    * expansion — identical at 8dp for the current 24 values, but a
    * near-tie from a future alpha/lag change could round differently
    * and break the hash gate. Both the DataFrame grid literal and
    * the oracle SQL literal are this exact string. */
  private def sesWeight(a: Double, j: Int): String =
    new java.math.BigDecimal(a * math.pow(1.0 - a, j - 1.0))
      .setScale(8, java.math.RoundingMode.HALF_UP).toPlainString

  /** q_ses_fit — simple-exponential-smoothing fit report over the
    * daily revenue series: for each smoothing constant α ∈ {0.2,
    * 0.5, 0.8}, the one-step-ahead forecast is the 8-lag truncated
    * geometric ŷ_t = Σ_{j=1..8} α(1−α)^{j−1} y_{t−j}, assembled for
    * EVERY target day by one join against a 24-row broadcast
    * (α, offset, weight) grid — never a sequential filter — and
    * scored by SSE over the days with a full lag history. The grid
    * weights are precomputed scalars shipped verbatim into both
    * engines (the q_adstock λ-grid convention). */
  def sesFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The ENTIRE pipeline stays in exact DECIMAL space: α = 0.5 makes
    // the grid weights dyadic, so double products like w·y terminate
    // exactly at the 9th decimal — TRUE rounding ties that Spark
    // (exact-binary HALF_UP) and DuckDB (scaled-multiply) resolve
    // differently ~1000 times at sf0.01. Weights are DEFINED at 8dp
    // (decimal literals), revenue is scaled to 100k units by an exact
    // decimal multiply, and every product/round below is a decimal op
    // — bit-identical across engines by construction.
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(round(col("o_totalprice"), 2).cast("decimal(18,2)"))
        * lit(new java.math.BigDecimal("0.00001")))
        .cast("decimal(14,7)").as("y"))
    val gridRows = for {
      a <- Seq(0.2, 0.5, 0.8); j <- 1 to 8
    } yield (a, j, BigDecimal(sesWeight(a, j)))
    val grid = gridRows.toDF("alpha", "j", "w")
      .select(col("alpha"), col("j"), col("w").cast("decimal(10,8)"))
    val fc = daily.crossJoin(broadcast(grid))
      .select(col("alpha"), date_add(col("day"), col("j")).as("tday"),
        round(col("w") * col("y"), 8).as("wy"))
      .groupBy(col("alpha"), col("tday"))
      .agg(count(lit(1)).as("k"),
        sum(col("wy")).cast("decimal(16,8)").as("f"))
      .filter(col("k") === 8)
    val scored = fc.join(daily, col("tday") === col("day"))
      .withColumn("e", (col("f") - col("y")).cast("decimal(18,8)"))
      // (18,8): square is (37,16) — still exact under Spark's 38-digit
      // cap, and the overflow-to-null threshold moves from |e|>=1e6
      // (a reachable daily-revenue scale) to 1e10 (unreachable); the
      // oracle's DECIMAL(19,8) twin never overflows in range
    scored.groupBy(col("alpha"))
      .agg(count(lit(1)).as("n_days"),
        sum(round(col("e") * col("e"), 8)).as("sse_d"))
      .select(col("alpha"), col("n_days"),
        round(col("sse_d"), 6).cast("double").as("sse"),
        round(sqrt(col("sse_d").cast("double") / col("n_days")), 6)
          .as("rmse"))
      .orderBy(col("alpha"))
  }

  val sesFitOracle: String = {
    val gridRows = (for {
      a <- Seq(0.2, 0.5, 0.8); j <- 1 to 8
    } yield {
      s"SELECT CAST($a AS DOUBLE) AS alpha, $j AS j, " +
        s"CAST(${sesWeight(a, j)} AS DECIMAL(10,8)) AS w"
    }).mkString(" UNION ALL ")
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
       |        AS DECIMAL(18,2))
       |      * CAST(0.00001 AS DECIMAL(6,5)) AS DECIMAL(14,7)) AS y
       |  FROM orders GROUP BY 1),
       |grid AS ($gridRows),
       |fc AS (SELECT alpha, tday, CAST(sum(wy) AS DECIMAL(16,8)) AS f
       |  FROM (SELECT alpha, day + j AS tday, round(w*y, 8) AS wy
       |    FROM daily, grid) t
       |  GROUP BY alpha, tday HAVING count(*) = 8),
       |scored AS (SELECT alpha,
       |    CAST(f - y AS DECIMAL(19,8)) AS e
       |  FROM fc JOIN daily ON daily.day = fc.tday)
       |SELECT alpha, count(*) AS n_days,
       |  CAST(round(sum(round(e*e, 8)), 6) AS DOUBLE) AS sse,
       |  round(sqrt(CAST(sum(round(e*e, 8)) AS DOUBLE)/count(*)), 6)
       |    AS rmse
       |FROM scored GROUP BY alpha ORDER BY alpha""".stripMargin
  }

  /** q_esd_outliers — Rosner's generalized ESD as THREE unrolled
    * remove-and-retest rounds over the event values: each round is
    * one decimal moment fold (n, Σv, Σv²) broadcast back, one
    * TakeOrdered argmax of the studentized deviation R = |v − μ|/s
    * (ties → smaller event_id), and an anti-join exclusion of the
    * removed point — never a driver loop, never a global sort. The
    * per-round frame is checkpointed so the fact is scanned once.
    * Flag = R > 3.0 (fixed practical threshold — the shelf's
    * critical-value convention keeps cross-engine t-quantiles out;
    * compare q_grubbs, which tests only the single largest). */
  def esdOutliers(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val base0 = events(s, d)
      .filter(col("value").isNotNull) // defensive: a null would sort differently across engines
      .select(col("event_id"), round(col("value"), 6).as("v"))
      .truncatedCheckpoint()
    def oneRound(base: DataFrame, roundNo: Int): (DataFrame, DataFrame) = {
      val m = base.agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(24,6)")).as("sv"),
          sum(round(col("v") * col("v"), 8).cast("decimal(30,8)")).as("svv"))
        .select(col("n"),
          round(col("sv").cast("double") / col("n"), 8).as("mean"),
          round(sqrt((col("svv").cast("double")
              - col("n") * (round(col("sv").cast("double") / col("n"), 8)
                * round(col("sv").cast("double") / col("n"), 8)))
            / (col("n") - 1)), 8).as("sd"))
      // sd = 0 (constant slice) guards to NULL: Spark 0/0 is NULL
      // while DuckDB yields nan, so the degenerate round must
      // short-circuit identically; NULL r_stat sorts last in both
      // engines' DESC default and flags 0 via the three-valued >
      val cand = base.crossJoin(broadcast(m))
        .withColumn("r_stat", when(col("sd") =!= 0.0,
          round(abs(col("v") - col("mean")) / col("sd"), 8)))
        .orderBy(col("r_stat").desc_nulls_last, col("event_id"))
        .limit(1)
        .select(lit(roundNo).as("round_no"), col("event_id"), col("v"),
          col("r_stat"),
          when(col("r_stat") > 3.0, 1).otherwise(0).as("flagged"))
      val rest = base.join(broadcast(cand.select(col("event_id").as("x_id"))),
          col("event_id") === col("x_id"), "left_anti")
        .truncatedCheckpoint()
      (cand, rest)
    }
    val (c1, b1) = oneRound(base0, 1)
    val (c2, b2) = oneRound(b1, 2)
    val (c3, _) = oneRound(b2, 3)
    c1.union(c2).union(c3).orderBy(col("round_no"))
  }

  val esdOutliersOracle: String = {
    def roundSql(base: String, i: Int): String =
      s"""m$i AS (SELECT count(*) AS n,
         |    round(CAST(sum(CAST(v AS DECIMAL(24,6))) AS DOUBLE)
         |      /count(*), 8) AS mean,
         |    round(sqrt((CAST(sum(CAST(round(v*v, 8) AS DECIMAL(30,8)))
         |        AS DOUBLE)
         |      - count(*)*(round(CAST(sum(CAST(v AS DECIMAL(24,6)))
         |          AS DOUBLE)/count(*), 8)
         |        *round(CAST(sum(CAST(v AS DECIMAL(24,6)))
         |          AS DOUBLE)/count(*), 8)))
         |      /(count(*) - 1)), 8) AS sd
         |  FROM $base),
         |c$i AS (SELECT $i AS round_no, event_id, v,
         |    CASE WHEN sd <> 0
         |      THEN round(abs(v - mean)/sd, 8) END AS r_stat,
         |    CASE WHEN sd <> 0 AND round(abs(v - mean)/sd, 8) > 3.0
         |      THEN 1 ELSE 0 END AS flagged
         |  FROM $base, m$i
         |  ORDER BY r_stat DESC NULLS LAST, event_id LIMIT 1)""".stripMargin
    s"""WITH b1 AS (SELECT event_id, round(value, 6) AS v FROM events
       |  WHERE value IS NOT NULL),
       |${roundSql("b1", 1)},
       |b2 AS (SELECT * FROM b1
       |  WHERE event_id NOT IN (SELECT event_id FROM c1)),
       |${roundSql("b2", 2)},
       |b3 AS (SELECT * FROM b2
       |  WHERE event_id NOT IN (SELECT event_id FROM c2)),
       |${roundSql("b3", 3)}
       |SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |UNION ALL SELECT * FROM c3 ORDER BY round_no""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ses_fit" -> (sesFit _),
    "q_esd_outliers" -> (esdOutliers _))

  val oracle: Map[String, String] = Map(
    "q_ses_fit" -> sesFitOracle,
    "q_esd_outliers" -> esdOutliersOracle)
}
