package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #83: robust association and sequential testing —
  * the winsorized Pearson correlation (caps at the 5th/95th
  * percentiles before the moment fold — the outlier-immune r the
  * robust shelf was missing), and the SPRT (sequential probability
  * ratio test) boundary monitor over the daily purchase-rate series
  * (the always-valid alternative to fixed-horizon q_ab_test).
  *
  * Scale notes (100 TB): winsorize caps come from the house
  * percentile_disc contraction (type-partitioned cum windows over
  * distinct values) broadcast back into one capped moment fold; SPRT
  * accumulates its daily log-likelihood-ratio increments with ONE
  * [[graft.operators.PrefixOps]] pass over the bounded calendar.
  *
  * Determinism: caps are exact domain values; capped products round
  * at 6dp into decimal sums; ln on 8dp-rounded rate ratios with both
  * hypothesis rates as exact literals; final 6dp. */
object RobustSeqQueries extends QueryFamily {

  /** q_winsorized_corr — per event type: Pearson r of (value, props
    * JSON "k" field) before and after 5%/95% winsorization of
    * both coordinates. */
  def winsorizedCorr(s: SparkSession, d: String): DataFrame = {
    // narrow 3-col projection feeds both winsor-cap probes (two
    // passes each) + the capped fold — materialize once (round-8
    // scan gate: was 5 events scans re-running the JSON extraction)
    import graft.operators.CacheOps.CheckpointSyntax
    val base = events(s, d).select(col("event_type").as("t"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("y").isNotNull)
      .truncatedCheckpoint()
    def caps(c: String): DataFrame = {
      val byVal = base.groupBy(col("t"), col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("t")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byVal.withColumn("cum", sum(col("cnt")).over(w))
      val n = base.groupBy(col("t")).agg(count(lit(1)).as("n"))
      cum.join(broadcast(n), "t")
        .groupBy(col("t"))
        .agg(min(when(col("cum").cast("double") >=
            lit(0.05) * col("n").cast("double"), col("v")))
            .as(s"lo_$c"),
          min(when(col("cum").cast("double") >=
            lit(0.95) * col("n").cast("double"), col("v")))
            .as(s"hi_$c"))
    }
    val capped = base
      .join(broadcast(caps("x")), "t").join(broadcast(caps("y")), "t")
      .select(col("t"),
        least(greatest(col("x"), col("lo_x")), col("hi_x")).as("xw"),
        least(greatest(col("y"), col("lo_y")), col("hi_y")).as("yw"),
        col("x"), col("y"))
    def pearson(xc: String, yc: String): org.apache.spark.sql.Column = {
      val n = count(lit(1)).cast("double")
      val sx = sum(col(xc).cast("decimal(18,6)")).cast("double")
      val sy = sum(col(yc).cast("decimal(18,6)")).cast("double")
      val sxy = sum(round(col(xc) * col(yc), 6).cast("decimal(27,6)"))
        .cast("double")
      val sxx = sum(round(col(xc) * col(xc), 6).cast("decimal(27,6)"))
        .cast("double")
      val syy = sum(round(col(yc) * col(yc), 6).cast("decimal(27,6)"))
        .cast("double")
      round((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
    }
    capped.groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        pearson("x", "y").as("r_raw"),
        pearson("xw", "yw").as("r_winsorized"))
      .orderBy(col("t"))
  }

  val winsorizedCorrOracle: String =
    """WITH base AS (SELECT event_type AS t, value AS x,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |nx AS (SELECT t, CAST(count(*) AS BIGINT) AS n
      |  FROM base GROUP BY 1),
      |cx AS (SELECT t,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.05*CAST(n AS DOUBLE)
      |      THEN v END) AS lo_x,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95*CAST(n AS DOUBLE)
      |      THEN v END) AS hi_x
      |  FROM (SELECT t, v, sum(cnt) OVER (PARTITION BY t ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM (SELECT t, x AS v, CAST(count(*) AS BIGINT) AS cnt
      |      FROM base GROUP BY 1, 2)) c JOIN nx USING (t)
      |  GROUP BY t),
      |cy AS (SELECT t,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.05*CAST(n AS DOUBLE)
      |      THEN v END) AS lo_y,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95*CAST(n AS DOUBLE)
      |      THEN v END) AS hi_y
      |  FROM (SELECT t, v, sum(cnt) OVER (PARTITION BY t ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM (SELECT t, y AS v, CAST(count(*) AS BIGINT) AS cnt
      |      FROM base GROUP BY 1, 2)) c JOIN nx USING (t)
      |  GROUP BY t),
      |capped AS (SELECT base.t, x, y,
      |    least(greatest(x, lo_x), hi_x) AS xw,
      |    least(greatest(y, lo_y), hi_y) AS yw
      |  FROM base JOIN cx ON cx.t = base.t JOIN cy ON cy.t = base.t)
      |SELECT t, CAST(count(*) AS BIGINT) AS n,
      |  round((CAST(count(*) AS DOUBLE)
      |      *CAST(sum(CAST(round(x*y, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |    - CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
      |      *CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE))
      |    /sqrt((CAST(count(*) AS DOUBLE)
      |        *CAST(sum(CAST(round(x*x, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
      |        *CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE))
      |      *(CAST(count(*) AS DOUBLE)
      |        *CAST(sum(CAST(round(y*y, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE)
      |        *CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE))), 6)
      |    AS r_raw,
      |  round((CAST(count(*) AS DOUBLE)
      |      *CAST(sum(CAST(round(xw*yw, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |    - CAST(sum(CAST(xw AS DECIMAL(18,6))) AS DOUBLE)
      |      *CAST(sum(CAST(yw AS DECIMAL(18,6))) AS DOUBLE))
      |    /sqrt((CAST(count(*) AS DOUBLE)
      |        *CAST(sum(CAST(round(xw*xw, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(xw AS DECIMAL(18,6))) AS DOUBLE)
      |        *CAST(sum(CAST(xw AS DECIMAL(18,6))) AS DOUBLE))
      |      *(CAST(count(*) AS DOUBLE)
      |        *CAST(sum(CAST(round(yw*yw, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      - CAST(sum(CAST(yw AS DECIMAL(18,6))) AS DOUBLE)
      |        *CAST(sum(CAST(yw AS DECIMAL(18,6))) AS DOUBLE))), 6)
      |    AS r_winsorized
      |FROM capped GROUP BY t
      |ORDER BY t""".stripMargin

  /** q_sprt — SPRT monitor on the daily purchase share against
    * H0: rate = 0.18 vs H1: rate = 0.22 (α = β = 0.05 →
    * boundaries ln(19) and −ln(19)): the running log-likelihood
    * ratio over the calendar off one distributed prefix pass, the
    * decision day (first boundary crossing) and final state. */
  def sprt(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "purchase", lit(1))).as("k"))
    // per-day LLR increment: k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))
    val lr1 = 0.20067069546215124 // ln(0.22/0.18) as exact double
    val lr0 = -0.050010420574661305 // ln(0.78/0.82) as exact double
    val inc = daily.select(col("day"), col("n"), col("k"),
      round(col("k").cast("double") * lit(lr1)
        + (col("n") - col("k")).cast("double") * lit(lr0), 8).as("llr_i"))
    val cum = graft.operators.PrefixOps.runningSums(inc,
      unix_date(col("day")), Seq(col("day")),
      Seq("llr" -> col("llr_i").cast("decimal(27,8)")))
    val bound = 2.9444389791664403 // ln(19) as exact double
    val flagged = cum.select(col("day"), col("n"), col("k"),
      col("llr").cast("double").as("llr"))
      .withColumn("state",
        when(col("llr") >= bound, "accept_h1")
          .when(col("llr") <= -bound, "accept_h0")
          .otherwise("continue"))
    val decision = flagged.filter(col("state") =!= "continue")
      .agg(min(col("day")).as("decision_day"))
    val last = flagged.agg(max(col("day")).as("last_day"))
    flagged.join(broadcast(last), col("day") === col("last_day"))
      .crossJoin(broadcast(decision))
      .select(col("day").as("final_day"), round(col("llr"), 6).as("llr"),
        col("state").as("final_state"), col("decision_day"))
  }

  val sprtOracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |inc AS (SELECT day, n, k,
      |    round(CAST(k AS DOUBLE)*0.20067069546215124
      |      + CAST(n - k AS DOUBLE)*(-0.050010420574661305), 8) AS llr_i
      |  FROM daily),
      |cum AS (SELECT day, n, k,
      |    CAST(sum(CAST(llr_i AS DECIMAL(27,8))) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) AS llr
      |  FROM inc),
      |flagged AS (SELECT day, llr,
      |    CASE WHEN llr >= 2.9444389791664403 THEN 'accept_h1'
      |      WHEN llr <= -2.9444389791664403 THEN 'accept_h0'
      |      ELSE 'continue' END AS state
      |  FROM cum),
      |decision AS (SELECT min(day) AS decision_day
      |  FROM flagged WHERE state <> 'continue'),
      |last AS (SELECT max(day) AS last_day FROM flagged)
      |SELECT day AS final_day, round(llr, 6) AS llr,
      |  state AS final_state, decision_day
      |FROM flagged, last, decision
      |WHERE day = last_day""".stripMargin

  /** q_hampel — the Hampel identifier over each type's daily value
    * series: a CENTERED 7-day rolling median and rolling MAD from
    * one frame-collect (the q_rolling_median array idiom extended
    * with a higher-order transform for the deviations — no second
    * window pass), flagging days where |v − med| > 3·1.4826·MAD.
    * Top-20 anomalies by robust z. All windows type-partitioned;
    * the frame arrays are ≤7 elements, so the per-row HOF work is
    * constant. */
  def hampel(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t")).orderBy(col("day")).rowsBetween(-3, 3)
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
    def medOf(arr: org.apache.spark.sql.Column) = {
      val sz = size(arr)
      val mid = ((sz + 1) / 2).cast("int")
      val lo = (sz / 2).cast("int")
      when(sz % 2 === 1, element_at(arr, mid))
        .otherwise((element_at(arr, lo) + element_at(arr, lo + 1))
          / lit(2.0))
    }
    val framed = daily
      .withColumn("frame", array_sort(collect_list(col("v")).over(w)))
      .withColumn("med", round(medOf(col("frame")), 6))
      .withColumn("devs", array_sort(transform(col("frame"),
        e => round(abs(e - col("med")), 6))))
      .withColumn("mad", round(medOf(col("devs")), 6))
    framed.filter(col("mad") > 0)
      .withColumn("rz",
        round(abs(col("v") - col("med"))
          / (lit(1.4826) * col("mad")), 4))
      .filter(col("rz") > 3.0)
      .select(col("t"), col("day"), col("v"), col("med"), col("mad"),
        col("rz"))
      .orderBy(col("rz").desc, col("t"), col("day"))
      .limit(20)
  }

  val hampelOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS v
      |  FROM events GROUP BY 1, 2),
      |framed AS (SELECT t, day, v,
      |    list_sort(list(v) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS frame
      |  FROM daily),
      |med AS (SELECT t, day, v, frame,
      |    round(CASE WHEN len(frame) % 2 = 1
      |      THEN frame[CAST((len(frame) + 1)/2 AS INT)]
      |      ELSE (frame[CAST(len(frame)/2 AS INT)]
      |        + frame[CAST(len(frame)/2 AS INT) + 1])/2.0 END, 6)
      |      AS med
      |  FROM framed),
      |dv AS (SELECT t, day, v, med,
      |    list_sort(list_transform(frame,
      |      e -> round(abs(e - med), 6))) AS devs
      |  FROM med),
      |md AS (SELECT t, day, v, med,
      |    round(CASE WHEN len(devs) % 2 = 1
      |      THEN devs[CAST((len(devs) + 1)/2 AS INT)]
      |      ELSE (devs[CAST(len(devs)/2 AS INT)]
      |        + devs[CAST(len(devs)/2 AS INT) + 1])/2.0 END, 6) AS mad
      |  FROM dv)
      |SELECT t, day, v, med, mad,
      |  round(abs(v - med)/(CAST(1.4826 AS DOUBLE)*mad), 4) AS rz
      |FROM md
      |WHERE mad > 0
      |  AND round(abs(v - med)/(CAST(1.4826 AS DOUBLE)*mad), 4) > 3.0
      |ORDER BY rz DESC, t, day LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winsorized_corr" -> (winsorizedCorr _),
    "q_sprt" -> (sprt _),
    "q_hampel" -> (hampel _))

  val oracle: Map[String, String] = Map(
    "q_winsorized_corr" -> winsorizedCorrOracle,
    "q_sprt" -> sprtOracle,
    "q_hampel" -> hampelOracle)
}
