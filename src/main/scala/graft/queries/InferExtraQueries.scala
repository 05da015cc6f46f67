package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #61: inference completions — the two-proportion
  * z test and Poisson rate-ratio z (the categorical/count siblings of
  * q_welch_t), a deterministic subsampling confidence interval (the
  * hash-replicate uncertainty estimate — the reproducible stand-in
  * for bootstrap SEs), and the exact 10% trimmed mean (the
  * drop-the-tails robust location beside q_winsorize's clamping).
  *
  * Scale notes (100 TB): the z tests are single-scan conditional
  * counts; the subsample CI computes ALL B=20 hash replicates as
  * conditional DECIMAL sums in ONE pass (no data blowup — each
  * replicate is a deterministic md5 predicate on the row id), then
  * contracts the 1-row×B frame through stack; the trimmed mean rides
  * the contracted-value prefix (q_median_global shape) with exact
  * integer rank-overlap arithmetic. Nothing retains raw rows.
  *
  * Determinism: md5 replicate membership is content-addressed
  * (bucket rule identical in both engines); counts/rank overlaps are
  * exact integers; shares and means round at 6–8dp before
  * composition; sqrt takes 8dp-rounded arguments (D2).
  */
object InferExtraQueries extends QueryFamily {

  /** q_two_prop_z — weekend vs weekday purchase-share z test:
    * z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled p̂, all
    * shares 8dp-rounded off exact conditional counts. */
  def twoPropZ(s: SparkSession, d: String): DataFrame = {
    val t = events(s, d).select(
      (col("event_type") === "purchase").as("hit"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val m = t.agg(
      count(when(col("we"), lit(1))).as("n1"),
      count(when(col("we") && col("hit"), lit(1))).as("x1"),
      count(when(!col("we"), lit(1))).as("n2"),
      count(when(!col("we") && col("hit"), lit(1))).as("x2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val p1 = round(col("x1").cast("double") / n1, 8)
    val p2 = round(col("x2").cast("double") / n2, 8)
    val pp = round((col("x1") + col("x2")).cast("double") / (n1 + n2), 8)
    m.select(col("n1"), col("x1"), col("n2"), col("x2"),
      p1.as("p1"), p2.as("p2"),
      round((p1 - p2) / sqrt(round(pp * (lit(1.0) - pp)
        * (lit(1.0) / n1 + lit(1.0) / n2), 10)), 4).as("z"))
  }

  val twoPropZOracle: String =
    """WITH t AS (SELECT event_type = 'purchase' AS hit,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |m AS (SELECT
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS n1,
      |    CAST(count(CASE WHEN we AND hit THEN 1 END) AS BIGINT) AS x1,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS n2,
      |    CAST(count(CASE WHEN NOT we AND hit THEN 1 END) AS BIGINT) AS x2
      |  FROM t)
      |SELECT n1, x1, n2, x2,
      |  round(CAST(x1 AS DOUBLE)/n1, 8) AS p1,
      |  round(CAST(x2 AS DOUBLE)/n2, 8) AS p2,
      |  round((round(CAST(x1 AS DOUBLE)/n1, 8)
      |      - round(CAST(x2 AS DOUBLE)/n2, 8))
      |    / sqrt(round(round(CAST(x1 + x2 AS DOUBLE)/(n1 + n2), 8)
      |      * (1.0 - round(CAST(x1 + x2 AS DOUBLE)/(n1 + n2), 8))
      |      * (1.0/n1 + 1.0/n2), 10)), 4) AS z
      |FROM m""".stripMargin

  /** q_poisson_rate — error-event rate ratio weekend vs weekday with
    * exposure = distinct (user, day) activity slots:
    * z = (λ̂₁−λ̂₂)/√(x₁/t₁² + x₂/t₂²). */
  def poissonRate(s: SparkSession, d: String): DataFrame = {
    val t = events(s, d).select(col("user_id"),
      to_date(col("ts2")).as("day"),
      (col("event_type") === "error").as("err"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val expo = t.select(col("user_id"), col("day"), col("we")).distinct()
      .groupBy(col("we")).agg(count(lit(1)).as("slots"))
    val hits = t.filter(col("err")).groupBy(col("we"))
      .agg(count(lit(1)).as("x"))
    val j = expo.join(hits, "we")
    val m = j.agg(
      max(when(col("we"), col("x"))).as("x1"),
      max(when(col("we"), col("slots"))).as("t1"),
      max(when(!col("we"), col("x"))).as("x2"),
      max(when(!col("we"), col("slots"))).as("t2"))
    val t1 = col("t1").cast("double"); val t2 = col("t2").cast("double")
    val l1 = round(col("x1").cast("double") / t1, 8)
    val l2 = round(col("x2").cast("double") / t2, 8)
    m.select(col("x1"), col("t1"), col("x2"), col("t2"),
      l1.as("rate_we"), l2.as("rate_wd"),
      round((l1 - l2) / sqrt(round(col("x1").cast("double") / (t1 * t1)
        + col("x2").cast("double") / (t2 * t2), 10)), 4).as("z"))
  }

  val poissonRateOracle: String =
    """WITH t AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |    event_type = 'error' AS err,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |expo AS (SELECT we, CAST(count(*) AS BIGINT) AS slots
      |  FROM (SELECT DISTINCT user_id, day, we FROM t) GROUP BY 1),
      |hits AS (SELECT we, CAST(count(*) AS BIGINT) AS x FROM t
      |  WHERE err GROUP BY 1),
      |m AS (SELECT
      |    max(CASE WHEN we THEN x END) AS x1,
      |    max(CASE WHEN we THEN slots END) AS t1,
      |    max(CASE WHEN NOT we THEN x END) AS x2,
      |    max(CASE WHEN NOT we THEN slots END) AS t2
      |  FROM expo JOIN hits USING (we))
      |SELECT x1, t1, x2, t2,
      |  round(CAST(x1 AS DOUBLE)/t1, 8) AS rate_we,
      |  round(CAST(x2 AS DOUBLE)/t2, 8) AS rate_wd,
      |  round((round(CAST(x1 AS DOUBLE)/t1, 8)
      |      - round(CAST(x2 AS DOUBLE)/t2, 8))
      |    / sqrt(round(CAST(x1 AS DOUBLE)/(CAST(t1 AS DOUBLE)*t1)
      |      + CAST(x2 AS DOUBLE)/(CAST(t2 AS DOUBLE)*t2), 10)), 4) AS z
      |FROM m""".stripMargin

  private val B = 20

  /** q_subsample_ci — deterministic half-subsample CI for the mean of
    * `events.value`: B=20 content-addressed replicates (row joins
    * replicate b iff the first two md5 hex chars of "id:b" are below
    * 0x80), every replicate mean from ONE scan's conditional DECIMAL
    * sums, the spread of the B means as the uncertainty estimate. */
  def subsampleCi(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("event_id"), col("value"))
    val aggs = (0 until B).flatMap { b =>
      val in = substring(md5(concat(col("event_id").cast("string"),
        lit(":" + b))), 1, 2) < "80"
      Seq(
        sum(when(in, col("value")).cast("decimal(18,6)")).cast("double")
          .as(s"s$b"),
        count(when(in, lit(1))).as(s"c$b"))
    }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val means = one.select((0 until B).map(b =>
      round(col(s"s$b") / col(s"c$b").cast("double"), 8).as(s"m$b")): _*)
    val stacked = means.select(expr(
      s"stack($B, ${(0 until B).map(b => s"$b, m$b").mkString(", ")}) " +
        "AS (b, m)"))
    stacked.agg(
        count(lit(1)).as("n_reps"),
        sum(col("m").cast("decimal(18,8)")).cast("double").as("sm"),
        sum(round(col("m") * col("m"), 10).cast("decimal(27,10)"))
          .cast("double").as("smm"))
      .select(col("n_reps"),
        round(col("sm") / B, 6).as("mean_of_means"),
        round(sqrt(round((col("smm") - col("sm") * col("sm") / B)
          / (B - 1), 10)), 6).as("subsample_sd"))
  }

  val subsampleCiOracle: String = {
    val sums = (0 until B).map { b =>
      s"""    CAST(sum(CASE WHEN substr(md5(CAST(event_id AS VARCHAR) || ':$b'), 1, 2) < '80'
         |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS s$b,
         |    CAST(count(CASE WHEN substr(md5(CAST(event_id AS VARCHAR) || ':$b'), 1, 2) < '80'
         |      THEN 1 END) AS BIGINT) AS c$b""".stripMargin
    }.mkString(",\n")
    val meanCols = (0 until B).map(b =>
      s"round(s$b/CAST(c$b AS DOUBLE), 8)").mkString(", ")
    s"""WITH one AS (SELECT
       |$sums
       |  FROM events),
       |means AS (SELECT unnest([$meanCols]) AS m FROM one)
       |SELECT CAST(count(*) AS BIGINT) AS n_reps,
       |  round(CAST(sum(CAST(m AS DECIMAL(18,8))) AS DOUBLE)/$B, 6)
       |    AS mean_of_means,
       |  round(sqrt(round((CAST(sum(CAST(round(m*m, 10) AS DECIMAL(27,10)))
       |      AS DOUBLE)
       |    - CAST(sum(CAST(m AS DECIMAL(18,8))) AS DOUBLE)
       |      * CAST(sum(CAST(m AS DECIMAL(18,8))) AS DOUBLE)/$B)
       |    /${B - 1}, 10)), 6) AS subsample_sd
       |FROM means""".stripMargin
  }

  /** q_trimmed_mean — exact 10% two-sided trimmed mean of
    * `events.value`: k = ⌊n/10⌋ dropped from each tail, the kept
    * mass per distinct value from integer rank-interval overlap on
    * the contracted-value prefix — no global sort of raw rows. */
  def trimmedMean(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).groupBy(col("value"))
      .agg(count(lit(1)).as("cnt"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")), Seq("cum" -> col("cnt")))
    val n = events(s, d).agg(count(lit(1)).as("n"))
    val k = floor(col("n") / 10)
    val kept = cum.crossJoin(broadcast(n))
      .select(col("value"), col("n"),
        greatest(lit(0L),
          least(col("cum"), col("n") - k)
            - greatest(col("cum") - col("cnt"), k)).as("keep"))
    kept.agg(max(col("n")).as("n"),
        sum(col("keep")).as("kept_rows"),
        sum(round(col("value") * col("keep"), 6).cast("decimal(27,6)"))
          .cast("double").as("ksum"))
      .select(col("n"), col("kept_rows"),
        round(col("ksum") / col("kept_rows").cast("double"), 6)
          .as("trimmed_mean"))
  }

  val trimmedMeanOracle: String =
    """WITH byval AS (SELECT value, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |cum AS (SELECT value, cnt,
      |    sum(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM byval),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
      |kept AS (SELECT value, n,
      |    greatest(0, least(cum, n - (n // 10))
      |      - greatest(cum - cnt, n // 10)) AS keep
      |  FROM cum CROSS JOIN nn)
      |SELECT max(n) AS n, CAST(sum(keep) AS BIGINT) AS kept_rows,
      |  round(CAST(sum(CAST(round(value * keep, 6) AS DECIMAL(27,6)))
      |      AS DOUBLE)
      |    / CAST(sum(keep) AS DOUBLE), 6) AS trimmed_mean
      |FROM kept""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_two_prop_z" -> (twoPropZ _),
    "q_poisson_rate" -> (poissonRate _),
    "q_subsample_ci" -> (subsampleCi _),
    "q_trimmed_mean" -> (trimmedMean _))

  val oracle: Map[String, String] = Map(
    "q_two_prop_z" -> twoPropZOracle,
    "q_poisson_rate" -> poissonRateOracle,
    "q_subsample_ci" -> subsampleCiOracle,
    "q_trimmed_mean" -> trimmedMeanOracle)
}
