package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #19: user churn detection (recency against the
  * corpus horizon) and the Zipf rank-frequency fit over token
  * statistics (the corpus-health diagnostic: natural text follows a
  * ≈ −1 log-log slope; synthetic/degenerate corpora don't).
  *
  * Scale notes (100 TB): churn is one keyed aggregate + broadcast of
  * the 1-row horizon; Zipf contracts to |vocab| rows before the
  * exact least-squares pass (DECIMAL sums — the same machinery as
  * q_regr).
  */
object ChurnZipfQueries extends QueryFamily {

  /** q_churn — recency-based churn flags: per user, last-activity
    * age (days vs the corpus max event time), churned = inactive for
    * > 7 days, plus each user's lifetime span — with the global
    * churn rate replicated for the report row. */
  def churn(s: SparkSession, d: String): DataFrame = {
    // Scale shape: the horizon and the global churn rate are both
    // broadcast 1-row aggregates (crossJoin(broadcast(...))) — the
    // per-user stage stays fully parallel, with no partition-less
    // window anywhere in the plan.
    // per-user frame feeds the horizon probe + flag/rate branches —
    // materialize once (round-8 scan gate: was 4 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val byUser = events(s, d).groupBy(col("user_id"))
      .agg(min(col("ts2")).as("first_ts"), max(col("ts2")).as("last_ts"),
        count(lit(1)).as("n_events"))
      .truncatedCheckpoint()
    val horizon = byUser.agg(max(col("last_ts")).as("horizon_ts"))
    val flagged = byUser.crossJoin(broadcast(horizon))
      // DIV, not `/`: Column `/` on longs is double division, and a
      // truncated double quotient can differ from exact integer floor
      .withColumn("horizon_us", unix_micros(col("horizon_ts")))
      .withColumn("age_days",
        expr("(horizon_us - unix_micros(last_ts)) DIV 86400000000"))
      .withColumn("lifetime_days",
        expr("(unix_micros(last_ts) - unix_micros(first_ts)) DIV 86400000000"))
      .withColumn("churned", col("age_days") > 7)
    val rate = flagged.agg(
      round(sum(col("churned").cast("long")).cast("double") /
        count(lit(1)).cast("double"), 4).as("churn_rate"))
    flagged.crossJoin(broadcast(rate))
      .select(col("user_id"), col("n_events"), col("age_days"),
        col("lifetime_days"), col("churned"), col("churn_rate"))
      .orderBy(col("user_id"))
  }

  val churnOracle: String =
    """WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1),
      |t AS (SELECT *,
      |    date_diff('microsecond', last_ts, max(last_ts) OVER ())
      |      // 86400000000 AS age_days,
      |    date_diff('microsecond', first_ts, last_ts)
      |      // 86400000000 AS lifetime_days
      |  FROM u),
      |c AS (SELECT *, age_days > 7 AS churned FROM t)
      |SELECT user_id, n_events, age_days, lifetime_days, churned,
      |  round(CAST(sum(CAST(churned AS BIGINT)) OVER () AS DOUBLE) /
      |    CAST(count(*) OVER () AS DOUBLE), 4) AS churn_rate
      |FROM c ORDER BY user_id""".stripMargin

  /** q_zipf — Zipf's-law diagnostic: tokens ranked by frequency
    * (ties by token), the log-log regression slope of ln(freq) on
    * ln(rank) fitted with exact DECIMAL least squares (8dp-rounded
    * terms — q_regr's machinery), reported with the top-5 tokens.
    * A healthy natural-language corpus sits near slope −1. */
  def zipf(s: SparkSession, d: String): DataFrame = {
    // rank-by-frequency via a distributed running row-number
    // (PrefixOps) — the vocabulary is unbounded at 100 TB, so no
    // partition-less row_number over it
    val freq0 = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val freq = graft.operators.PrefixOps.runningSums(freq0,
        -col("f"), Seq(col("f").desc, col("tok")),
        Seq("__rn" -> lit(1L)))
      .withColumn("rk", col("__rn").cast("int")).drop("__rn")
    val dec = "decimal(20,8)"
    val terms = freq.select(col("tok"), col("f"), col("rk"),
      round(log(col("rk").cast("double")), 8).cast(dec).as("x"),
      round(log(col("f").cast("double")), 8).cast(dec).as("y"))
    val fit = terms.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .select(col("n"),
        round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 4)
          .as("zipf_slope"))
    terms.filter(col("rk") <= 5)
      .crossJoin(broadcast(fit))
      .select(col("rk"), col("tok"), col("f"), col("n").as("vocab"),
        col("zipf_slope"))
      .orderBy(col("rk"))
  }

  val zipfOracle: String =
    """WITH freq AS (SELECT tok, count(*) AS f FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) GROUP BY 1),
      |r AS (SELECT tok, f,
      |    row_number() OVER (ORDER BY f DESC, tok) AS rk FROM freq),
      |t AS (SELECT tok, f, rk,
      |    CAST(round(ln(CAST(rk AS DOUBLE)), 8) AS DECIMAL(20,8)) AS x,
      |    CAST(round(ln(CAST(f AS DOUBLE)), 8) AS DECIMAL(20,8)) AS y
      |  FROM r),
      |fit AS (SELECT count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(x*y AS DECIMAL(20,8))) AS sxy,
      |    sum(CAST(x*x AS DECIMAL(20,8))) AS sxx
      |  FROM t),
      |s AS (SELECT n,
      |    round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
      |      (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) -
      |       CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 4) AS zipf_slope
      |  FROM fit)
      |SELECT rk, tok, f, s.n AS vocab, s.zipf_slope
      |FROM t CROSS JOIN s WHERE rk <= 5 ORDER BY rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_churn" -> (churn _),
    "q_zipf" -> (zipf _))

  val oracle: Map[String, String] = Map(
    "q_churn" -> churnOracle,
    "q_zipf" -> zipfOracle)
}
