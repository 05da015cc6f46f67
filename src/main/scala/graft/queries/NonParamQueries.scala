package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #15: nonparametric tests and the Pythagorean
  * mean family — geometric/harmonic means, the Wald–Wolfowitz runs
  * test for randomness, and the Mann–Kendall trend test — the
  * distribution-free siblings of q_ks_test / q_ab_test.
  *
  * Scale notes (100 TB): the means are single order-free aggregates
  * (ln/reciprocal terms as fixed-scale DECIMAL); the runs test is a
  * per-type lag window over the event stream (parallel across
  * types) against a broadcast median; Mann–Kendall self-joins the
  * per-(type, day) contraction — the pair space is bounded by the
  * calendar (C(horizon-days, 2) per type), never by row count.
  *
  * Determinism: signs are exact comparisons; counts exact; the
  * closed-form moments of both tests are computed from rounded
  * doubles at fixed points (exp/ln per the q_perplexity
  * precedent).
  */
object NonParamQueries extends QueryFamily {

  /** q_gmean — the Pythagorean mean family per event_type:
    * arithmetic, geometric (exp of the mean log), and harmonic
    * (n over the reciprocal sum) — AM ≥ GM ≥ HM by construction.
    * Restricted to the positive support (GM/HM are undefined at 0 —
    * sf0.1 contains a literal 0.0 value). */
  def gmean(s: SparkSession, d: String): DataFrame = {
    events(s, d).select(col("event_type").as("t"), col("value"))
      .where(col("value") > 0)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        davg(col("value")).as("am"),
        sum(round(log(col("value")), 8).cast("decimal(20,8)")).as("sln"),
        sum(round(lit(1.0) / col("value"), 8).cast("decimal(20,8)"))
          .as("srec"))
      .select(col("t"), col("n"), col("am"),
        round(exp(round(dout(col("sln")) / col("n"), 8)), 4).as("gm"),
        round(col("n") / dout(col("srec")), 4).as("hm"))
      .orderBy(col("t"))
  }

  val gmeanOracle: String =
    """SELECT event_type AS t, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
      |    count(*), 4) AS am,
      |  round(exp(round(CAST(sum(CAST(round(ln(value), 8)
      |    AS DECIMAL(20,8))) AS DOUBLE)/count(*), 8)), 4) AS gm,
      |  round(count(*)/CAST(sum(CAST(round(1.0/value, 8)
      |    AS DECIMAL(20,8))) AS DOUBLE), 4) AS hm
      |FROM events WHERE value > 0
      |GROUP BY event_type ORDER BY t""".stripMargin

  /** q_runs_test — Wald–Wolfowitz runs test per event_type: the
    * time-ordered sequence of above/below-median signs (exact-median
    * ties excluded), observed runs vs the closed-form expectation
    * E[R] = 1 + 2·n1·n2/n and variance — |z| ≫ 0 flags serial
    * dependence a mean-based monitor misses. */
  def runsTest(s: SparkSession, d: String): DataFrame = {
    // contracted-grid median (OrderStats) — the buffering `median`
    // aggregate would hold ~n/|types| map entries in one task; same
    // interpolation arithmetic, value unchanged
    val med = graft.operators.OrderStats.interpolatedPercentiles(
      events(s, d), Seq("event_type"), "value", Seq("med" -> 0.5))
      .select(col("event_type"), col("med"))
    val signed = events(s, d).join(broadcast(med), "event_type")
      .where(col("value") =!= col("med"))
      .select(col("event_type"), col("ts2"), col("event_id"),
        when(col("value") > col("med"), 1).otherwise(-1).as("sgn"))
    // lag() over a window partitioned by the ~5-value event_type
    // would serialize ~n/5 rows per task at scale; instead: a
    // distributed row number per type (partitioned prefix —
    // [[graft.operators.PrefixOps.runningSums]]) and a keyed
    // self-join on (type, rn−1) to fetch the predecessor's sign —
    // the join key is high-cardinality, so every stage is parallel.
    val rn = graft.operators.PrefixOps.runningSums(signed,
      unix_micros(col("ts2")), Seq(col("ts2"), col("event_id")),
      Seq("rn" -> lit(1L)), partitionBy = Seq(col("event_type")))
    val prev = rn.select(col("event_type").as("p_type"),
      (col("rn") + 1).as("p_rn"), col("sgn").as("prev_sgn"))
    val runs = rn
      .join(prev, col("event_type") === col("p_type") &&
        col("rn") === col("p_rn"), "left")
      .select(col("event_type"), col("sgn"),
        when(col("prev_sgn").isNull || col("prev_sgn") =!= col("sgn"), 1L)
          .otherwise(0L).as("new_run"))
    runs.groupBy(col("event_type"))
      .agg(sum(col("new_run")).as("r"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("e_r",
        round(lit(1.0) + lit(2.0) * col("n1") * col("n2") / col("n"), 6))
      .withColumn("var_r", round(
        (lit(2.0) * col("n1") * col("n2") *
          (lit(2.0) * col("n1") * col("n2") - col("n"))) /
          (col("n").cast("double") * col("n") * (col("n") - 1)), 6))
      .select(col("event_type"), col("r"), col("n1"), col("n2"),
        col("e_r"),
        round((col("r") - col("e_r")) / sqrt(col("var_r")), 4).as("z"))
      .orderBy(col("event_type"))
  }

  val runsTestOracle: String =
    """WITH med AS (SELECT event_type, median(value) AS med
      |  FROM events GROUP BY 1),
      |signed AS (SELECT e.event_type, e.ts, e.event_id,
      |    CASE WHEN e.value > m.med THEN 1 ELSE -1 END AS sgn
      |  FROM events e JOIN med m ON m.event_type = e.event_type
      |  WHERE e.value <> m.med),
      |runs AS (SELECT event_type, sgn,
      |    CASE WHEN lag(sgn, 1) OVER (PARTITION BY event_type
      |        ORDER BY ts, event_id) IS DISTINCT FROM sgn
      |      THEN 1 ELSE 0 END AS new_run
      |  FROM signed),
      |agg AS (SELECT event_type,
      |    CAST(sum(new_run) AS BIGINT) AS r,
      |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM runs GROUP BY 1),
      |m2 AS (SELECT *, n1 + n2 AS n,
      |    round(1.0 + 2.0*n1*n2/(n1 + n2), 6) AS e_r,
      |    round((2.0*n1*n2*(2.0*n1*n2 - (n1 + n2))) /
      |      (CAST(n1 + n2 AS DOUBLE)*(n1 + n2)*((n1 + n2) - 1)), 6)
      |      AS var_r
      |  FROM agg)
      |SELECT event_type, r, n1, n2, e_r,
      |  round((r - e_r)/sqrt(var_r), 4) AS z
      |FROM m2 ORDER BY event_type""".stripMargin

  /** q_mann_kendall — Mann–Kendall trend test per event_type over the
    * daily-total series: S = Σ_{i<j} sign(v_j − v_i) on the
    * calendar-bounded pair grid (C(days, 2) per type — the
    * contraction precedes the self-join, so the pair space never
    * scales with row count), Kendall's τ = S/(n(n−1)/2). */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(dsum(col("value")), 4).as("v"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.t") === col("b.t") && col("a.day") < col("b.day"))
      .select(col("a.t").as("t"),
        signum(col("b.v") - col("a.v")).cast("long").as("sgn"))
    pairs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"))
      .select(col("t"), col("n_pairs"), col("s_stat"),
        round(col("s_stat").cast("double") / col("n_pairs"), 6).as("tau"))
      .orderBy(col("t"))
  }

  val mannKendallOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |pairs AS (SELECT a.t, CAST(sign(b.v - a.v) AS BIGINT) AS sgn
      |  FROM daily a JOIN daily b ON b.t = a.t AND a.day < b.day)
      |SELECT t, count(*) AS n_pairs, CAST(sum(sgn) AS BIGINT) AS s_stat,
      |  round(CAST(sum(sgn) AS DOUBLE)/count(*), 6) AS tau
      |FROM pairs GROUP BY t ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gmean" -> (gmean _),
    "q_runs_test" -> (runsTest _),
    "q_mann_kendall" -> (mannKendall _))

  val oracle: Map[String, String] = Map(
    "q_gmean" -> gmeanOracle,
    "q_runs_test" -> runsTestOracle,
    "q_mann_kendall" -> mannKendallOracle)
}
