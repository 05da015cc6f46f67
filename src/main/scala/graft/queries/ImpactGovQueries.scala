package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #84: intervention analysis and engine-governance
  * reporting — a synthetic-control impact estimate (fit the target
  * series on a control series pre-"intervention", measure the
  * post-period divergence — the causal-impact shape beside q_did /
  * q_cuped), a key-skew report over the fact-table join keys (the
  * operational dashboard a 100 TB deployment watches before choosing
  * salting / AQE skew-join thresholds), and weekday-adjusted anomaly
  * days (one-pass ESD on seasonally-normalized residuals).
  *
  * Scale notes (100 TB): impact is two bounded-grid OLS folds with a
  * broadcast midpoint; the skew report is four independent keyed
  * contractions unioned (each key's profile in one shuffle); anomaly
  * days join the (type, weekday) moment table back by broadcast.
  *
  * Determinism: counts exact; coefficients at 8dp; residual z at 4dp;
  * final 6dp with full tie-breaks on every top-k. */
object ImpactGovQueries extends QueryFamily {

  /** q_causal_impact — purchase volume vs the all-other-types
    * control: OLS fit on the first half of the calendar, average and
    * cumulative divergence over the second half. */
  def causalImpact(s: SparkSession, d: String): DataFrame = {
    // daily grid feeds the midpoint probe + the pre/post branches —
    // materialize once (round-8 scan gate: was 4 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val daily = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("y"),
        count(when(col("event_type") =!= "purchase", lit(1))).as("x"))
      .truncatedCheckpoint()
    val mid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(date_add(col("lo"),
        (datediff(col("hi"), col("lo")) / 2).cast("int")).as("cut"))
    val marked = daily.crossJoin(broadcast(mid))
      .select(col("day"), col("x").cast("double").as("x"),
        col("y").cast("double").as("y"),
        (col("day") <= col("cut")).as("pre"))
    val m = marked.filter(col("pre")).agg(
      count(lit(1)).as("n_pre"),
      sum(col("x").cast("decimal(18,2)")).as("sx"),
      sum(col("y").cast("decimal(18,2)")).as("sy"),
      sum((col("x") * col("y")).cast("decimal(27,2)")).as("sxy"),
      sum((col("x") * col("x")).cast("decimal(27,2)")).as("sxx"))
    val nD = col("n_pre").cast("double")
    def f(c: String) = col(c).cast("double")
    val b1 = (nD * f("sxy") - f("sx") * f("sy")) /
      (nD * f("sxx") - f("sx") * f("sx"))
    val coef = m.select(col("n_pre"), round(b1, 8).as("b1"),
      round((f("sy") - round(b1, 8) * f("sx")) / nD, 8).as("b0"))
    val post = marked.filter(!col("pre")).crossJoin(broadcast(coef))
      .select(col("n_pre"), col("b0"), col("b1"),
        round(col("y") - (col("b0") + col("b1") * col("x")), 6).as("eff"))
    post.groupBy(col("n_pre"), col("b0"), col("b1")).agg(
        count(lit(1)).as("n_post"),
        round(sum(col("eff").cast("decimal(27,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_effect"),
        round(sum(col("eff").cast("decimal(27,6)")).cast("double"), 6)
          .as("cum_effect"))
      .select(col("n_pre"), col("n_post"), col("b0"), col("b1"),
        col("avg_effect"), col("cum_effect"))
  }

  val causalImpactOracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS DOUBLE) AS y,
      |    CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
      |      AS DOUBLE) AS x
      |  FROM events GROUP BY 1),
      |mid AS (SELECT min(day)
      |    + CAST(date_diff('day', min(day), max(day))/2 AS INT) AS cut
      |  FROM daily),
      |marked AS (SELECT day, x, y, day <= cut AS pre FROM daily, mid),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pre,
      |    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x*y AS DECIMAL(27,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x*x AS DECIMAL(27,2))) AS DOUBLE) AS sxx
      |  FROM marked WHERE pre),
      |coef AS (SELECT n_pre,
      |    round((CAST(n_pre AS DOUBLE)*sxy - sx*sy)
      |      /(CAST(n_pre AS DOUBLE)*sxx - sx*sx), 8) AS b1,
      |    round((sy - round((CAST(n_pre AS DOUBLE)*sxy - sx*sy)
      |        /(CAST(n_pre AS DOUBLE)*sxx - sx*sx), 8)*sx)
      |      /CAST(n_pre AS DOUBLE), 8) AS b0
      |  FROM m),
      |post AS (SELECT n_pre, b0, b1,
      |    round(y - (b0 + b1*x), 6) AS eff
      |  FROM marked, coef WHERE NOT pre)
      |SELECT n_pre, CAST(count(*) AS BIGINT) AS n_post, b0, b1,
      |  round(CAST(sum(CAST(eff AS DECIMAL(27,6))) AS DOUBLE)
      |    /CAST(count(*) AS DOUBLE), 6) AS avg_effect,
      |  round(CAST(sum(CAST(eff AS DECIMAL(27,6))) AS DOUBLE), 6)
      |    AS cum_effect
      |FROM post GROUP BY n_pre, b0, b1""".stripMargin

  /** q_skew_report — join-key skew profile for the four hot fact
    * keys: row count, distinct keys, the heaviest key's count and
    * share, and the max/mean skew ratio. */
  def skewReport(s: SparkSession, d: String): DataFrame = {
    def profile(name: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))
        .select(lit(name).as("key_name"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          round(col("max_key_rows").cast("double")
            / col("n_rows").cast("double"), 6).as("top_share"),
          round(col("max_key_rows").cast("double")
            / (col("n_rows").cast("double")
              / col("n_keys").cast("double")), 4).as("skew_ratio"))
    profile("lineitem.l_orderkey", lineitem(s, d), "l_orderkey")
      .unionByName(profile("lineitem.l_partkey", lineitem(s, d), "l_partkey"))
      .unionByName(profile("orders.o_custkey", orders(s, d), "o_custkey"))
      .unionByName(profile("events.user_id", events(s, d), "user_id"))
      .orderBy(col("key_name"))
  }

  val skewReportOracle: String =
    """WITH p1 AS (SELECT 'lineitem.l_orderkey' AS key_name,
      |    CAST(sum(c) AS BIGINT) AS n_rows,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(max(c) AS BIGINT) AS max_key_rows
      |  FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
      |    FROM lineitem GROUP BY 1)),
      |p2 AS (SELECT 'lineitem.l_partkey',
      |    CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
      |    CAST(max(c) AS BIGINT)
      |  FROM (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
      |    FROM lineitem GROUP BY 1)),
      |p3 AS (SELECT 'orders.o_custkey',
      |    CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
      |    CAST(max(c) AS BIGINT)
      |  FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
      |    FROM orders GROUP BY 1)),
      |p4 AS (SELECT 'events.user_id',
      |    CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
      |    CAST(max(c) AS BIGINT)
      |  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS c
      |    FROM events GROUP BY 1)),
      |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
      |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
      |SELECT key_name, n_rows, n_keys, max_key_rows,
      |  round(CAST(max_key_rows AS DOUBLE)/CAST(n_rows AS DOUBLE), 6)
      |    AS top_share,
      |  round(CAST(max_key_rows AS DOUBLE)
      |    /(CAST(n_rows AS DOUBLE)/CAST(n_keys AS DOUBLE)), 4)
      |    AS skew_ratio
      |FROM u ORDER BY key_name""".stripMargin

  /** q_anomaly_days — top-10 weekday-adjusted anomalies: per
    * (type, weekday) mean/std of the daily count from decimal
    * moments, z = (c − μ)/σ, ranked by |z|. */
  def anomalyDays(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("wd", dayofweek(col("day")))
    val m = daily.groupBy(col("t"), col("wd")).agg(
      count(lit(1)).as("n"),
      sum(col("c")).as("sx"),
      sum(col("c") * col("c")).as("sxx"))
    val nD = col("n").cast("double")
    val mu = col("sx").cast("double") / nD
    val sigma = sqrt(round((nD * col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double"))
      / (nD * (nD - lit(1.0))), 8))
    val stats = m.filter(col("n") > 1)
      .select(col("t"), col("wd"), round(mu, 8).as("mu"),
        round(sigma, 8).as("sigma"))
    daily.join(broadcast(stats), Seq("t", "wd"))
      .filter(col("sigma") > 0.0)
      .select(col("t"), col("day"), col("c"),
        round((col("c").cast("double") - col("mu")) / col("sigma"), 4)
          .as("z"))
      .withColumn("abs_z", abs(col("z")))
      .orderBy(col("abs_z").desc, col("t"), col("day"))
      .limit(10)
  }

  val anomalyDaysOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |wdd AS (SELECT t, day, c, dayofweek(day) + 1 AS wd FROM daily),
      |m AS (SELECT t, wd, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sx,
      |    CAST(sum(c*c) AS BIGINT) AS sxx
      |  FROM wdd GROUP BY 1, 2),
      |stats AS (SELECT t, wd,
      |    round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mu,
      |    round(sqrt(round((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8)), 8)
      |      AS sigma
      |  FROM m WHERE n > 1)
      |SELECT wdd.t, day, c,
      |  round((CAST(c AS DOUBLE) - mu)/sigma, 4) AS z,
      |  abs(round((CAST(c AS DOUBLE) - mu)/sigma, 4)) AS abs_z
      |FROM wdd JOIN stats ON stats.t = wdd.t AND stats.wd = wdd.wd
      |WHERE sigma > 0.0
      |ORDER BY abs_z DESC, wdd.t, day
      |LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_causal_impact" -> (causalImpact _),
    "q_skew_report" -> (skewReport _),
    "q_anomaly_days" -> (anomalyDays _))

  val oracle: Map[String, String] = Map(
    "q_causal_impact" -> causalImpactOracle,
    "q_skew_report" -> skewReportOracle,
    "q_anomaly_days" -> anomalyDaysOracle)
}
