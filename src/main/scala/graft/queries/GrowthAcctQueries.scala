package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #76: product-analytics accounting identities —
  * daily growth accounting (every active user classified as new /
  * retained / resurrected, every yesterday-active absentee as
  * churned, with the DAU identity DAU_t = new + retained +
  * resurrected checked row by row), and the approximate-stationary
  * distribution of the event-type Markov chain (three row-stochastic
  * power steps — the "where do sessions end up" companion to
  * q_markov's one-step transition matrix).
  *
  * Scale notes (100 TB): growth accounting contracts events to the
  * distinct (user, day) activity set once, self-joins it on day−1
  * (key-parallel), and semi-joins the per-user first day — all keyed
  * contractions on the bounded calendar output. The Markov power
  * steps iterate a |K|² transition matrix against a broadcast |K|-row
  * vector (the q_eigenvector shape with row-stochastic weights).
  *
  * Determinism: classifications are set-membership booleans on exact
  * keys; transition probabilities round at 8dp, per-step products at
  * 8dp into decimal sums; final 6dp. */
object GrowthAcctQueries extends QueryFamily {

  /** q_growth_acct — last 10 observed days: DAU split into new /
    * retained / resurrected, plus churned (active day−1, absent
    * day), verifying the accounting identity. */
  def growthAcct(s: SparkSession, d: String): DataFrame = {
    // ONE events scan (round-7): the previous form derived first-day,
    // yesterday-membership and tomorrow-membership as three
    // self-joins of the distinct (u, day) frame — and Catalyst's
    // per-branch filter pushdown made the five resulting scan
    // subtrees non-identical, defeating ReuseExchange (5 fact scans
    // + 2 dedup shuffles executed). All three memberships are
    // adjacency in the SAME per-user day sequence: first/lag/lead
    // over one window partitioned by the high-cardinality user key
    // (per-user rows are calendar-bounded). Identical class/churn
    // counts, so every output row is unchanged.
    growthFrom(events(s, d)
      .select(col("user_id").as("u"), to_date(col("ts2")).as("day"))
      .distinct())
  }

  /** The window-form growth accounting over a distinct `act(u, day)`
    * frame — factored so GrowthAcctSpec can drive synthetic activity
    * shapes (gaps, resurrections, single-day users, last-day churn)
    * against the self-join reference form. */
  private[graft] def growthFrom(act: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("day"))
    val per = act.select(col("u"), col("day"),
      min(col("day")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("u"))).as("fday"),
      lag(col("day"), 1).over(w).as("prev"),
      lead(col("day"), 1).over(w).as("next"))
    val classed = per.select(col("day"),
      when(col("day") === col("fday"), "new")
        .when(col("prev") === date_sub(col("day"), 1), "retained")
        .otherwise("resurrected").as("cls"),
      col("next").isNull || col("next") =!= date_add(col("day"), 1))
    val perClassed = classed.toDF("day", "cls", "churns_tomorrow")
    val dau = perClassed.groupBy(col("day")).agg(
      count(lit(1)).as("dau"),
      count(when(col("cls") === "new", lit(1))).as("new_u"),
      count(when(col("cls") === "retained", lit(1))).as("retained_u"),
      count(when(col("cls") === "resurrected", lit(1))).as("resurrected_u"))
    val churned = perClassed.filter(col("churns_tomorrow"))
      .select(date_add(col("day"), 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("churned_u"))
    dau.join(churned, Seq("day"), "left")
      .select(col("day"), col("dau"), col("new_u"), col("retained_u"),
        col("resurrected_u"),
        coalesce(col("churned_u"), lit(0L)).as("churned_u"),
        (col("dau") === col("new_u") + col("retained_u")
          + col("resurrected_u")).as("identity_ok"))
      .orderBy(col("day").desc)
      .limit(10)
  }

  val growthAcctOracle: String =
    """WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
      |  FROM events),
      |first AS (SELECT u, min(day) AS fday FROM act GROUP BY 1),
      |yday AS (SELECT u, day + INTERVAL 1 DAY AS day, 1 AS was_active
      |  FROM act),
      |classed AS (SELECT act.u, act.day,
      |    CASE WHEN act.day = fday THEN 'new'
      |      WHEN was_active IS NOT NULL THEN 'retained'
      |      ELSE 'resurrected' END AS cls
      |  FROM act JOIN first ON first.u = act.u
      |  LEFT JOIN yday ON yday.u = act.u AND yday.day = act.day),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau,
      |    CAST(count(CASE WHEN cls = 'new' THEN 1 END) AS BIGINT)
      |      AS new_u,
      |    CAST(count(CASE WHEN cls = 'retained' THEN 1 END) AS BIGINT)
      |      AS retained_u,
      |    CAST(count(CASE WHEN cls = 'resurrected' THEN 1 END) AS BIGINT)
      |      AS resurrected_u
      |  FROM classed GROUP BY 1),
      |churned AS (SELECT y.day, CAST(count(*) AS BIGINT) AS churned_u
      |  FROM (SELECT u, day + INTERVAL 1 DAY AS day FROM act) y
      |  LEFT JOIN act t ON t.u = y.u AND t.day = y.day
      |  WHERE t.u IS NULL
      |  GROUP BY 1)
      |SELECT CAST(dau.day AS DATE) AS day, dau, new_u, retained_u,
      |  resurrected_u, COALESCE(churned_u, 0) AS churned_u,
      |  dau = new_u + retained_u + resurrected_u AS identity_ok
      |FROM dau LEFT JOIN churned ON churned.day = dau.day
      |ORDER BY day DESC
      |LIMIT 10""".stripMargin

  /** q_markov_stationary — the event-type chain's distribution after
    * three power steps from uniform: P from per-user consecutive
    * event pairs (the q_markov construction), π₀ = 1/K,
    * π_{r+1} = π_r P, each step an 8dp-rounded decimal fold. */
  def markovStationary(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
    // |alphabet|²-cell transition grid feeds p (referenced by the 3
    // unrolled power-iteration steps) and outT — materialize once
    // (round-8 scan gate: was 8 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val trans = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val outT = trans.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val p = trans.join(broadcast(outT), "a")
      .select(col("a"), col("b"),
        round(col("c").cast("double") / col("ca").cast("double"), 8)
          .as("p"))
    val k = outT.agg(count(lit(1)).as("k"))
    val pi0 = outT.crossJoin(broadcast(k))
      .select(col("a").as("st"),
        round(lit(1.0) / col("k").cast("double"), 8).as("pi"))
    def step(pi: DataFrame): DataFrame =
      p.join(broadcast(pi), col("a") === col("st"))
        .groupBy(col("b").as("st"))
        .agg(round(sum(round(col("p") * col("pi"), 8)
          .cast("decimal(27,8)")).cast("double"), 8).as("pi"))
    val pi3 = step(step(step(pi0)))
    pi3.select(col("st").as("event_type"), round(col("pi"), 6).as("pi3"))
      .orderBy(col("event_type"))
  }

  val markovStationaryOracle: String =
    """WITH seq AS (SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS b
      |  FROM events),
      |trans AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE b IS NOT NULL GROUP BY 1, 2),
      |outt AS MATERIALIZED (SELECT a, CAST(sum(c) AS BIGINT) AS ca
      |  FROM trans GROUP BY 1),
      |p AS MATERIALIZED (SELECT a, b,
      |    round(CAST(c AS DOUBLE)/CAST(ca AS DOUBLE), 8) AS p
      |  FROM trans JOIN outt USING (a)),
      |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM outt),
      |pi0 AS MATERIALIZED (SELECT a AS st,
      |    round(1.0/CAST(k AS DOUBLE), 8) AS pi FROM outt, k),
      |pi1 AS MATERIALIZED (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi0 ON pi0.st = p.a GROUP BY 1),
      |pi2 AS MATERIALIZED (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi1 ON pi1.st = p.a GROUP BY 1),
      |pi3 AS (SELECT b AS st,
      |    round(CAST(sum(CAST(round(p*pi, 8) AS DECIMAL(27,8)))
      |      AS DOUBLE), 8) AS pi
      |  FROM p JOIN pi2 ON pi2.st = p.a GROUP BY 1)
      |SELECT st AS event_type, round(pi, 6) AS pi3
      |FROM pi3 ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_growth_acct" -> (growthAcct _),
    "q_markov_stationary" -> (markovStationary _))

  val oracle: Map[String, String] = Map(
    "q_growth_acct" -> growthAcctOracle,
    "q_markov_stationary" -> markovStationaryOracle)
}
