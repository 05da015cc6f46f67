package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #18: exact statistical-inference kernels — the
  * two-sample Kolmogorov–Smirnov distance, Cohen's d effect size
  * between hash cohorts, and market-basket association rules over
  * user event portfolios.
  *
  * Scale notes (100 TB): KS is one global sort of the pooled sample
  * (range-partitioned at scale) with running counts — the same shape
  * as any global rank; effect size is two keyed DECIMAL aggregates;
  * association rules contract to |users|×|types| first (distinct),
  * then a bounded |types|² self-join.
  */
object InferenceQueries extends QueryFamily {

  /** q_ks_test — exact two-sample KS distance between morning
    * (hour < 12) and afternoon `value` distributions: D = max over
    * distinct pooled values of |F_am(x) − F_pm(x)| (the ECDF jumps
    * only at distinct values, so evaluating there is exact KS),
    * reported with the argmax location. Counts are exact integers;
    * the ECDF difference is an exact-count ratio.
    *
    * Scale shape: NO per-row global running count. The pool first
    * contracts to per-distinct-value (am, pm) counts — one keyed
    * shuffle — then cumulative counts come from a distributed prefix
    * sum over the contracted domain
    * ([[graft.operators.PrefixOps.runningSums]]). */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("value"), (hour(col("ts2")) < 12).as("is_am"))
    val tot = e.agg(
      count(when(col("is_am"), lit(1))).as("n_am"),
      count(when(!col("is_am"), lit(1))).as("n_pm"))
    val byVal = e.groupBy(col("value")).agg(
      count(when(col("is_am"), lit(1))).as("am_cnt"),
      count(when(!col("is_am"), lit(1))).as("pm_cnt"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")),
      Seq("c_am" -> col("am_cnt"), "c_pm" -> col("pm_cnt")))
    val curve = cum.crossJoin(broadcast(tot))
      .select(col("value"),
        (abs(col("c_am").cast("double") / col("n_am").cast("double") -
          col("c_pm").cast("double") / col("n_pm").cast("double"))).as("gap"),
        col("n_am"), col("n_pm"))
    curve.groupBy(col("n_am"), col("n_pm"))
      .agg(max(struct(col("gap"), col("value"))).as("m"))
      .select(col("n_am"), col("n_pm"),
        round(col("m.gap"), 6).as("ks_d"),
        round(col("m.value"), 2).as("at_value"))
  }

  val ksTestOracle: String =
    """WITH e AS (SELECT value, hour(ts) < 12 AS is_am FROM events),
      |t AS (SELECT count(CASE WHEN is_am THEN 1 END) AS n_am,
      |    count(CASE WHEN NOT is_am THEN 1 END) AS n_pm FROM e),
      |v AS (SELECT value,
      |    count(CASE WHEN is_am THEN 1 END) AS am_cnt,
      |    count(CASE WHEN NOT is_am THEN 1 END) AS pm_cnt
      |  FROM e GROUP BY 1),
      |c AS (SELECT value,
      |    sum(am_cnt) OVER w AS c_am,
      |    sum(pm_cnt) OVER w AS c_pm
      |  FROM v
      |  WINDOW w AS (ORDER BY value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (SELECT value,
      |    abs(CAST(c_am AS DOUBLE)/CAST(t.n_am AS DOUBLE) -
      |        CAST(c_pm AS DOUBLE)/CAST(t.n_pm AS DOUBLE)) AS gap,
      |    t.n_am, t.n_pm
      |  FROM c CROSS JOIN t)
      |SELECT n_am, n_pm,
      |  round(max((gap, value))[1], 6) AS ks_d,
      |  round(max((gap, value))[2], 2) AS at_value
      |FROM g GROUP BY 1, 2""".stripMargin

  /** q_cohens_d — standardized mean difference of `value` between
    * the md5 A/B user cohorts (same splitter as q_ab_test): exact
    * DECIMAL sums and sums of squares per cohort, pooled SD, d
    * rounded — the effect-size readout next to a significance test. */
  def cohensD(s: SparkSession, d: String): DataFrame = {
    val cohort = when(substring(md5(col("user_id").cast("string")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    val stats = events(s, d)
      .select(cohort.as("cohort"), col("value"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sx"),
        sum((col("value") * col("value")).cast("decimal(24,6)")).cast("double")
          .as("sxx"))
    val a = stats.filter(col("cohort") === "A")
      .select(col("n").as("na"), col("sx").as("sxa"), col("sxx").as("sxxa"))
    val b = stats.filter(col("cohort") === "B")
      .select(col("n").as("nb"), col("sx").as("sxb"), col("sxx").as("sxxb"))
    val meanA = col("sxa") / col("na").cast("double")
    val meanB = col("sxb") / col("nb").cast("double")
    val varA = (col("sxxa") - col("sxa") * col("sxa") / col("na").cast("double")) /
      (col("na").cast("double") - 1.0)
    val varB = (col("sxxb") - col("sxb") * col("sxb") / col("nb").cast("double")) /
      (col("nb").cast("double") - 1.0)
    val pooled = sqrt(((col("na").cast("double") - 1.0) * varA +
      (col("nb").cast("double") - 1.0) * varB) /
      (col("na").cast("double") + col("nb").cast("double") - 2.0))
    a.crossJoin(b).select(
      col("na"), col("nb"),
      round(meanA, 4).as("mean_a"),
      round(meanB, 4).as("mean_b"),
      round((meanA - meanB) / pooled, 6).as("cohens_d"))
  }

  val cohensDOracle: String =
    """WITH s AS (SELECT
      |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
      |      AS cohort,
      |    value
      |  FROM events),
      |g AS (SELECT cohort, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value*value AS DECIMAL(24,6))) AS DOUBLE) AS sxx
      |  FROM s GROUP BY 1),
      |a AS (SELECT n AS na, sx AS sxa, sxx AS sxxa FROM g WHERE cohort = 'A'),
      |b AS (SELECT n AS nb, sx AS sxb, sxx AS sxxb FROM g WHERE cohort = 'B')
      |SELECT na, nb,
      |  round(sxa/CAST(na AS DOUBLE), 4) AS mean_a,
      |  round(sxb/CAST(nb AS DOUBLE), 4) AS mean_b,
      |  round((sxa/CAST(na AS DOUBLE) - sxb/CAST(nb AS DOUBLE)) /
      |    sqrt(((CAST(na AS DOUBLE)-1.0) *
      |        ((sxxa - sxa*sxa/CAST(na AS DOUBLE))/(CAST(na AS DOUBLE)-1.0)) +
      |      (CAST(nb AS DOUBLE)-1.0) *
      |        ((sxxb - sxb*sxb/CAST(nb AS DOUBLE))/(CAST(nb AS DOUBLE)-1.0))) /
      |      (CAST(na AS DOUBLE)+CAST(nb AS DOUBLE)-2.0)), 6) AS cohens_d
      |FROM a CROSS JOIN b""".stripMargin

  /** q_assoc_rules — market-basket association rules over user event
    * portfolios: for every ordered pair of event types (A→B),
    * support = P(user has both), confidence = P(B|A),
    * lift = conf/P(B) — exact user-count ratios, the |types|²
    * rule table of behavioral cross-sell analysis. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // ONE pass over the fact rows: the (user, type) distinct frame is
    // the only fact-scale contraction — the user count is its
    // distinct user_id (identical set: every user with events has ≥1
    // type row). Materialized once (round-8 scan gate: was 5 events
    // scans).
    import graft.operators.CacheOps.CheckpointSyntax
    val ut = events(s, d).select(col("user_id"), col("event_type")).distinct()
      .truncatedCheckpoint()
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val typeCnt = ut.groupBy(col("event_type")).agg(count(lit(1)).as("tc"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.event_type").as("ante"), col("b.event_type").as("cons"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCnt.select(col("event_type").as("ante"),
        col("tc").as("n_ante"))), "ante")
      .join(broadcast(typeCnt.select(col("event_type").as("cons"),
        col("tc").as("n_cons"))), "cons")
      .crossJoin(broadcast(nUsers))
      .select(col("ante"), col("cons"), col("n_both"),
        round(col("n_both").cast("double") / col("n_users").cast("double"), 4)
          .as("support"),
        round(col("n_both").cast("double") / col("n_ante").cast("double"), 4)
          .as("confidence"),
        round((col("n_both").cast("double") / col("n_ante").cast("double")) /
          (col("n_cons").cast("double") / col("n_users").cast("double")), 4)
          .as("lift"))
      .orderBy(col("ante"), col("cons"))
  }

  val assocRulesOracle: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
      |tc AS (SELECT event_type, count(*) AS tc FROM ut GROUP BY 1),
      |p AS (SELECT a.event_type AS ante, b.event_type AS cons,
      |    count(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type
      |  GROUP BY 1, 2)
      |SELECT ante, cons, n_both,
      |  round(CAST(n_both AS DOUBLE)/CAST(nu.n_users AS DOUBLE), 4) AS support,
      |  round(CAST(n_both AS DOUBLE)/CAST(ta.tc AS DOUBLE), 4) AS confidence,
      |  round((CAST(n_both AS DOUBLE)/CAST(ta.tc AS DOUBLE)) /
      |    (CAST(tb.tc AS DOUBLE)/CAST(nu.n_users AS DOUBLE)), 4) AS lift
      |FROM p
      |JOIN tc ta ON ta.event_type = p.ante
      |JOIN tc tb ON tb.event_type = p.cons
      |CROSS JOIN nu
      |ORDER BY ante, cons""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ks_test" -> (ksTest _),
    "q_cohens_d" -> (cohensD _),
    "q_assoc_rules" -> (assocRules _))

  val oracle: Map[String, String] = Map(
    "q_ks_test" -> ksTestOracle,
    "q_cohens_d" -> cohensDOracle,
    "q_assoc_rules" -> assocRulesOracle)
}
