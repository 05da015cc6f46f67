package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #94: survival-analysis completions around
  * q_survival's Kaplan–Meier curve and q_logrank's two-sample test —
  * the Nelson–Aalen cumulative hazard (with Breslow survival),
  * restricted mean survival time to τ=60 days, and the
  * median-survival / fixed-horizon report.
  *
  * All three reuse the q_survival life-table contraction: user
  * lifetimes collapse to the (type, duration) grid in one keyed
  * shuffle, and every estimator is a type-PARTITIONED ordered window
  * over that bounded grid (durations per type ≤ the calendar span) —
  * no partition-less window, no per-user state.
  *
  * Determinism (D1–D5): risk-set sizes are exact integers off the
  * partitioned prefix sum; hazard terms round at 8dp before their
  * exact decimal cumulative; exp/ln follow the house protocol
  * (applied to already-rounded doubles, result re-rounded); RMST
  * segment products round at 6dp into decimal sums. */
object SurvivalExtraQueries extends QueryFamily {

  /** Life table on the (type, duration) grid: users, exits, at-risk
    * (q_survival's exact construction, StatEngQueries.scala). */
  private def riskTable(s: SparkSession, d: String): DataFrame = {
    val life = events(s, d)
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(datediff(max(to_date(col("ts2"))), min(to_date(col("ts2"))))
        .as("dur"), count(lit(1)).as("cnt"))
      .withColumn("observed", when(col("cnt") >= 5, 1L).otherwise(0L))
    val table = life.groupBy(col("t"), col("dur"))
      .agg(count(lit(1)).as("users"), sum(col("observed")).as("d_exits"))
    val tot = life.groupBy(col("t")).agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("t")).orderBy(col("dur"))
    table.join(broadcast(tot), "t")
      .withColumn("cum_before", coalesce(
        sum(col("users")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_risk", col("n_total") - col("cum_before"))
      .drop("cum_before", "n_total")
  }

  private val riskSql: String =
    """life AS (SELECT event_type AS t, user_id,
      |    date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
      |      AS dur,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lab AS (SELECT t, dur,
      |    CASE WHEN cnt >= 5 THEN 1 ELSE 0 END AS observed FROM life),
      |tab AS (SELECT t, dur, CAST(count(*) AS BIGINT) AS users,
      |    CAST(sum(observed) AS BIGINT) AS d_exits
      |  FROM lab GROUP BY 1, 2),
      |tot AS (SELECT t, count(*) AS n_total FROM lab GROUP BY 1),
      |risk AS (SELECT tab.t, tab.dur, tab.users, tab.d_exits,
      |    CAST(tot.n_total - coalesce(CAST(sum(tab.users)
      |      OVER (PARTITION BY tab.t ORDER BY tab.dur
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS BIGINT) AS n_risk
      |  FROM tab JOIN tot ON tot.t = tab.t)""".stripMargin

  /** KM product-limit curve (t, dur, surv) — q_survival's exact
    * ln/exp fold, kept private for the RMST/median reuse. */
  private def kmCurve(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("dur"))
    riskTable(s, d)
      .withColumn("lnf", when(col("d_exits") === 0, lit(0.0))
        .when(col("d_exits") < col("n_risk"),
          round(log(lit(1.0)
            - col("d_exits").cast("double") / col("n_risk")), 8))
        .otherwise(lit(null).cast("double")))
      .withColumn("hit_zero", max(when(col("d_exits") === col("n_risk"), 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("surv", when(col("hit_zero") === 1L, lit(0.0))
        .otherwise(round(exp(sum(col("lnf"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))), 6)))
      .select(col("t"), col("dur"), col("surv"))
  }

  private val kmSql: String =
    s"""$riskSql,
       |kf AS (SELECT *,
       |    CASE WHEN d_exits = 0 THEN 0.0
       |      WHEN d_exits < n_risk THEN
       |        round(ln(1.0 - CAST(d_exits AS DOUBLE)/n_risk), 8)
       |      ELSE NULL END AS lnf,
       |    max(CASE WHEN d_exits = n_risk THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY t ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS hit_zero
       |  FROM risk),
       |km AS (SELECT t, dur,
       |    CASE WHEN hit_zero = 1 THEN 0.0
       |      ELSE round(exp(sum(lnf) OVER (PARTITION BY t ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       |      END AS surv
       |  FROM kf)""".stripMargin

  /** q_nelson_aalen — cumulative hazard H(t) = Σ d/n over the life
    * table, with the Breslow survival exp(−H) beside the KM-free
    * hazard increments. */
  def nelsonAalen(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("t")).orderBy(col("dur"))
    riskTable(s, d)
      .withColumn("h_term",
        round(col("d_exits").cast("double") / col("n_risk"), 8))
      .withColumn("chaz", round(
        sum(col("h_term").cast("decimal(18,8)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"), 8))
      .select(col("t"), col("dur"), col("d_exits"), col("n_risk"),
        col("chaz"),
        round(exp(-col("chaz")), 6).as("s_breslow"))
      .orderBy(col("t"), col("dur"))
  }

  val nelsonAalenOracle: String =
    s"""WITH $riskSql,
       |h AS (SELECT t, dur, d_exits, n_risk,
       |    round(CAST(d_exits AS DOUBLE)/n_risk, 8) AS h_term
       |  FROM risk),
       |c AS (SELECT t, dur, d_exits, n_risk,
       |    round(CAST(sum(CAST(h_term AS DECIMAL(18,8)))
       |      OVER (PARTITION BY t ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS DOUBLE), 8) AS chaz
       |  FROM h)
       |SELECT t, dur, d_exits, n_risk, chaz,
       |  round(exp(-chaz), 6) AS s_breslow
       |FROM c ORDER BY t, dur""".stripMargin

  /** q_rmst — restricted mean survival time to τ=60 days per type:
    * the KM step function integrated as Σ S(t_{k-1})·(t_k∧τ −
    * t_{k-1}∧τ) plus the S_last·(τ − t_last∧τ) tail. */
  def rmst(s: SparkSession, d: String): DataFrame = {
    val tau = 60
    val w = Window.partitionBy(col("t")).orderBy(col("dur"))
    val seg = kmCurve(s, d)
      .withColumn("prev_surv", lag(col("surv"), 1, 1.0).over(w))
      .withColumn("prev_dur", lag(col("dur"), 1, 0).over(w))
      .withColumn("contrib", round(col("prev_surv") *
        (least(col("dur"), lit(tau)) - least(col("prev_dur"), lit(tau)))
          .cast("double"), 6))
    seg.groupBy(col("t")).agg(
        sum(col("contrib").cast("decimal(18,6)")).as("body"),
        expr("max_by(surv, dur)").as("s_last"),
        max(col("dur")).as("d_last"))
      .select(col("t"),
        round(col("body").cast("double")
          + round(col("s_last")
            * (lit(tau) - least(col("d_last"), lit(tau))).cast("double"),
            6), 6).as("rmst_60"))
      .orderBy(col("t"))
  }

  val rmstOracle: String =
    s"""WITH $kmSql,
       |seg AS (SELECT t, dur, surv,
       |    round(coalesce(lag(surv) OVER (PARTITION BY t ORDER BY dur),
       |        1.0)
       |      *CAST(least(dur, 60)
       |        - least(coalesce(lag(dur) OVER (PARTITION BY t
       |          ORDER BY dur), 0), 60) AS DOUBLE), 6) AS contrib
       |  FROM km),
       |agg AS (SELECT t,
       |    sum(CAST(contrib AS DECIMAL(18,6))) AS body,
       |    max_by(surv, dur) AS s_last,
       |    max(dur) AS d_last
       |  FROM seg GROUP BY t)
       |SELECT t,
       |  round(CAST(body AS DOUBLE)
       |    + round(s_last*CAST(60 - least(d_last, 60) AS DOUBLE), 6), 6)
       |    AS rmst_60
       |FROM agg ORDER BY t""".stripMargin

  /** q_survival_median — per type: the median survival duration
    * (first dur with S ≤ 0.5) and the curve at 30/60/90-day
    * horizons via FILTERed max_by over the bounded grid. */
  def survivalMedian(s: SparkSession, d: String): DataFrame =
    kmCurve(s, d).groupBy(col("t")).agg(
        min(when(col("surv") <= 0.5, col("dur"))).as("median_dur"),
        expr("max_by(surv, dur) FILTER (WHERE dur <= 30)").as("s30"),
        expr("max_by(surv, dur) FILTER (WHERE dur <= 60)").as("s60"),
        expr("max_by(surv, dur) FILTER (WHERE dur <= 90)").as("s90"))
      .orderBy(col("t"))

  val survivalMedianOracle: String =
    s"""WITH $kmSql
       |SELECT t,
       |  min(CASE WHEN surv <= 0.5 THEN dur END) AS median_dur,
       |  max_by(surv, dur) FILTER (WHERE dur <= 30) AS s30,
       |  max_by(surv, dur) FILTER (WHERE dur <= 60) AS s60,
       |  max_by(surv, dur) FILTER (WHERE dur <= 90) AS s90
       |FROM km GROUP BY t ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nelson_aalen" -> (nelsonAalen _),
    "q_rmst" -> (rmst _),
    "q_survival_median" -> (survivalMedian _))

  val oracle: Map[String, String] = Map(
    "q_nelson_aalen" -> nelsonAalenOracle,
    "q_rmst" -> rmstOracle,
    "q_survival_median" -> survivalMedianOracle)
}
