package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #7: numerically-stable softmax weighting,
  * Kaplan–Meier survival, and snapshot diffing — the
  * sampling-weights / lifetime-analysis / CDC-audit trio.
  *
  * Scale notes (100 TB): softmax subtracts the per-key max (broadcast
  * 1-row-per-type aggregate — the log-sum-exp stabilization; raw
  * exp() of unbounded scores overflows) and normalizes by a
  * broadcast per-type denominator — two tiny broadcasts, all
  * per-row math in codegen. The KM life table contracts users to a
  * per-(type, duration) table (≤ horizon-days rows per type), so the
  * in-type cumulative-hazard window runs over a bounded domain
  * (documented-tiny-domain class, like q_ohlc's per-day grid).
  * Snapshot diff is one shuffle on the user key: two filtered
  * aggregates of the SAME scan co-partition and full-outer-join
  * without a second exchange.
  *
  * Determinism: exp/ln on 4-8dp-rounded arguments with rounded
  * outputs (q_perplexity/q_psi precedent); survival products run as
  * exp(Σ ln factor) with an explicit zero-factor flag (ln(0) never
  * evaluated); all sums fixed-scale DECIMAL.
  */
object StatEngQueries extends QueryFamily {

  /** q_softmax — per event_type, softmax weights over per-user
    * engagement sums with max-subtraction (exp(s−max)/Σ): the
    * temperature-1 sampling distribution a curriculum/mixing pipeline
    * draws from. */
  def softmax(s: SparkSession, d: String): DataFrame = {
    // per-(type, user) scores feed the max probe + both weight
    // passes — materialize once (round-8 scan gate: was 4 scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val su = events(s, d).groupBy(col("event_type").as("t"), col("user_id"))
      .agg(round(dsum(col("value")), 4).as("score"))
      .truncatedCheckpoint()
    val mx = su.groupBy(col("t")).agg(max(col("score")).as("mx"))
    val z = su.join(broadcast(mx), "t")
      .withColumn("w_raw", round(exp(round(col("score") - col("mx"), 4)), 8))
    val denom = z.groupBy(col("t"))
      .agg(sum(col("w_raw").cast("decimal(18,8)")).as("den"))
    z.join(broadcast(denom), "t")
      .select(col("t"), col("user_id"), col("score"),
        round(col("w_raw") / col("den").cast("double"), 8).as("weight"))
      .orderBy(col("t"), col("user_id"))
  }

  val softmaxOracle: String =
    """WITH su AS (SELECT event_type AS t, user_id,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS score
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT t, max(score) AS mx FROM su GROUP BY 1),
      |z AS (SELECT su.t, su.user_id, su.score,
      |    round(exp(round(su.score - mx.mx, 4)), 8) AS w_raw
      |  FROM su JOIN mx ON mx.t = su.t),
      |den AS (SELECT t, sum(CAST(w_raw AS DECIMAL(18,8))) AS den
      |  FROM z GROUP BY 1)
      |SELECT z.t, z.user_id, z.score,
      |  round(z.w_raw / CAST(den.den AS DOUBLE), 8) AS weight
      |FROM z JOIN den ON den.t = z.t
      |ORDER BY z.t, z.user_id""".stripMargin

  /** q_survival — Kaplan–Meier estimator per event_type over user
    * "lifetimes" (days from first to last event of that type; a user
    * with ≥5 such events is an observed exit, fewer = censored): the
    * life table (exits, censored, at-risk) and the product-limit
    * survival curve, S as exp(Σ ln(1−d/n)) with a zero-factor
    * flag. */
  def survival(s: SparkSession, d: String): DataFrame = {
    val life = events(s, d)
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(datediff(max(to_date(col("ts2"))), min(to_date(col("ts2"))))
        .as("dur"), count(lit(1)).as("cnt"))
      .withColumn("observed", when(col("cnt") >= 5, 1L).otherwise(0L))
    val table = life.groupBy(col("t"), col("dur"))
      .agg(count(lit(1)).as("users"),
        sum(col("observed")).as("d_exits"))
      .withColumn("c_cens", col("users") - col("d_exits"))
    val tot = life.groupBy(col("t")).agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("t")).orderBy(col("dur"))
    val risk = table.join(broadcast(tot), "t")
      .withColumn("cum_before", coalesce(
        sum(col("users")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_risk", col("n_total") - col("cum_before"))
      .withColumn("lnf", when(col("d_exits") === 0, lit(0.0))
        .when(col("d_exits") < col("n_risk"),
          round(log(lit(1.0) - col("d_exits").cast("double") / col("n_risk")),
            8))
        .otherwise(lit(null).cast("double")))
      .withColumn("hit_zero", max(when(col("d_exits") === col("n_risk"), 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    risk.select(col("t"), col("dur"), col("users"), col("d_exits"),
        col("c_cens"), col("n_risk"),
        when(col("hit_zero") === 1L, lit(0.0))
          .otherwise(round(exp(sum(col("lnf"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))), 6))
          .as("survival"))
      .orderBy(col("t"), col("dur"))
  }

  val survivalOracle: String =
    """WITH life AS (SELECT event_type AS t, user_id,
      |    date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
      |      AS dur,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lab AS (SELECT t, dur,
      |    CASE WHEN cnt >= 5 THEN 1 ELSE 0 END AS observed FROM life),
      |tab AS (SELECT t, dur, count(*) AS users,
      |    CAST(sum(observed) AS BIGINT) AS d_exits
      |  FROM lab GROUP BY 1, 2),
      |tot AS (SELECT t, count(*) AS n_total FROM lab GROUP BY 1),
      |risk AS (SELECT tab.t, tab.dur, tab.users, tab.d_exits,
      |    tab.users - tab.d_exits AS c_cens,
      |    tot.n_total - coalesce(CAST(sum(tab.users) OVER (PARTITION BY tab.t
      |      ORDER BY tab.dur ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      1 PRECEDING) AS BIGINT), 0) AS n_risk
      |  FROM tab JOIN tot ON tot.t = tab.t),
      |f AS (SELECT *,
      |    CASE WHEN d_exits = 0 THEN 0.0
      |      WHEN d_exits < n_risk THEN
      |        round(ln(1.0 - CAST(d_exits AS DOUBLE)/n_risk), 8)
      |      ELSE NULL END AS lnf,
      |    max(CASE WHEN d_exits = n_risk THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY t ORDER BY dur
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      |  FROM risk)
      |SELECT t, dur, users, d_exits, c_cens, n_risk,
      |  CASE WHEN hit_zero = 1 THEN 0.0
      |    ELSE round(exp(sum(lnf) OVER (PARTITION BY t ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END
      |    AS survival
      |FROM f ORDER BY t, dur""".stripMargin

  /** q_snapshot_diff — CDC-style diff of two per-user aggregate
    * snapshots (first half of the month vs the rest): one shuffle on
    * user_id, full-outer join of two filtered aggregates of the same
    * scan, rows classified added / removed / changed / unchanged. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val base = events(s, d).select(col("user_id"),
      to_date(col("ts2")).as("day"), col("value"))
    def snap(p: org.apache.spark.sql.Column) = base.where(p)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(dsum(col("value")), 4).as("v"))
    val old = snap(col("day") < cut)
      .select(col("user_id"), col("n").as("old_n"), col("v").as("old_v"))
    val neu = snap(col("day") >= cut)
      .select(col("user_id"), col("n").as("new_n"), col("v").as("new_v"))
    old.join(neu, Seq("user_id"), "full_outer")
      .withColumn("change_type",
        when(col("old_n").isNull, "added")
          .when(col("new_n").isNull, "removed")
          .when(col("old_n") =!= col("new_n") ||
            col("old_v") =!= col("new_v"), "changed")
          .otherwise("unchanged"))
      .orderBy(col("user_id"))
  }

  val snapshotDiffOracle: String =
    """WITH old AS (SELECT user_id, count(*) AS old_n,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS old_v
      |  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
      |  GROUP BY 1),
      |neu AS (SELECT user_id, count(*) AS new_n,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS new_v
      |  FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
      |  GROUP BY 1)
      |SELECT coalesce(old.user_id, neu.user_id) AS user_id,
      |  old.old_n, old.old_v, neu.new_n, neu.new_v,
      |  CASE WHEN old.old_n IS NULL THEN 'added'
      |    WHEN neu.new_n IS NULL THEN 'removed'
      |    WHEN old.old_n <> neu.new_n OR old.old_v <> neu.new_v
      |      THEN 'changed'
      |    ELSE 'unchanged' END AS change_type
      |FROM old FULL OUTER JOIN neu ON neu.user_id = old.user_id
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_softmax" -> (softmax _),
    "q_survival" -> (survival _),
    "q_snapshot_diff" -> (snapshotDiff _))

  val oracle: Map[String, String] = Map(
    "q_softmax" -> softmaxOracle,
    "q_survival" -> survivalOracle,
    "q_snapshot_diff" -> snapshotDiffOracle)
}
