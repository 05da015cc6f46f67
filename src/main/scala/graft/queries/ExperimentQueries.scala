package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #12: experimentation-platform operators —
  * difference-in-differences, CUPED variance reduction, and the
  * Theil inequality index — the causal/efficiency siblings of
  * q_ab_test and q_gini.
  *
  * Scale notes (100 TB): DiD is a 2×2 contraction (group × period
  * decimal means) finished on the driver-free broadcast path; CUPED
  * contracts to per-user (pre, post) pairs, broadcasts three scalar
  * moments (θ, means), and adjusts per-row in codegen; Theil is one
  * aggregate per type over broadcast type means. No windows at all.
  *
  * Determinism: deterministic parity assignment (user_id % 2 — the
  * same arithmetic in any engine); all moments from fixed-scale
  * DECIMAL sums; ln on positive rounded ratios (q_zipf precedent).
  */
object ExperimentQueries extends QueryFamily {

  private val cut = "2024-01-16"

  /** q_did — difference-in-differences: deterministic parity split
    * (odd user_id = treatment), pre/post periods around the cut, the
    * four cell means, both group deltas, and the DiD estimate — the
    * 2×2 causal baseline every experiment readout starts from. */
  def did(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .select(
        when(col("user_id") % 2 === 1, "treat").otherwise("control")
          .as("grp"),
        when(to_date(col("ts2")) < lit(cut).cast("date"), "pre")
          .otherwise("post").as("period"),
        col("value"))
      .groupBy(col("grp"), col("period"))
      .agg(davg(col("value")).as("mean_v"))
    val wide = cells.groupBy()
      .pivot(concat_ws("_", col("grp"), col("period")),
        Seq("treat_pre", "treat_post", "control_pre", "control_post"))
      .agg(first(col("mean_v")))
    wide.select(
      col("treat_pre"), col("treat_post"),
      col("control_pre"), col("control_post"),
      round(col("treat_post") - col("treat_pre"), 4).as("treat_delta"),
      round(col("control_post") - col("control_pre"), 4)
        .as("control_delta"),
      round(round(col("treat_post") - col("treat_pre"), 4) -
        round(col("control_post") - col("control_pre"), 4), 4).as("did"))
  }

  val didOracle: String =
    s"""WITH cells AS (SELECT
      |    CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END
      |      AS grp,
      |    CASE WHEN CAST(ts AS DATE) < DATE '$cut' THEN 'pre'
      |      ELSE 'post' END AS period,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) /
      |      count(*), 4) AS mean_v
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT
      |    max(CASE WHEN grp='treat' AND period='pre' THEN mean_v END)
      |      AS treat_pre,
      |    max(CASE WHEN grp='treat' AND period='post' THEN mean_v END)
      |      AS treat_post,
      |    max(CASE WHEN grp='control' AND period='pre' THEN mean_v END)
      |      AS control_pre,
      |    max(CASE WHEN grp='control' AND period='post' THEN mean_v END)
      |      AS control_post
      |  FROM cells)
      |SELECT treat_pre, treat_post, control_pre, control_post,
      |  round(treat_post - treat_pre, 4) AS treat_delta,
      |  round(control_post - control_pre, 4) AS control_delta,
      |  round(round(treat_post - treat_pre, 4) -
      |    round(control_post - control_pre, 4), 4) AS did
      |FROM w""".stripMargin

  /** q_cuped — CUPED variance reduction: per-user pre-period total as
    * the covariate, θ = cov(pre, post)/var(pre) from exact decimal
    * moments, adjusted post = post − θ·(pre − mean(pre)); reports
    * per-user adjusted metrics plus the achieved variance ratio —
    * the experiment-sensitivity workhorse. (Totals, not means: an
    * exact decimal sum has no division step, so there is no
    * .xxxx5 rounding tie to diverge on — a per-user mean hit one at
    * sf0.1, caught by the oracle gate.) */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d)
      .groupBy(col("user_id"))
      .agg(
        round(dsum(when(to_date(col("ts2")) < lit(cut).cast("date"),
          col("value"))), 4).as("x"),
        round(dsum(when(to_date(col("ts2")) >= lit(cut).cast("date"),
          col("value"))), 4).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    val mom = per.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,4)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(18,4)")).cast("double").as("sy"),
        sum(dec6(col("x") * col("x"))).cast("double").as("sxx"),
        sum(dec6(col("x") * col("y"))).cast("double").as("sxy"),
        sum(dec6(col("y") * col("y"))).cast("double").as("syy"))
      .select(col("n"),
        round(col("sx") / col("n"), 6).as("mx"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 6).as("theta"),
        round((col("syy") - col("sy") * col("sy") / col("n")) /
          col("n"), 6).as("var_y"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
          .as("cov_xy"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), 6)
          .as("var_x"))
      .select(col("mx"), col("theta"), col("var_y"),
        round(lit(1.0) - col("cov_xy") * col("cov_xy") /
          (col("var_x") * col("var_y")), 6).as("var_ratio"))
    per.crossJoin(broadcast(mom))
      .select(col("user_id"), col("x"), col("y"),
        round(col("y") - col("theta") * (col("x") - col("mx")), 4)
          .as("y_cuped"),
        col("theta"), col("var_ratio"))
      .orderBy(col("user_id"))
  }

  val cupedOracle: String =
    s"""WITH per AS (SELECT user_id,
      |    round(CAST(sum(CAST(CASE WHEN CAST(ts AS DATE) < DATE '$cut'
      |      THEN value END AS DECIMAL(18,4))) AS DOUBLE), 4) AS x,
      |    round(CAST(sum(CAST(CASE WHEN CAST(ts AS DATE) >= DATE '$cut'
      |      THEN value END AS DECIMAL(18,4))) AS DOUBLE), 4) AS y
      |  FROM events GROUP BY 1),
      |pairs AS (SELECT * FROM per WHERE x IS NOT NULL AND y IS NOT NULL),
      |sums AS (SELECT count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x*x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(x*y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(y*y AS DECIMAL(18,6))) AS DOUBLE) AS syy
      |  FROM pairs),
      |m0 AS (SELECT n, round(sx/n, 6) AS mx,
      |    round((sxy - sx*sy/n)/(sxx - sx*sx/n), 6) AS theta,
      |    round((syy - sy*sy/n)/n, 6) AS var_y,
      |    round((sxy - sx*sy/n)/n, 6) AS cov_xy,
      |    round((sxx - sx*sx/n)/n, 6) AS var_x
      |  FROM sums),
      |mom AS (SELECT mx, theta, var_y,
      |    round(1.0 - cov_xy*cov_xy/(var_x*var_y), 6) AS var_ratio
      |  FROM m0)
      |SELECT b.user_id, b.x, b.y,
      |  round(b.y - mom.theta*(b.x - mom.mx), 4) AS y_cuped,
      |  mom.theta, mom.var_ratio
      |FROM pairs b CROSS JOIN mom
      |ORDER BY b.user_id""".stripMargin

  /** q_theil — Theil's T inequality index of user engagement per
    * event_type: (1/n)Σ (x/μ)·ln(x/μ) — the entropy-based
    * concentration measure that decomposes across groups (unlike
    * Gini); one aggregate over broadcast per-type means. */
  def theil(s: SparkSession, d: String): DataFrame = {
    val eng = events(s, d)
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(round(dsum(col("value")), 4).as("x"))
    val mu = eng.groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("x").cast("decimal(18,4)")).cast("double") /
          count(lit(1)), 6).as("mu"))
    eng.join(broadcast(mu), "t")
      .select(col("t"), col("n"),
        round(col("x") / col("mu") * log(col("x") / col("mu")), 8)
          .cast("decimal(18,8)").as("term"))
      .groupBy(col("t"))
      .agg(max(col("n")).as("n_users"),
        round(sum(col("term")).cast("double") /
          max(col("n")), 6).as("theil_t"))
      .orderBy(col("t"))
  }

  val theilOracle: String =
    """WITH eng AS (SELECT event_type AS t, user_id,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS x
      |  FROM events GROUP BY 1, 2),
      |mu AS (SELECT t, count(*) AS n,
      |    round(CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)/count(*), 6)
      |      AS mu
      |  FROM eng GROUP BY 1),
      |terms AS (SELECT eng.t, mu.n,
      |    CAST(round(eng.x/mu.mu * ln(eng.x/mu.mu), 8) AS DECIMAL(18,8))
      |      AS term
      |  FROM eng JOIN mu ON mu.t = eng.t)
      |SELECT t, max(n) AS n_users,
      |  round(CAST(sum(term) AS DOUBLE)/max(n), 6) AS theil_t
      |FROM terms GROUP BY t ORDER BY t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_did" -> (did _),
    "q_cuped" -> (cuped _),
    "q_theil" -> (theil _))

  val oracle: Map[String, String] = Map(
    "q_did" -> didOracle,
    "q_cuped" -> cupedOracle,
    "q_theil" -> theilOracle)
}
