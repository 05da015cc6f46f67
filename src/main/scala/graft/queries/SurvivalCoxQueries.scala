package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening: Cox proportional hazards — the
  * missing estimator of the survival shelf (q_survival's KM curve,
  * q_nelson_aalen, q_logrank and q_rmst describe and compare; Cox
  * RELATES a covariate to the hazard). The score test and one-step
  * estimate at β = 0 are closed forms over risk-set moments:
  * U = Σ_deaths (x_i − x̄(R_t)), I = Σ_deaths (x²̄(R_t) − x̄(R_t)²),
  * z = U/√I, β̂₁ = U/I (Breslow tie handling: tied deaths share the
  * risk set — exactly what the day-grid formulation produces). */
object SurvivalCoxQueries extends QueryFamily {

  /** q_cox_score — customers as units: follow-up time = days from a
    * fixed epoch to the LAST order day, event = the customer has a
    * finalized ('F') order, covariate = scaled account balance.
    * Risk-set moments come from ONE per-day contraction plus a
    * suffix self-join of the distinct-day grid (t' ≥ t) — the grid
    * is calendar-bounded, so the pair join is a bounded contraction
    * at every data scale and needs no partition-less window. */
  def coxScore(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val perCust = orders(s, d).groupBy(col("o_custkey"))
      .agg(datediff(to_date(max(col("o_orderdate"))),
          to_date(lit("1990-01-01"))).as("t"),
        max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("ev"))
    val units = customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("t"), col("ev"),
        round(col("c_acctbal") / 10000.0, 8).as("x"))
      .truncatedCheckpoint() // feeds the day contraction AND the death terms
    val perDay = units.groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("x").cast("decimal(18,8)")).as("sx"),
        sum(round(col("x") * col("x"), 10).cast("decimal(27,10)")).as("sxx"))
    // suffix moments over the bounded day grid: S(t) = Σ_{t' >= t}
    val days = perDay.select(col("t").as("t0"))
    val suffix = days.join(broadcast(perDay), col("t") >= col("t0"))
      .groupBy(col("t0"))
      .agg(sum(col("cnt")).as("s_n"), sum(col("sx")).as("s_x"),
        sum(col("sxx")).as("s_xx"))
      .select(col("t0"), col("s_n"),
        round(col("s_x").cast("double") / col("s_n"), 8).as("xbar"),
        round(col("s_xx").cast("double") / col("s_n"), 8).as("x2bar"))
    val terms = units.filter(col("ev") === 1)
      .join(broadcast(suffix), col("t") === col("t0"))
      .select(round(col("x") - col("xbar"), 8).cast("decimal(18,8)")
          .as("u_t"),
        round(col("x2bar") - col("xbar") * col("xbar"), 8)
          .cast("decimal(18,8)").as("i_t"))
    val folds = terms.agg(count(lit(1)).as("n_events"),
      sum(col("u_t")).as("u_d"), sum(col("i_t")).as("i_d"))
    val n = units.agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(folds))
      .select(col("n"), col("n_events"),
        round(col("u_d").cast("double"), 6).as("u_score"),
        round(col("i_d").cast("double"), 6).as("info_i"),
        // i_d <= 0 (degenerate information) guards z/beta1 to NULL:
        // Spark nulls 0/0 and NaNs sqrt(<0) where DuckDB errors or
        // yields inf — short-circuit identically in both engines
        when(col("i_d").cast("double") > 0.0,
          round(col("u_d").cast("double")
            / sqrt(col("i_d").cast("double")), 6)).as("z"),
        when(col("i_d").cast("double") > 0.0,
          round(col("u_d").cast("double") / col("i_d").cast("double"), 6))
          .as("beta1"))
  }

  val coxScoreOracle: String =
    """WITH perc AS (SELECT o_custkey,
      |    date_diff('day', DATE '1990-01-01',
      |      CAST(max(o_orderdate) AS DATE)) AS t,
      |    max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
      |  FROM orders GROUP BY 1),
      |units AS (SELECT c_custkey, t, ev,
      |    round(c_acctbal/10000.0, 8) AS x
      |  FROM customer JOIN perc ON o_custkey = c_custkey),
      |perday AS (SELECT t, count(*) AS cnt,
      |    sum(CAST(x AS DECIMAL(18,8))) AS sx,
      |    sum(CAST(round(x*x, 10) AS DECIMAL(27,10))) AS sxx
      |  FROM units GROUP BY 1),
      |suffix AS (SELECT d.t0, sum(p.cnt) AS s_n,
      |    round(CAST(sum(p.sx) AS DOUBLE)/sum(p.cnt), 8) AS xbar,
      |    round(CAST(sum(p.sxx) AS DOUBLE)/sum(p.cnt), 8) AS x2bar
      |  FROM (SELECT t AS t0 FROM perday) d
      |  JOIN perday p ON p.t >= d.t0
      |  GROUP BY 1),
      |terms AS (SELECT
      |    CAST(round(u.x - s.xbar, 8) AS DECIMAL(18,8)) AS u_t,
      |    CAST(round(s.x2bar - s.xbar*s.xbar, 8) AS DECIMAL(18,8)) AS i_t
      |  FROM units u JOIN suffix s ON s.t0 = u.t
      |  WHERE u.ev = 1),
      |folds AS (SELECT count(*) AS n_events, sum(u_t) AS u_d,
      |    sum(i_t) AS i_d
      |  FROM terms),
      |nn AS (SELECT count(*) AS n FROM units)
      |SELECT n, n_events,
      |  round(CAST(u_d AS DOUBLE), 6) AS u_score,
      |  round(CAST(i_d AS DOUBLE), 6) AS info_i,
      |  CASE WHEN CAST(i_d AS DOUBLE) > 0 THEN
      |    round(CAST(u_d AS DOUBLE)/sqrt(CAST(i_d AS DOUBLE)), 6)
      |  END AS z,
      |  CASE WHEN CAST(i_d AS DOUBLE) > 0 THEN
      |    round(CAST(u_d AS DOUBLE)/CAST(i_d AS DOUBLE), 6)
      |  END AS beta1
      |FROM nn CROSS JOIN folds""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cox_score" -> (coxScore _))

  val oracle: Map[String, String] = Map(
    "q_cox_score" -> coxScoreOracle)
}
