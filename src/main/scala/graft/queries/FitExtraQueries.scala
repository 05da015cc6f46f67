package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-11 continuation widening: three model-fitting entries that
  * fill real gaps in the fit shelf (quantile loss, a logistic-model
  * Newton step, and the recommender ALS half-step) — each expressed
  * as the house iterative-ML pattern: bounded broadcast parameter
  * grids / closed-form normal equations over ONE decimal moment fold,
  * never a driver loop, never a per-row UDF.
  *
  * Determinism (SURVEY §2 D1–D5): inputs pre-rounded (6–8dp), per-row
  * loss/product terms rounded then summed as exact DECIMAL, final
  * parameters re-rounded 8dp; grid argmins tie-break on the full
  * (loss, b0, b1) key so equal-loss grid points are deterministic. */
object FitExtraQueries extends QueryFamily {

  /** q_quantile_reg — pinball(τ)-loss regression of the lineitem
    * price-per-1k on quantity over a bounded literal grid (5 b0 × 8
    * b1 × 2 τ = 80 candidates), argmin per τ. The grid is the scale
    * shape: 80 broadcast rows against the fact table, ONE map-side
    * partial-aggregated fold, O(grid) result — the same contract as
    * q_adstock's λ grid. Quantile regression itself (τ=0.9 tail
    * pricing vs τ=0.5 median fit) was absent from the robust-fit
    * shelf (q_huber/q_theil_sen cover M- and rank-estimators). */
  def quantileReg(s: SparkSession, d: String): DataFrame = {
    // the 80× grid expansion is COMPUTE-bound (80 pinball terms per
    // input row), so it gets its own cores-sized stage (the recorded
    // round-3 levenshtein rule): without the exchange the fold runs
    // in the cached scan's 1-3 partitions — measured 47 s solo at
    // sf0.1 vs ~3 s exchanged. The exchanged payload is two doubles
    // per row, orders of magnitude smaller than the stage's compute
    // at every scale.
    val li = lineitem(s, d).select(
        round(col("l_extendedprice") / 1000.0, 6).as("y"),
        col("l_quantity").as("x"))
      .repartition(s.sparkContext.defaultParallelism)
    val grid = s.range(1)
      .select(explode(expr("sequence(-2, 2)")).as("b0"))
      .select(col("b0"), explode(expr("sequence(4, 11)")).as("b1i"))
      .select(col("b0"), col("b1i"),
        explode(array(lit(5), lit(9))).as("tau_i"))
    val scored = li.crossJoin(broadcast(grid))
      .withColumn("pred",
        col("b0").cast("double") + round(col("b1i") * 0.2, 1) * col("x"))
      .withColumn("lrow", round((col("y") - col("pred")) *
        (col("tau_i") / 10.0 -
          when(col("y") < col("pred"), 1.0).otherwise(0.0)), 6)
        .cast("decimal(28,6)"))
      .groupBy(col("tau_i"), col("b0"), col("b1i"))
      .agg(count(lit(1)).as("n_obs"), sum(col("lrow")).as("loss_d"))
    val best = scored.withColumn("rn", row_number().over(Window
        .partitionBy(col("tau_i"))
        .orderBy(col("loss_d"), col("b0"), col("b1i"))))
      .filter(col("rn") === 1)
    best.select(
      round(col("tau_i") / 10.0, 1).as("tau"),
      col("b0").cast("long").as("b0"),
      round(col("b1i") * 0.2, 1).as("b1"),
      col("n_obs"),
      round(col("loss_d").cast("double") / col("n_obs"), 6).as("avg_loss"))
      .orderBy(col("tau"))
  }

  val quantileRegOracle: String =
    """WITH li AS (SELECT round(l_extendedprice/1000.0, 6) AS y,
      |    l_quantity AS x FROM lineitem),
      |grid AS (SELECT b0, b1i, tau_i
      |  FROM (SELECT unnest(generate_series(-2, 2)) AS b0),
      |       (SELECT unnest(generate_series(4, 11)) AS b1i),
      |       (SELECT UNNEST([5, 9]) AS tau_i)),
      |scored AS (SELECT tau_i, b0, b1i, count(*) AS n_obs,
      |    sum(CAST(round((y - (CAST(b0 AS DOUBLE) + round(b1i*0.2, 1)*x)) *
      |      (tau_i/10.0 - CASE WHEN y < (CAST(b0 AS DOUBLE)
      |          + round(b1i*0.2, 1)*x) THEN 1.0 ELSE 0.0 END), 6)
      |      AS DECIMAL(28,6))) AS loss_d
      |  FROM li CROSS JOIN grid GROUP BY 1, 2, 3),
      |best AS (SELECT *, row_number() OVER (PARTITION BY tau_i
      |    ORDER BY loss_d, b0, b1i) AS rn FROM scored)
      |SELECT round(tau_i/10.0, 1) AS tau, CAST(b0 AS BIGINT) AS b0,
      |  round(b1i*0.2, 1) AS b1, n_obs,
      |  round(CAST(loss_d AS DOUBLE)/n_obs, 6) AS avg_loss
      |FROM best WHERE rn = 1 ORDER BY tau""".stripMargin

  /** q_logit_step — one Newton–Raphson step for the logistic model
    * P(o_orderstatus = 'F' | totalprice) from β = 0. At the zero
    * init the Hessian is XᵀX/4 and the gradient Xᵀ(y − ½), so the
    * step is the CLOSED FORM β₁ = 4(XᵀX)⁻¹Xᵀ(y − ½): one decimal
    * moment fold (n, Σx, Σx², Σ(y−½), Σx(y−½)), a 2×2 inverse in
    * plain algebra, then one scoring pass for train log-loss and
    * accuracy against the broadcast β row — the GLM sibling of
    * q_linreg2's OLS and q_gmm_em's unrolled EM. */
  def logitStep(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(
      round(col("o_totalprice") / 100000.0, 8).as("x"),
      when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
    val m = o.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,8)")).as("sx"),
      sum(round(col("x") * col("x"), 10).cast("decimal(27,10)")).as("sxx"),
      sum((col("y") - 0.5).cast("decimal(18,8)")).as("sy"),
      sum(round(col("x") * (col("y") - 0.5), 10).cast("decimal(27,10)"))
        .as("sxy"))
    def f(c: String) = col(c).cast("double")
    val det = f("n") * f("sxx") - f("sx") * f("sx")
    val beta = m.select(col("n"),
      round(lit(4.0) * (f("sxx") * f("sy") - f("sx") * f("sxy")) / det, 8)
        .as("beta0"),
      round(lit(4.0) * (f("n") * f("sxy") - f("sx") * f("sy")) / det, 8)
        .as("beta1"))
    val z = round(col("beta0") + col("beta1") * col("x"), 8)
    // clamp away exact 0/1 saturation (|z| > ~23 rounds p to 0.0/1.0
    // at 10dp): Spark log(0) yields NULL where DuckDB ln(0) raises,
    // so the log arguments must never reach 0 in either engine
    val p = least(greatest(round(lit(1.0) / (lit(1.0) + exp(-z)), 10),
      lit(1.0e-10)), lit(0.9999999999))
    o.crossJoin(broadcast(beta))
      .withColumn("p", p)
      .withColumn("llrow", round(-(col("y") * log(col("p")) +
        (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))), 8)
        .cast("decimal(18,8)"))
      .withColumn("correct",
        when((col("p") >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
      .groupBy(col("n"), col("beta0"), col("beta1"))
      .agg(sum(col("llrow")).as("sll"), sum(col("correct")).as("ncorrect"))
      .select(col("n"), col("beta0"), col("beta1"),
        round(col("sll").cast("double") / col("n"), 6).as("avg_ll"),
        round(col("ncorrect").cast("double") / col("n"), 6).as("acc"))
  }

  val logitStepOracle: String =
    """WITH o AS (SELECT round(o_totalprice/100000.0, 8) AS x,
      |    CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
      |  FROM orders),
      |m AS (SELECT count(*) AS n,
      |    sum(CAST(x AS DECIMAL(18,8))) AS sx,
      |    sum(CAST(round(x*x, 10) AS DECIMAL(27,10))) AS sxx,
      |    sum(CAST(y - 0.5 AS DECIMAL(18,8))) AS sy,
      |    sum(CAST(round(x*(y - 0.5), 10) AS DECIMAL(27,10))) AS sxy
      |  FROM o),
      |beta AS (SELECT n,
      |    round(4.0*(CAST(sxx AS DOUBLE)*CAST(sy AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sxy AS DOUBLE))
      |      /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 8) AS beta0,
      |    round(4.0*(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |      /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 8) AS beta1
      |  FROM m),
      |sc AS (SELECT n, beta0, beta1,
      |    least(greatest(
      |      round(1.0/(1.0 + exp(-round(beta0 + beta1*x, 8))), 10),
      |      0.0000000001), 0.9999999999) AS p, y
      |  FROM o CROSS JOIN beta)
      |SELECT n, beta0, beta1,
      |  round(CAST(sum(CAST(round(-(y*ln(p) + (1.0 - y)*ln(1.0 - p)), 8)
      |    AS DECIMAL(18,8))) AS DOUBLE)/n, 6) AS avg_ll,
      |  round(CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0)
      |    THEN 1 ELSE 0 END) AS DOUBLE)/n, 6) AS acc
      |FROM sc GROUP BY 1, 2, 3""".stripMargin

  /** q_als_step — one alternating-least-squares HALF-STEP of a rank-2
    * matrix factorization of the customer×part quantity matrix: user
    * factors are FIXED deterministic hash-derived values (the
    * "previous iteration" — splitmix-style modular mixes of the
    * custkey, exactly reproducible in SQL), and every part solves its
    * 2×2 ridge normal equations (λ = 0.1) in closed form from one
    * keyed moment fold. This is the distributed-ALS inner loop shape
    * (Koren/Hu-style implicit feedback solve): ratings shuffle once
    * on the join key, factors contract per item — no driver loop, no
    * gradient iteration, O(items) output. */
  def alsStep(s: SparkSession, d: String): DataFrame = {
    val r = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(sum(col("l_quantity")).as("r"))
    val f = r
      .withColumn("u1",
        round((col("u") * 37L + 11L) % 97L / 97.0 - 0.5, 8))
      .withColumn("u2",
        round((col("u") * 53L + 7L) % 89L / 89.0 - 0.5, 8))
    val m = f.groupBy(col("i"))
      .agg(count(lit(1)).as("n_r"),
        sum(round(col("u1") * col("u1"), 10).cast("decimal(27,10)"))
          .as("s11"),
        sum(round(col("u1") * col("u2"), 10).cast("decimal(27,10)"))
          .as("s12"),
        sum(round(col("u2") * col("u2"), 10).cast("decimal(27,10)"))
          .as("s22"),
        sum(round(col("u1") * col("r"), 8).cast("decimal(24,8)")).as("sb1"),
        sum(round(col("u2") * col("r"), 8).cast("decimal(24,8)")).as("sb2"))
    def dd(c: String) = col(c).cast("double")
    val a11 = dd("s11") + 0.1
    val a22 = dd("s22") + 0.1
    val a12 = dd("s12")
    val det = a11 * a22 - a12 * a12
    m.select(col("i").as("l_partkey"), col("n_r"),
        round((a22 * dd("sb1") - a12 * dd("sb2")) / det, 8).as("t1"),
        round((a11 * dd("sb2") - a12 * dd("sb1")) / det, 8).as("t2"))
      .orderBy(col("l_partkey"))
  }

  val alsStepOracle: String =
    """WITH r AS (SELECT o.o_custkey AS u, l.l_partkey AS i,
      |    sum(l.l_quantity) AS r
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2),
      |f AS (SELECT i, r,
      |    round(((u*37 + 11) % 97)/97.0 - 0.5, 8) AS u1,
      |    round(((u*53 + 7) % 89)/89.0 - 0.5, 8) AS u2
      |  FROM r),
      |m AS (SELECT i, count(*) AS n_r,
      |    sum(CAST(round(u1*u1, 10) AS DECIMAL(27,10))) AS s11,
      |    sum(CAST(round(u1*u2, 10) AS DECIMAL(27,10))) AS s12,
      |    sum(CAST(round(u2*u2, 10) AS DECIMAL(27,10))) AS s22,
      |    sum(CAST(round(u1*r, 8) AS DECIMAL(24,8))) AS sb1,
      |    sum(CAST(round(u2*r, 8) AS DECIMAL(24,8))) AS sb2
      |  FROM f GROUP BY 1)
      |SELECT i AS l_partkey, n_r,
      |  round(((CAST(s22 AS DOUBLE) + 0.1)*CAST(sb1 AS DOUBLE)
      |    - CAST(s12 AS DOUBLE)*CAST(sb2 AS DOUBLE))
      |    /((CAST(s11 AS DOUBLE) + 0.1)*(CAST(s22 AS DOUBLE) + 0.1)
      |      - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE)), 8) AS t1,
      |  round(((CAST(s11 AS DOUBLE) + 0.1)*CAST(sb2 AS DOUBLE)
      |    - CAST(s12 AS DOUBLE)*CAST(sb1 AS DOUBLE))
      |    /((CAST(s11 AS DOUBLE) + 0.1)*(CAST(s22 AS DOUBLE) + 0.1)
      |      - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE)), 8) AS t2
      |FROM m ORDER BY l_partkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quantile_reg" -> (quantileReg _),
    "q_logit_step" -> (logitStep _),
    "q_als_step" -> (alsStep _))

  val oracle: Map[String, String] = Map(
    "q_quantile_reg" -> quantileRegOracle,
    "q_logit_step" -> logitStepOracle,
    "q_als_step" -> alsStepOracle)
}
