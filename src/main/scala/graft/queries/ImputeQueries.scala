package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #118: imputation strategy evaluation and the
  * data-quality scorecard — the two operational reports a pipeline
  * runs before training: WHICH imputation to use (measured, not
  * guessed) and whether the batch passes its quality gates.
  *
  * q_impute_eval masks a deterministic 10% of event values
  * (content-addressed md5 — the q_subsample_ci convention, so the
  * "missing" set is identical in both engines and across runs), then
  * scores three imputers against the held-back truth: global mean,
  * per-type mean, and last-observation-carried-forward (a
  * user-partitioned ordered window). One scan builds all three
  * estimates; one fold scores them.
  *
  * q_dq_scorecard evaluates five declarative rule families (range,
  * enum, referential, uniqueness, temporal sanity) into a fixed
  * scorecard — each rule an independent conditional count, unioned.
  *
  * Determinism (D1–D5): the mask is md5-prefix membership; means
  * 8dp off decimal folds; LOCF picks the PREVIOUS unmasked value by
  * (ts2, event_id) order — tie-free; squared errors at 4dp into
  * decimal sums; rates 6dp. */
object ImputeQueries extends QueryFamily {

  /** q_impute_eval — RMSE of three imputers on the masked 10%. */
  def imputeEval(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type").as("t"), col("ts2"), col("value"))
      .withColumn("masked",
        substring(md5(concat(col("event_id").cast("string"),
          lit(":mask"))), 1, 1) === "0")
    val gm = base.filter(!col("masked"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("g_mean"))
    val tm = base.filter(!col("masked")).groupBy(col("t"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double")
        / count(lit(1)).cast("double"), 8).as("t_mean"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val locf = base.withColumn("prev_obs",
      last(when(!col("masked"), col("value")), ignoreNulls = true).over(w))
    val scored = locf.filter(col("masked"))
      .join(broadcast(tm), "t").crossJoin(broadcast(gm))
      .select(col("value"),
        col("g_mean").as("e1"), col("t_mean").as("e2"),
        coalesce(col("prev_obs"), col("g_mean")).as("e3"))
    def rmse(e: String) = round(sqrt(round(
      sum(round((col("value") - col(e)) * (col("value") - col(e)), 4)
        .cast("decimal(27,4)")).cast("double")
        / count(lit(1)).cast("double"), 8)), 4)
    scored.agg(count(lit(1)).as("n_masked"),
      rmse("e1").as("rmse_global_mean"),
      rmse("e2").as("rmse_type_mean"),
      rmse("e3").as("rmse_locf"))
  }

  val imputeEvalOracle: String =
    """WITH base AS (SELECT event_id, user_id, event_type AS t, ts,
      |    value,
      |    substr(md5(CAST(event_id AS VARCHAR) || ':mask'), 1, 1) = '0'
      |      AS masked
      |  FROM events),
      |gm AS (SELECT round(CAST(sum(CAST(value AS DECIMAL(18,2)))
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 8) AS g_mean
      |  FROM base WHERE NOT masked),
      |tm AS (SELECT t, round(CAST(sum(CAST(value AS DECIMAL(18,2)))
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 8) AS t_mean
      |  FROM base WHERE NOT masked GROUP BY t),
      |locf AS (SELECT base.*,
      |    last_value(CASE WHEN NOT masked THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_obs
      |  FROM base),
      |scored AS (SELECT value, g_mean AS e1, t_mean AS e2,
      |    coalesce(prev_obs, g_mean) AS e3
      |  FROM locf JOIN tm ON tm.t = locf.t, gm
      |  WHERE masked)
      |SELECT CAST(count(*) AS BIGINT) AS n_masked,
      |  round(sqrt(round(CAST(sum(CAST(round((value - e1)*(value - e1),
      |    4) AS DECIMAL(27,4))) AS DOUBLE)/CAST(count(*) AS DOUBLE),
      |    8)), 4) AS rmse_global_mean,
      |  round(sqrt(round(CAST(sum(CAST(round((value - e2)*(value - e2),
      |    4) AS DECIMAL(27,4))) AS DOUBLE)/CAST(count(*) AS DOUBLE),
      |    8)), 4) AS rmse_type_mean,
      |  round(sqrt(round(CAST(sum(CAST(round((value - e3)*(value - e3),
      |    4) AS DECIMAL(27,4))) AS DOUBLE)/CAST(count(*) AS DOUBLE),
      |    8)), 4) AS rmse_locf
      |FROM scored""".stripMargin

  /** q_dq_scorecard — five rule families over lineitem/orders as a
    * fixed pass-rate scorecard. */
  def dqScorecard(s: SparkSession, d: String): DataFrame = {
    // TWO lineitem passes instead of four (round-7): the two
    // column-range rules share one aggregate over the bare scan, and
    // the two referential rules share one LEFT join — r4's n_rows is
    // the left-join row count, r5's n_rows is the matched subset
    // (count of non-null o_orderkey; an inner join's count(*)), and
    // r5's pass predicate is null-rejecting so the unmatched padding
    // rows never count. Counts are identical longs, so every
    // pass_rate is bit-identical to the per-rule form.
    val li = lineitem(s, d)
    def rows(name: String, n: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column) =
      struct(lit(name).as("rule"), n.as("n_rows"), p.as("n_pass"))
    def emit(agg: DataFrame, pairs: org.apache.spark.sql.Column*)
        : DataFrame =
      agg.select(explode(array(pairs: _*)).as("t"))
        .select(col("t.rule").as("rule"), col("t.n_rows").as("n_rows"),
          col("t.n_pass").as("n_pass"),
          round(col("t.n_pass").cast("double")
            / col("t.n_rows").cast("double"), 6).as("pass_rate"))
    val bare = li.agg(
      count(lit(1)).as("n"),
      count(when(col("l_quantity") >= 1 && col("l_quantity") <= 50,
        lit(1))).as("p_qty"),
      count(when(col("l_discount") >= 0.0 && col("l_discount") <= 0.1,
        lit(1))).as("p_disc"))
    val r12 = emit(bare,
      rows("li_qty_range", col("n"), col("p_qty")),
      rows("li_discount_range", col("n"), col("p_disc")))
    val r3 = emit(
      orders(s, d).agg(count(lit(1)).as("n"),
        count(when(col("o_orderstatus").isin("F", "O", "P"), lit(1)))
          .as("p_status")),
      rows("ord_status_enum", col("n"), col("p_status")))
    val joined = li
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_all"),
        count(col("o_orderkey")).as("n_matched"),
        count(when(col("l_shipdate") >= col("o_orderdate"), lit(1)))
          .as("p_ship"))
    val r45 = emit(joined,
      rows("li_order_ref", col("n_all"), col("n_matched")),
      rows("li_ship_after_order", col("n_matched"), col("p_ship")))
    Seq(r12, r3, r45).reduce(_ unionByName _)
      .orderBy(col("rule"))
  }

  val dqScorecardOracle: String =
    """SELECT * FROM (
      |SELECT 'li_qty_range' AS rule,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
      |    THEN 1 END) AS BIGINT) AS n_pass,
      |  round(CAST(count(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
      |    THEN 1 END) AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
      |    AS pass_rate
      |FROM lineitem
      |UNION ALL
      |SELECT 'li_discount_range',
      |  CAST(count(*) AS BIGINT),
      |  CAST(count(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1
      |    THEN 1 END) AS BIGINT),
      |  round(CAST(count(CASE WHEN l_discount >= 0.0
      |    AND l_discount <= 0.1 THEN 1 END) AS DOUBLE)
      |    /CAST(count(*) AS DOUBLE), 6)
      |FROM lineitem
      |UNION ALL
      |SELECT 'ord_status_enum',
      |  CAST(count(*) AS BIGINT),
      |  CAST(count(CASE WHEN o_orderstatus IN ('F','O','P')
      |    THEN 1 END) AS BIGINT),
      |  round(CAST(count(CASE WHEN o_orderstatus IN ('F','O','P')
      |    THEN 1 END) AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
      |FROM orders
      |UNION ALL
      |SELECT 'li_order_ref',
      |  CAST(count(*) AS BIGINT),
      |  CAST(count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
      |    AS BIGINT),
      |  round(CAST(count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
      |    AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |UNION ALL
      |SELECT 'li_ship_after_order',
      |  CAST(count(*) AS BIGINT),
      |  CAST(count(CASE WHEN l_shipdate >= o_orderdate THEN 1 END)
      |    AS BIGINT),
      |  round(CAST(count(CASE WHEN l_shipdate >= o_orderdate
      |    THEN 1 END) AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |) t ORDER BY rule""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_impute_eval" -> (imputeEval _),
    "q_dq_scorecard" -> (dqScorecard _))

  val oracle: Map[String, String] = Map(
    "q_impute_eval" -> imputeEvalOracle,
    "q_dq_scorecard" -> dqScorecardOracle)
}
