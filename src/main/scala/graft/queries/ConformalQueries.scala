package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #102: split conformal prediction — the
  * distribution-free uncertainty quantification a production forecast
  * pipeline wraps around any point model: fit on a train window,
  * take the ⌈0.9(n+1)⌉-th smallest absolute residual on a held-out
  * calibration window as the interval half-width q̂, and report the
  * guaranteed-coverage check on the test window.
  *
  * Scale notes (100 TB): the series contracts to the bounded
  * (type, day) grid; the 70/15/15 chronological split is a broadcast
  * horizon comparison (no shuffle); the per-type OLS is an exact
  * 2×2 moment solve; q̂ is an ORDER STATISTIC on the calibration
  * slice — a type-partitioned rank window over ≤|days| rows, picked
  * by the exact ⌈·⌉ index, never a global sort; coverage is one
  * conditional aggregate against the broadcast q̂ row.
  *
  * Determinism (D1–D5): day indices exact integers; coefficients
  * 8dp-rounded from decimal moments (Bass convention); residuals 6dp
  * before ranking with the day as tiebreak; the ceil index is
  * integer algebra in both engines. */
object ConformalQueries extends QueryFamily {

  /** q_conformal — per type: the conformal half-width q̂ at 90% and
    * its empirical test coverage. */
  def conformal(s: SparkSession, d: String): DataFrame = {
    // (type, day) grid feeds the horizon probe + every split/score
    // branch — materialize once (round-8 scan gate: was 12 events
    // scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val daily = events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))
      .truncatedCheckpoint()
    val horizon = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val idx = daily.crossJoin(broadcast(horizon))
      .select(col("t"), col("v"),
        datediff(col("day"), col("d0")).as("i"),
        datediff(col("d1"), col("d0")).as("span"), col("day"))
      .withColumn("part",
        when(col("i") < col("span") * 0.7, lit("train"))
          .when(col("i") < col("span") * 0.85, lit("cal"))
          .otherwise(lit("test")))
    def f(c: String) = col(c).cast("double")
    val m = idx.filter(col("part") === "train").groupBy(col("t")).agg(
      count(lit(1)).as("n_train"),
      sum(col("i")).as("si"),
      sum(col("i") * col("i")).as("sii"),
      sum(col("v").cast("decimal(18,4)")).as("sv"),
      sum(round(col("i") * col("v"), 4).cast("decimal(27,4)")).as("siv"))
    val nD = col("n_train").cast("double")
    val b1 = (nD * f("siv") - f("si") * f("sv")) /
      (nD * f("sii") - f("si") * f("si"))
    val coef = m.select(col("t"), col("n_train"),
      round(b1, 8).as("b1"),
      round((f("sv") - round(b1, 8) * f("si")) / nD, 8).as("b0"))
    val scored = idx.join(broadcast(coef), "t")
      .withColumn("resid",
        round(abs(col("v") - (col("b0") + col("b1") * col("i"))), 6))
    val cal = scored.filter(col("part") === "cal")
    val calN = cal.groupBy(col("t")).agg(count(lit(1)).as("n_cal"))
      .withColumn("k",
        ceil(lit(0.9) * (col("n_cal") + 1).cast("double")).cast("long"))
    val wr = Window.partitionBy(col("t"))
      .orderBy(col("resid"), col("day"))
    val qhat = cal.withColumn("rn", row_number().over(wr))
      .join(broadcast(calN), "t")
      .filter(col("rn") === least(col("k"), col("n_cal")))
      .select(col("t"), col("n_cal"), col("resid").as("q_hat"))
    scored.filter(col("part") === "test")
      .join(broadcast(qhat), "t")
      .groupBy(col("t"), col("n_cal"), col("q_hat"))
      .agg(count(lit(1)).as("n_test"),
        count(when(col("resid") <= col("q_hat"), lit(1))).as("n_covered"))
      .select(col("t"), col("n_cal"), col("n_test"), col("q_hat"),
        round(col("n_covered").cast("double")
          / col("n_test").cast("double"), 6).as("coverage"))
      .orderBy(col("t"))
  }

  val conformalOracle: String =
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
      |      AS v
      |  FROM events GROUP BY 1, 2),
      |hz AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |idx AS (SELECT t, v, day,
      |    date_diff('day', d0, day) AS i,
      |    date_diff('day', d0, d1) AS span,
      |    CASE WHEN date_diff('day', d0, day)
      |        < date_diff('day', d0, d1)*CAST(0.7 AS DOUBLE) THEN 'train'
      |      WHEN date_diff('day', d0, day)
      |        < date_diff('day', d0, d1)*CAST(0.85 AS DOUBLE) THEN 'cal'
      |      ELSE 'test' END AS part
      |  FROM daily, hz),
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_train,
      |    CAST(sum(i) AS BIGINT) AS si,
      |    CAST(sum(i*i) AS BIGINT) AS sii,
      |    sum(CAST(v AS DECIMAL(18,4))) AS sv,
      |    sum(CAST(round(i*v, 4) AS DECIMAL(27,4))) AS siv
      |  FROM idx WHERE part = 'train' GROUP BY t),
      |coef AS (SELECT t, n_train,
      |    round((CAST(n_train AS DOUBLE)*CAST(siv AS DOUBLE)
      |      - CAST(si AS DOUBLE)*CAST(sv AS DOUBLE))
      |      /(CAST(n_train AS DOUBLE)*CAST(sii AS DOUBLE)
      |      - CAST(si AS DOUBLE)*CAST(si AS DOUBLE)), 8) AS b1,
      |    round((CAST(sv AS DOUBLE)
      |      - round((CAST(n_train AS DOUBLE)*CAST(siv AS DOUBLE)
      |        - CAST(si AS DOUBLE)*CAST(sv AS DOUBLE))
      |        /(CAST(n_train AS DOUBLE)*CAST(sii AS DOUBLE)
      |        - CAST(si AS DOUBLE)*CAST(si AS DOUBLE)), 8)
      |        *CAST(si AS DOUBLE))/CAST(n_train AS DOUBLE), 8) AS b0
      |  FROM m),
      |scored AS (SELECT idx.t, idx.day, idx.part,
      |    round(abs(v - (b0 + b1*i)), 6) AS resid
      |  FROM idx JOIN coef ON coef.t = idx.t),
      |caln AS (SELECT t, CAST(count(*) AS BIGINT) AS n_cal,
      |    CAST(ceil(CAST(0.9 AS DOUBLE)*(count(*) + 1)) AS BIGINT) AS k
      |  FROM scored WHERE part = 'cal' GROUP BY t),
      |ranked AS (SELECT s.t, resid,
      |    row_number() OVER (PARTITION BY s.t ORDER BY resid, day)
      |      AS rn
      |  FROM scored s WHERE part = 'cal'),
      |qh AS (SELECT r.t, n_cal, resid AS q_hat
      |  FROM ranked r JOIN caln ON caln.t = r.t
      |  WHERE rn = least(k, n_cal))
      |SELECT s.t, n_cal, CAST(count(*) AS BIGINT) AS n_test, q_hat,
      |  round(CAST(count(CASE WHEN resid <= q_hat THEN 1 END)
      |      AS DOUBLE)/CAST(count(*) AS DOUBLE), 6) AS coverage
      |FROM scored s JOIN qh ON qh.t = s.t
      |WHERE part = 'test'
      |GROUP BY s.t, n_cal, q_hat
      |ORDER BY s.t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_conformal" -> (conformal _))

  val oracle: Map[String, String] = Map(
    "q_conformal" -> conformalOracle)
}
