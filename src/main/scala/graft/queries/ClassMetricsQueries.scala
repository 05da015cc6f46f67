package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #47: the remaining classifier scorecard metrics
  * on the established "value predicts purchase" legs — Matthews
  * correlation + balanced accuracy + F2 (the imbalance-robust
  * complements of q_confusion's precision/recall/F1), the Brier
  * score with its Murphy reliability/resolution/uncertainty
  * decomposition (the probabilistic sibling of q_calibration's
  * reliability diagram), and log-loss with clipped probabilities.
  *
  * Scale notes (100 TB): every query is a single scan contracting to
  * exact counts — a 1-row confusion aggregate, a 10-bin keyed
  * aggregate, a 1-row sum of per-row decimals. All
  * partial-aggregable, no windows, no joins except the bounded
  * bin→total broadcast.
  *
  * Determinism: counts are exact; pseudo-probabilities round to 6dp
  * before any product; per-row ln rounds to 8dp then DECIMAL-sums
  * (q_perplexity convention); per-bin terms round then DECIMAL-sum
  * over the bounded bin domain (D2).
  */
object ClassMetricsQueries extends QueryFamily {

  /** q_mcc — Matthews correlation coefficient, balanced accuracy,
    * and F2 for the q_confusion rule "value > 60 predicts purchase":
    * MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)). */
  def mcc(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      (col("event_type") === "purchase").as("actual"),
      (col("value") > 60.0).as("pred"))
    val tp = col("tp").cast("double"); val fp = col("fp").cast("double")
    val fn = col("fn").cast("double"); val tn = col("tn").cast("double")
    val prec = tp / (tp + fp)
    val rec = tp / (tp + fn)
    e.agg(
        count(when(col("actual") && col("pred"), lit(1))).as("tp"),
        count(when(!col("actual") && col("pred"), lit(1))).as("fp"),
        count(when(col("actual") && !col("pred"), lit(1))).as("fn"),
        count(when(!col("actual") && !col("pred"), lit(1))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round((tp * tn - fp * fn) /
          sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)), 6).as("mcc"),
        round((rec + tn / (tn + fp)) / 2, 6).as("balanced_acc"),
        round(lit(5.0) * prec * rec / (lit(4.0) * prec + rec), 6).as("f2"))
  }

  val mccOracle: String =
    """WITH c AS (SELECT
      |    CAST(count(CASE WHEN event_type = 'purchase' AND value > 60.0 THEN 1 END) AS BIGINT) AS tp,
      |    CAST(count(CASE WHEN event_type <> 'purchase' AND value > 60.0 THEN 1 END) AS BIGINT) AS fp,
      |    CAST(count(CASE WHEN event_type = 'purchase' AND NOT (value > 60.0) THEN 1 END) AS BIGINT) AS fn,
      |    CAST(count(CASE WHEN event_type <> 'purchase' AND NOT (value > 60.0) THEN 1 END) AS BIGINT) AS tn
      |  FROM events)
      |SELECT tp, fp, fn, tn,
      |  round((CAST(tp AS DOUBLE)*CAST(tn AS DOUBLE) -
      |      CAST(fp AS DOUBLE)*CAST(fn AS DOUBLE)) /
      |    sqrt((CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)) *
      |         (CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)) *
      |         (CAST(tn AS DOUBLE)+CAST(fp AS DOUBLE)) *
      |         (CAST(tn AS DOUBLE)+CAST(fn AS DOUBLE))), 6) AS mcc,
      |  round((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)) +
      |         CAST(tn AS DOUBLE)/(CAST(tn AS DOUBLE)+CAST(fp AS DOUBLE)))/2,
      |    6) AS balanced_acc,
      |  round(5.0*(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE))) *
      |        (CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE))) /
      |    (4.0*(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE))) +
      |         (CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)))),
      |    6) AS f2
      |FROM c""".stripMargin

  /** Pseudo-probability leg shared by Brier and log-loss: p = value/500
    * capped at 1 (the q_calibration scaling), 6dp; y = purchase. */
  private val pExpr = "round(least(value/500.0, 1.0), 6)"

  /** q_brier — Brier score and its Murphy decomposition over 10
    * equal-width probability bins: BS = reliability − resolution +
    * uncertainty (identity holds only in expectation per bin mean —
    * all four terms reported independently, each an exact-count /
    * decimal-sum ratio). */
  def brier(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      round(least(col("value") / 500.0, lit(1.0)), 6).as("p"),
      (col("event_type") === "purchase").cast("int").as("y"))
      .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
    val tot = e.agg(count(lit(1)).as("n_tot"),
      sum(col("y")).cast("long").as("y_tot"))
    val bins = e.groupBy(col("bin")).agg(
      count(lit(1)).as("n_b"),
      sum(col("p").cast("decimal(18,6)")).cast("double").as("sp"),
      sum(col("y")).cast("long").as("sy"),
      sum(round((col("p") - col("y")) * (col("p") - col("y")), 6)
        .cast("decimal(18,6)")).cast("double").as("se2"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_b"), col("sp"), col("sy"), col("se2"),
        col("n_tot"), col("y_tot"))
      .withColumn("pb", round(col("sp") / col("n_b").cast("double"), 6))
      .withColumn("yb", round(col("sy").cast("double") /
        col("n_b").cast("double"), 6))
      .withColumn("ybar", round(col("y_tot").cast("double") /
        col("n_tot").cast("double"), 6))
      .agg(
        round(sum(col("se2").cast("decimal(18,6)")).cast("double") /
          first(col("n_tot")).cast("double"), 6).as("brier"),
        round(sum(round(col("n_b").cast("double") *
            (col("pb") - col("yb")) * (col("pb") - col("yb")), 6)
          .cast("decimal(18,6)")).cast("double") /
          first(col("n_tot")).cast("double"), 6).as("reliability"),
        round(sum(round(col("n_b").cast("double") *
            (col("yb") - col("ybar")) * (col("yb") - col("ybar")), 6)
          .cast("decimal(18,6)")).cast("double") /
          first(col("n_tot")).cast("double"), 6).as("resolution"),
        round(first(col("ybar")) * (lit(1.0) - first(col("ybar"))), 6)
          .as("uncertainty"))
  }

  val brierOracle: String =
    s"""WITH e AS (SELECT $pExpr AS p,
      |    CAST(event_type = 'purchase' AS INTEGER) AS y FROM events),
      |b AS (SELECT least(CAST(floor(p*10) AS INTEGER), 9) AS bin, p, y
      |  FROM e),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
      |    CAST(sum(y) AS BIGINT) AS y_tot FROM b),
      |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
      |    CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sp,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(CAST(round((p - y)*(p - y), 6) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS se2
      |  FROM b GROUP BY 1),
      |r AS (SELECT bin, n_b, se2, n_tot,
      |    round(sp/CAST(n_b AS DOUBLE), 6) AS pb,
      |    round(CAST(sy AS DOUBLE)/CAST(n_b AS DOUBLE), 6) AS yb,
      |    round(CAST(y_tot AS DOUBLE)/CAST(n_tot AS DOUBLE), 6) AS ybar
      |  FROM bins CROSS JOIN tot)
      |SELECT
      |  round(CAST(sum(CAST(se2 AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(max(n_tot) AS DOUBLE), 6) AS brier,
      |  round(CAST(sum(CAST(round(CAST(n_b AS DOUBLE)*(pb - yb)*(pb - yb), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(max(n_tot) AS DOUBLE), 6) AS reliability,
      |  round(CAST(sum(CAST(round(CAST(n_b AS DOUBLE)*(yb - ybar)*(yb - ybar), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(max(n_tot) AS DOUBLE), 6) AS resolution,
      |  round(max(ybar)*(1.0 - max(ybar)), 6) AS uncertainty
      |FROM r""".stripMargin

  /** q_log_loss — mean cross-entropy of the same pseudo-probability,
    * clipped to [0.001, 0.999]: per-row ln rounds to 8dp then
    * DECIMAL-sums (q_perplexity convention). */
  def logLoss(s: SparkSession, d: String): DataFrame = {
    val p0 = round(least(col("value") / 500.0, lit(1.0)), 6)
    val p = least(greatest(p0, lit(0.001)), lit(0.999))
    val y = (col("event_type") === "purchase").cast("int")
    val nll = round(-(y * log(p) + (lit(1) - y) * log(lit(1.0) - p)), 8)
      .cast("decimal(18,8)")
    events(s, d).select(nll.as("nll"))
      .agg(count(lit(1)).as("n"), sum(col("nll")).as("s"))
      .select(col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 6)
          .as("log_loss"))
  }

  val logLossOracle: String =
    s"""WITH e AS (SELECT
      |    least(greatest($pExpr, 0.001), 0.999) AS p,
      |    CAST(event_type = 'purchase' AS INTEGER) AS y FROM events),
      |r AS (SELECT CAST(round(-(y*ln(p) + (1 - y)*ln(1.0 - p)), 8)
      |    AS DECIMAL(18,8)) AS nll FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(nll) AS DOUBLE)/CAST(count(*) AS DOUBLE), 6)
      |    AS log_loss
      |FROM r""".stripMargin

  /** q_balanced_acc — the imbalance-robust scorecard at the house
    * threshold (value>60 predicting purchase): balanced accuracy,
    * the geometric mean of sensitivity and specificity, Youden's
    * informedness (TPR+TNR−1), and markedness (PPV+NPV−1) — the
    * four numbers that stay honest when the positive class is the
    * 20% minority accuracy ignores. One conditional-count scan. */
  def balancedAcc(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      (col("event_type") === "purchase").as("actual"),
      (col("value") > 60.0).as("pred"))
    def f(c: String) = col(c).cast("double")
    val tpr = round(f("tp") / (f("tp") + f("fn")), 8)
    val tnr = round(f("tn") / (f("tn") + f("fp")), 8)
    val ppv = round(f("tp") / (f("tp") + f("fp")), 8)
    val npv = round(f("tn") / (f("tn") + f("fn")), 8)
    e.agg(
        count(when(col("actual") && col("pred"), lit(1))).as("tp"),
        count(when(!col("actual") && col("pred"), lit(1))).as("fp"),
        count(when(col("actual") && !col("pred"), lit(1))).as("fn"),
        count(when(!col("actual") && !col("pred"), lit(1))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round((tpr + tnr) / lit(2.0), 6).as("balanced_acc"),
        round(sqrt(round(tpr * tnr, 12)), 6).as("g_mean"),
        round(tpr + tnr - lit(1.0), 6).as("informedness"),
        round(ppv + npv - lit(1.0), 6).as("markedness"))
  }

  val balancedAccOracle: String =
    """WITH c AS (SELECT
      |    CAST(count(CASE WHEN event_type = 'purchase' AND value > 60.0
      |      THEN 1 END) AS BIGINT) AS tp,
      |    CAST(count(CASE WHEN event_type <> 'purchase' AND value > 60.0
      |      THEN 1 END) AS BIGINT) AS fp,
      |    CAST(count(CASE WHEN event_type = 'purchase'
      |      AND NOT value > 60.0 THEN 1 END) AS BIGINT) AS fn,
      |    CAST(count(CASE WHEN event_type <> 'purchase'
      |      AND NOT value > 60.0 THEN 1 END) AS BIGINT) AS tn
      |  FROM events),
      |r AS (SELECT tp, fp, fn, tn,
      |    round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)
      |      + CAST(fn AS DOUBLE)), 8) AS tpr,
      |    round(CAST(tn AS DOUBLE)/(CAST(tn AS DOUBLE)
      |      + CAST(fp AS DOUBLE)), 8) AS tnr,
      |    round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)
      |      + CAST(fp AS DOUBLE)), 8) AS ppv,
      |    round(CAST(tn AS DOUBLE)/(CAST(tn AS DOUBLE)
      |      + CAST(fn AS DOUBLE)), 8) AS npv
      |  FROM c)
      |SELECT tp, fp, fn, tn,
      |  round((tpr + tnr)/2.0, 6) AS balanced_acc,
      |  round(sqrt(round(tpr*tnr, 12)), 6) AS g_mean,
      |  round(tpr + tnr - 1.0, 6) AS informedness,
      |  round(ppv + npv - 1.0, 6) AS markedness
      |FROM r""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mcc" -> (mcc _),
    "q_brier" -> (brier _),
    "q_log_loss" -> (logLoss _),
    "q_balanced_acc" -> (balancedAcc _))

  val oracle: Map[String, String] = Map(
    "q_mcc" -> mccOracle,
    "q_brier" -> brierOracle,
    "q_log_loss" -> logLossOracle,
    "q_balanced_acc" -> balancedAccOracle)
}
