package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #3: model-evaluation and statistical-audit
  * operators — the metrics a training-data pipeline computes to grade
  * classifiers and rankers built on the corpus: exact ROC AUC
  * (Mann–Whitney), confusion-matrix precision/recall/F1, chi-squared
  * independence, NDCG@k, mean reciprocal rank, and a Benford
  * first-digit audit.
  *
  * Scale notes (100 TB): AUC needs one global rank — at real scale
  * that is a range-partitioned sort (Spark's SortExec already
  * range-partitions; the formula itself is a single pass + one tiny
  * aggregate). Everything else is a keyed aggregate or a bounded
  * per-key window (top-5 NDCG frames), map-side combinable with
  * shuffles carrying only |groups| rows.
  *
  * Determinism: counts/rank arithmetic is exact integer math;
  * midranks are exact at .5 resolution and summed as DECIMAL; every
  * float ratio is computed with an identical scalar expression tree
  * in both engines and rounded to a fixed scale (SURVEY.md D2).
  */
object MlEvalQueries extends QueryFamily {

  /** q_auc — exact ROC AUC of `value` as a score for predicting
    * event_type='purchase', via the Mann–Whitney U statistic with
    * midranks (ties handled exactly):
    * AUC = (Σ midrank(pos) − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    * Midranks are rank() + (tie_count−1)/2 — exact at .5 steps, so
    * the sum is DECIMAL-exact and order-independent.
    *
    * Scale shape: NO per-row global rank. The relation first
    * contracts to per-distinct-value (cnt, pos_cnt) counts — one
    * keyed shuffle — and the rank of each value group comes from a
    * distributed prefix sum over that contracted domain
    * ([[graft.operators.PrefixOps.runningSums]]: range buckets +
    * partitioned windows + broadcast offsets). Σ midrank(pos) is then
    * Σ pos_cnt(v)·midrank(v), exact in DECIMAL. */
  def auc(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).select(col("event_type"), col("value"))
      .groupBy(col("value")).agg(
        count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", lit(1))).as("pos_cnt"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")), Seq("ccnt" -> col("cnt")))
    val r = cum
      // rank() of every row tied at v = 1 + (count of rows before v)
      .withColumn("rk", col("ccnt") - col("cnt") + 1)
      .withColumn("midrank",
        (col("rk") + (col("cnt") - 1) / lit(2.0)).cast("decimal(18,2)"))
    r.agg(
        sum(col("pos_cnt") * col("midrank")).as("s_pos"),
        sum(col("pos_cnt")).as("n_pos"),
        sum(col("cnt") - col("pos_cnt")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        round((col("s_pos").cast("double") -
            col("n_pos").cast("double") * (col("n_pos") + 1).cast("double") / lit(2.0)) /
          (col("n_pos").cast("double") * col("n_neg").cast("double")), 6).as("auc"))
  }

  val aucOracle: String =
    """WITH r AS (SELECT event_type,
      |    CAST(rank() OVER (ORDER BY value) +
      |      (count(*) OVER (PARTITION BY value) - 1)/2.0 AS DECIMAL(18,2))
      |      AS midrank
      |  FROM events),
      |a AS (SELECT
      |    sum(CASE WHEN event_type = 'purchase' THEN midrank END) AS s_pos,
      |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_pos,
      |    count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS n_neg
      |  FROM r)
      |SELECT n_pos, n_neg,
      |  round((CAST(s_pos AS DOUBLE) -
      |      CAST(n_pos AS DOUBLE)*CAST(n_pos + 1 AS DOUBLE)/2.0) /
      |    (CAST(n_pos AS DOUBLE)*CAST(n_neg AS DOUBLE)), 6) AS auc
      |FROM a""".stripMargin

  /** q_confusion — confusion matrix + derived metrics for the rule
    * "value > 60 predicts a purchase": TP/FP/FN/TN counts (exact),
    * precision/recall/F1/accuracy (ratios of exact ints, rounded). */
  def confusion(s: SparkSession, d: String): DataFrame = {
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
        round(prec, 6).as("precision"),
        round(rec, 6).as("recall"),
        round(lit(2.0) * prec * rec / (prec + rec), 6).as("f1"),
        round((tp + tn) / (tp + fp + fn + tn), 6).as("accuracy"))
  }

  val confusionOracle: String =
    """WITH c AS (SELECT
      |    count(CASE WHEN event_type = 'purchase' AND value > 60.0 THEN 1 END) AS tp,
      |    count(CASE WHEN event_type <> 'purchase' AND value > 60.0 THEN 1 END) AS fp,
      |    count(CASE WHEN event_type = 'purchase' AND NOT (value > 60.0) THEN 1 END) AS fn,
      |    count(CASE WHEN event_type <> 'purchase' AND NOT (value > 60.0) THEN 1 END) AS tn
      |  FROM events)
      |SELECT tp, fp, fn, tn,
      |  round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)), 6) AS precision,
      |  round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)), 6) AS recall,
      |  round(2.0*(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
      |           *(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)))
      |        /((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
      |          +(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fn AS DOUBLE)))), 6) AS f1,
      |  round((CAST(tp AS DOUBLE)+CAST(tn AS DOUBLE))
      |        /(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)+CAST(fn AS DOUBLE)+CAST(tn AS DOUBLE)), 6)
      |    AS accuracy
      |FROM c""".stripMargin

  /** q_chi2 — chi-squared test of independence between event_type and
    * the props-JSON attribute bucket (k mod 4): per-cell observed,
    * expected (row·col/N from exact counts) and contribution, plus the
    * statistic itself (per-cell terms rounded to 8dp then
    * DECIMAL-summed, so the 20-cell reduction is order-free). */
  def chi2(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .select(col("event_type"),
        (get_json_object(col("props"), "$.k").cast("int") % 4).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = sum(col("obs")).over(Window.partitionBy(col("event_type")))
    val colTot = sum(col("obs")).over(Window.partitionBy(col("bucket")))
    val n = sum(col("obs")).over(Window.partitionBy())
    val expd = rowTot.cast("double") * colTot.cast("double") / n.cast("double")
    val contrib = (col("obs").cast("double") - expd) *
      (col("obs").cast("double") - expd) / expd
    cells
      .withColumn("exp_cnt", round(expd, 4))
      .withColumn("contrib", round(contrib, 8).cast("decimal(18,8)"))
      .withColumn("chi2",
        round(sum(col("contrib")).over(Window.partitionBy()).cast("double"), 4))
      .select(col("event_type"), col("bucket"), col("obs"), col("exp_cnt"),
        round(col("contrib").cast("double"), 6).as("cell_chi2"), col("chi2"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val chi2Oracle: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    CAST(json_extract(props, '$.k') AS INT) % 4 AS bucket,
      |    count(*) AS obs
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, bucket, obs,
      |    CAST(sum(obs) OVER (PARTITION BY event_type) AS DOUBLE) *
      |      CAST(sum(obs) OVER (PARTITION BY bucket) AS DOUBLE) /
      |      CAST(sum(obs) OVER () AS DOUBLE) AS expd
      |  FROM cells),
      |c AS (SELECT event_type, bucket, obs, expd,
      |    CAST(round((CAST(obs AS DOUBLE)-expd)*(CAST(obs AS DOUBLE)-expd)/expd, 8)
      |      AS DECIMAL(18,8)) AS contrib
      |  FROM t)
      |SELECT event_type, bucket, obs, round(expd, 4) AS exp_cnt,
      |  round(CAST(contrib AS DOUBLE), 6) AS cell_chi2,
      |  round(CAST(sum(contrib) OVER () AS DOUBLE), 4) AS chi2
      |FROM c ORDER BY event_type, bucket""".stripMargin

  /** q_ndcg — NDCG@5 per user: ranking = events by value desc
    * (predicted relevance), gain = the props-JSON k attribute.
    * DCG = Σ_{pos≤5} gain/log2(pos+1); IDCG uses the gain-sorted
    * ideal order; both sums are 8dp-rounded DECIMAL (≤5 terms,
    * order-free). Ties broken by event_id in both orders. */
  def ndcg(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("user_id"), col("event_id"), col("value"),
      get_json_object(col("props"), "$.k").cast("int").as("gain"))
    val wPred = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val wIdeal = Window.partitionBy(col("user_id"))
      .orderBy(col("gain").desc, col("event_id"))
    def term(rn: org.apache.spark.sql.Column) =
      round(col("gain").cast("double") / log2(rn.cast("double") + 1.0), 8)
        .cast("decimal(18,8)")
    base
      .withColumn("rn", row_number().over(wPred))
      .withColumn("irn", row_number().over(wIdeal))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("rn") <= 5, term(col("rn")))).as("dcg_d"),
        sum(when(col("irn") <= 5, term(col("irn")))).as("idcg_d"))
      .select(col("user_id"),
        round(col("dcg_d").cast("double"), 4).as("dcg"),
        round(col("idcg_d").cast("double"), 4).as("idcg"),
        round(col("dcg_d").cast("double") /
          nullif(col("idcg_d").cast("double"), lit(0.0)), 4).as("ndcg"))
      .orderBy(col("user_id"))
  }

  val ndcgOracle: String =
    """WITH base AS (SELECT user_id, event_id, value,
      |    CAST(json_extract(props, '$.k') AS INT) AS gain
      |  FROM events),
      |r AS (SELECT user_id, gain,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value DESC, event_id) AS rn,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY gain DESC, event_id) AS irn
      |  FROM base),
      |a AS (SELECT user_id,
      |    sum(CASE WHEN rn <= 5 THEN
      |      CAST(round(CAST(gain AS DOUBLE)/log2(CAST(rn AS DOUBLE)+1.0), 8)
      |        AS DECIMAL(18,8)) END) AS dcg_d,
      |    sum(CASE WHEN irn <= 5 THEN
      |      CAST(round(CAST(gain AS DOUBLE)/log2(CAST(irn AS DOUBLE)+1.0), 8)
      |        AS DECIMAL(18,8)) END) AS idcg_d
      |  FROM r GROUP BY 1)
      |SELECT user_id, round(CAST(dcg_d AS DOUBLE), 4) AS dcg,
      |  round(CAST(idcg_d AS DOUBLE), 4) AS idcg,
      |  round(CAST(dcg_d AS DOUBLE)/nullif(CAST(idcg_d AS DOUBLE), 0.0), 4)
      |    AS ndcg
      |FROM a ORDER BY user_id""".stripMargin

  /** q_mrr — reciprocal rank of the first purchase in each user's
    * time-ordered event stream (µs-truncated ts, event_id tie-break —
    * both engines see the identical order), NULL for users who never
    * purchase. */
  def mrr(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val pos = e.select(col("user_id"), col("event_type"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts2"), col("event_id"))).as("pos"))
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("pos")).as("first_pos"))
    e.select(col("user_id")).distinct()
      .join(pos, Seq("user_id"), "left")
      .select(col("user_id"), col("first_pos"),
        round(lit(1.0) / col("first_pos").cast("double"), 6).as("rr"))
      .orderBy(col("user_id"))
  }

  val mrrOracle: String =
    """WITH r AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS pos
      |  FROM events),
      |p AS (SELECT user_id, min(pos) AS first_pos FROM r
      |  WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT u.user_id, p.first_pos,
      |  round(1.0/CAST(p.first_pos AS DOUBLE), 6) AS rr
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN p ON p.user_id = u.user_id
      |ORDER BY u.user_id""".stripMargin

  /** q_benford — Benford's-law audit of order totals: first
    * significant digit taken from the DECIMAL(18,2) string rendering
    * (identical formatting in both engines — double→string would NOT
    * be), observed fraction vs log10(1+1/d) expectation. */
  def benford(s: SparkSession, d: String): DataFrame = {
    val digit = substring(
      col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
      .cast("int")
    val tot = sum(col("n")).over(Window.partitionBy())
    orders(s, d).select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("frac", round(col("n").cast("double") / tot.cast("double"), 4))
      .withColumn("benford",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 4))
      .withColumn("dev", round(col("frac") - col("benford"), 4))
      .orderBy(col("digit"))
  }

  val benfordOracle: String =
    """WITH d AS (SELECT
      |    CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
      |      1, 1) AS INT) AS digit
      |  FROM orders),
      |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
      |SELECT digit, n,
      |  round(CAST(n AS DOUBLE)/CAST(sum(n) OVER () AS DOUBLE), 4) AS frac,
      |  round(log10(1.0 + 1.0/CAST(digit AS DOUBLE)), 4) AS benford,
      |  round(round(CAST(n AS DOUBLE)/CAST(sum(n) OVER () AS DOUBLE), 4) -
      |        round(log10(1.0 + 1.0/CAST(digit AS DOUBLE)), 4), 4) AS dev
      |FROM c ORDER BY digit""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_auc" -> (auc _),
    "q_confusion" -> (confusion _),
    "q_chi2" -> (chi2 _),
    "q_ndcg" -> (ndcg _),
    "q_mrr" -> (mrr _),
    "q_benford" -> (benford _))

  val oracle: Map[String, String] = Map(
    "q_auc" -> aucOracle,
    "q_confusion" -> confusionOracle,
    "q_chi2" -> chi2Oracle,
    "q_ndcg" -> ndcgOracle,
    "q_mrr" -> mrrOracle,
    "q_benford" -> benfordOracle)
}
