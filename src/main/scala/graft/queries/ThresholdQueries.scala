package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #91: decision-threshold optimization — the
  * operating-point searches every scored pipeline runs after q_auc
  * grades ranking quality: best-F1 threshold, Youden's J (the ROC
  * corner), and Otsu's histogram threshold for unsupervised 1-D
  * binarization.
  *
  * The shared Spark-first shape: a threshold sweep is NOT a loop.
  * The relation contracts to per-distinct-score (count, positive)
  * rows in one keyed shuffle; every candidate threshold's confusion
  * matrix is then pure algebra over that domain's distributed prefix
  * sums ([[graft.operators.PrefixOps]] — range buckets + partitioned
  * windows + broadcast offsets, NO partition-less window), and the
  * argmax is a TakeOrderedAndProject over the contracted domain.
  * Otsu contracts further — to a fixed 50-bin histogram — so its
  * sweep is constant-size regardless of input scale.
  *
  * Determinism (D1–D5): confusion counts are exact integers off
  * decimal-exact prefix sums; objectives round at 8dp BEFORE the
  * descending sort so both engines order identically, with the
  * threshold value as the unique tiebreak. */
object ThresholdQueries extends QueryFamily {

  /** Per-candidate-threshold confusion counts: predict positive when
    * score ≥ t, for every distinct score t. */
  private def sweep(s: SparkSession, d: String): DataFrame = {
    val byVal = events(s, d).select(col("event_type"), col("value"))
      .groupBy(col("value")).agg(
        count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", lit(1))).as("pos"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")),
      Seq("ccnt" -> col("cnt"), "cpos" -> col("pos")))
    val tot = byVal.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
    cum.crossJoin(broadcast(tot))
      .select(col("value").as("thr"), col("pos").as("pos_at"),
        (col("p") - col("cpos") + col("pos")).as("tp"),
        (col("n") - col("ccnt") + col("cnt")
          - (col("p") - col("cpos") + col("pos"))).as("fp"),
        col("n"), col("p"))
      .withColumn("fn", col("p") - col("tp"))
  }

  private val sweepSql: String =
    """WITH byval AS (SELECT value AS thr, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS BIGINT) AS pos
      |  FROM events GROUP BY 1),
      |cum AS (SELECT thr, cnt, pos,
      |    CAST(sum(cnt) OVER (ORDER BY thr) AS BIGINT) AS ccnt,
      |    CAST(sum(pos) OVER (ORDER BY thr) AS BIGINT) AS cpos
      |  FROM byval),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(pos) AS BIGINT) AS p FROM byval)
      |SELECT thr, pos AS pos_at, p - cpos + pos AS tp,
      |  n - ccnt + cnt - (p - cpos + pos) AS fp,
      |  n, p, p - (p - cpos + pos) AS fn
      |FROM cum, tot""".stripMargin

  /** q_best_f1 — the score threshold maximizing F1 (with its full
    * operating point: precision, recall, confusion counts). */
  def bestF1(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    sweep(s, d)
      .withColumn("f1", round(lit(2.0) * f("tp")
        / (lit(2.0) * f("tp") + f("fp") + f("fn")), 8))
      .orderBy(col("f1").desc, col("thr"))
      .limit(1)
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("f1"),
        round(f("tp") / (f("tp") + f("fp")), 6).as("precision"),
        round(f("tp") / (f("tp") + f("fn")), 6).as("recall"))
  }

  val bestF1Oracle: String =
    s"""WITH s AS ($sweepSql),
       |f AS (SELECT thr, tp, fp, fn,
       |    round(2.0*CAST(tp AS DOUBLE)/(2.0*CAST(tp AS DOUBLE)
       |      + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 8) AS f1
       |  FROM s)
       |SELECT thr, tp, fp, fn, f1,
       |  round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)
       |    + CAST(fp AS DOUBLE)), 6) AS precision,
       |  round(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)
       |    + CAST(fn AS DOUBLE)), 6) AS recall
       |FROM f ORDER BY f1 DESC, thr LIMIT 1""".stripMargin

  /** q_youden_j — the ROC operating point maximizing TPR − FPR. */
  def youdenJ(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    sweep(s, d)
      .withColumn("tpr", round(f("tp") / f("p"), 8))
      .withColumn("fpr", round(f("fp") / (f("n") - f("p")), 8))
      .withColumn("j", round(col("tpr") - col("fpr"), 8))
      .orderBy(col("j").desc, col("thr"))
      .limit(1)
      .select(col("thr"), col("tpr"), col("fpr"), col("j"))
  }

  val youdenJOracle: String =
    s"""WITH s AS ($sweepSql),
       |f AS (SELECT thr,
       |    round(CAST(tp AS DOUBLE)/CAST(p AS DOUBLE), 8) AS tpr,
       |    round(CAST(fp AS DOUBLE)/(CAST(n AS DOUBLE)
       |      - CAST(p AS DOUBLE)), 8) AS fpr
       |  FROM s)
       |SELECT thr, tpr, fpr, round(tpr - fpr, 8) AS j
       |FROM f ORDER BY round(tpr - fpr, 8) DESC, thr LIMIT 1""".stripMargin

  /** q_otsu — Otsu's threshold over the 50-bin order-value histogram:
    * maximize between-class variance w0·(1−w0)·(μ0−μ1)². The sweep
    * runs over 49 candidate splits of a CONSTANT-size histogram —
    * the contraction is the scale story. */
  def otsu(s: SparkSession, d: String): DataFrame = {
    val byBin = orders(s, d).select(
      least(lit(49), floor(col("o_totalprice") / 10000.0).cast("int"))
        .as("bin"),
      col("o_totalprice"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sv"))
    val cum = graft.operators.PrefixOps.runningSums(byBin,
      col("bin"), Seq(col("bin")),
      Seq("ccnt" -> col("cnt"), "csv" -> col("sv")), buckets = 8)
    val tot = byBin.agg(sum(col("cnt")).as("n"), sum(col("sv")).as("s"))
    def f(c: String) = col(c).cast("double")
    val cand = cum.crossJoin(broadcast(tot))
      .filter(col("ccnt") > 0 && col("ccnt") < col("n"))
      .withColumn("w0", round(f("ccnt") / f("n"), 8))
      .withColumn("mu0", round(f("csv") / f("ccnt"), 8))
      .withColumn("mu1",
        round((f("s") - f("csv")) / (f("n") - f("ccnt")), 8))
      .withColumn("bcv", round(col("w0") * (lit(1.0) - col("w0"))
        * (col("mu0") - col("mu1")) * (col("mu0") - col("mu1")), 6))
    cand.orderBy(col("bcv").desc, col("bin"))
      .limit(1)
      .select(((col("bin") + 1) * 10000).cast("double").as("threshold"),
        col("w0"), col("mu0"), col("mu1"), col("bcv"))
  }

  val otsuOracle: String =
    """WITH bybin AS (SELECT
      |    least(49, CAST(floor(o_totalprice/10000.0) AS INT)) AS bin,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
      |  FROM orders GROUP BY 1),
      |cum AS (SELECT bin, cnt, sv,
      |    CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS ccnt,
      |    sum(sv) OVER (ORDER BY bin) AS csv
      |  FROM bybin),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, sum(sv) AS s
      |  FROM bybin),
      |cand AS (SELECT bin,
      |    round(CAST(ccnt AS DOUBLE)/CAST(n AS DOUBLE), 8) AS w0,
      |    round(CAST(csv AS DOUBLE)/CAST(ccnt AS DOUBLE), 8) AS mu0,
      |    round((CAST(s AS DOUBLE) - CAST(csv AS DOUBLE))
      |      /(CAST(n AS DOUBLE) - CAST(ccnt AS DOUBLE)), 8) AS mu1
      |  FROM cum, tot WHERE ccnt > 0 AND ccnt < n),
      |scored AS (SELECT bin, w0, mu0, mu1,
      |    round(w0*(1.0 - w0)*(mu0 - mu1)*(mu0 - mu1), 6) AS bcv
      |  FROM cand)
      |SELECT CAST((bin + 1)*10000 AS DOUBLE) AS threshold,
      |  w0, mu0, mu1, bcv
      |FROM scored ORDER BY bcv DESC, bin LIMIT 1""".stripMargin

  /** q_pr_auc — average precision (the PR-curve area) WITHOUT any
    * ordered traversal: AP = Σ_t (pos(t)/P)·precision(t) over the
    * distinct-score sweep — ΔRecall at threshold t is just that
    * score's positive share, so the whole integral is one
    * order-independent aggregation over the contracted domain (where
    * the textbook formulation walks the ranking sequentially). */
  def prAuc(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    sweep(s, d)
      .withColumn("term", round((f("pos_at") / f("p"))
        * (f("tp") / (f("tp") + f("fp"))), 12))
      .agg(first(col("p")).as("n_pos"),
        round(sum(col("term").cast("decimal(18,12)")).cast("double"), 8)
          .as("pr_auc"))
  }

  val prAucOracle: String =
    s"""WITH s AS ($sweepSql)
       |SELECT any_value(p) AS n_pos,
       |  round(CAST(sum(CAST(round((CAST(pos_at AS DOUBLE)
       |      /CAST(p AS DOUBLE))
       |    *(CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)
       |      + CAST(fp AS DOUBLE))), 12) AS DECIMAL(18,12)))
       |    AS DOUBLE), 8) AS pr_auc
       |FROM s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_best_f1" -> (bestF1 _),
    "q_youden_j" -> (youdenJ _),
    "q_otsu" -> (otsu _),
    "q_pr_auc" -> (prAuc _))

  val oracle: Map[String, String] = Map(
    "q_best_f1" -> bestF1Oracle,
    "q_youden_j" -> youdenJOracle,
    "q_otsu" -> otsuOracle,
    "q_pr_auc" -> prAucOracle)
}
