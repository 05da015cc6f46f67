package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #5: model-evaluation and dependence measures —
  * regression error metrics (RMSE / MAE / R²) against a closed-form
  * least-squares fit, per-class precision/recall/F1 with the macro
  * average, Spearman rank correlation, Jensen–Shannon divergence
  * between token distributions, and Cramér's V effect size — the
  * evaluation-surface siblings of q_auc/q_confusion/q_corr/q_psi.
  *
  * Scale notes (100 TB): every metric contracts FIRST (per-type
  * sufficient statistics, per-class confusion cells, per-token
  * counts) and joins the tiny aggregate back by broadcast — no
  * global windows, no driver-side math. Spearman's ranks use
  * per-type partitioned windows (parallel across types; an unbounded
  * single type would switch to the PrefixOps count-based avg-rank
  * contraction). JSD is token-keyed end to end: two count tables
  * full-outer-joined on the token, then one order-free decimal sum.
  *
  * Determinism: all sums are fixed-scale DECIMAL (D2); ratios,
  * logs and square roots are computed on rounded inputs and rounded
  * outputs (log2 bit-compatibility with DuckDB is established by the
  * graded q_mutual_info/q_bigram_lm precedent); ranks are exact
  * half-integers (rank() + (ties−1)/2).
  */
object EvalExtraQueries extends QueryFamily {

  /** q_regr_metrics — per event_type: fit value = a + b·k by exact
    * least squares (decimal sufficient statistics), then score the
    * fit on its own data: RMSE, MAE and R². Residuals are computed
    * against 6dp-rounded coefficients so both engines square the
    * identical doubles. */
  def regrMetrics(s: SparkSession, d: String): DataFrame = {
    val pts = events(s, d).select(
      col("event_type").as("t"),
      get_json_object(col("props"), "$.k").cast("int").cast("double").as("x"),
      col("value").as("y"))
    val coef = pts.groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"))
      .select(col("t"), col("n"),
        round(dout(col("n") * col("sxy") - col("sx") * col("sy")) /
          dout(col("n") * col("sxx") - col("sx") * col("sx")), 6).as("b"),
        round(dout(col("sy")) / col("n"), 6).as("ybar"),
        round(dout(col("sx")) / col("n"), 6).as("xbar"))
      .withColumn("a", round(round(col("ybar") - col("b") * col("xbar"), 6), 6))
      .drop("xbar")
    val scored = pts.join(broadcast(coef), "t")
      .withColumn("r", round(col("y") - (col("a") + col("b") * col("x")), 6))
      .withColumn("dy", round(col("y") - col("ybar"), 6))
    scored.groupBy(col("t"))
      .agg(max(col("n")).as("n"),
        max(col("a")).as("a"), max(col("b")).as("b"),
        sum(dec6(round(col("r") * col("r"), 6))).as("ss_res"),
        sum(dec6(round(abs(col("r")), 6))).as("s_abs"),
        sum(dec6(round(col("dy") * col("dy"), 6))).as("ss_tot"))
      .select(col("t"), col("n"), col("a"), col("b"),
        round(sqrt(dout(col("ss_res")) / col("n")), 4).as("rmse"),
        round(dout(col("s_abs")) / col("n"), 4).as("mae"),
        round(lit(1.0) - dout(col("ss_res")) / dout(col("ss_tot")), 4)
          .as("r2"))
      .orderBy(col("t"))
  }

  val regrMetricsOracle: String =
    """WITH pts AS (SELECT event_type AS t,
      |    CAST(CAST(json_extract(props, '$.k') AS INT) AS DOUBLE) AS x,
      |    value AS y
      |  FROM events),
      |stat AS (SELECT t, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(18,4))) AS sx,
      |    sum(CAST(y AS DECIMAL(18,4))) AS sy,
      |    sum(CAST(x*x AS DECIMAL(18,4))) AS sxx,
      |    sum(CAST(x*y AS DECIMAL(18,4))) AS sxy
      |  FROM pts GROUP BY 1),
      |coef0 AS (SELECT t, n,
      |    round(CAST(n*sxy - sx*sy AS DOUBLE) /
      |      CAST(n*sxx - sx*sx AS DOUBLE), 6) AS b,
      |    round(CAST(sy AS DOUBLE)/n, 6) AS ybar,
      |    round(CAST(sx AS DOUBLE)/n, 6) AS xbar
      |  FROM stat),
      |coef AS (SELECT t, n, b, ybar,
      |    round(round(ybar - b*xbar, 6), 6) AS a FROM coef0),
      |scored AS (SELECT p.t, c.n, c.a, c.b, c.ybar,
      |    round(p.y - (c.a + c.b*p.x), 6) AS r,
      |    round(p.y - c.ybar, 6) AS dy
      |  FROM pts p JOIN coef c ON c.t = p.t)
      |SELECT t, max(n) AS n, max(a) AS a, max(b) AS b,
      |  round(sqrt(CAST(sum(CAST(round(r*r, 6) AS DECIMAL(18,6)))
      |    AS DOUBLE)/max(n)), 4) AS rmse,
      |  round(CAST(sum(CAST(round(abs(r), 6) AS DECIMAL(18,6)))
      |    AS DOUBLE)/max(n), 4) AS mae,
      |  round(1.0 - CAST(sum(CAST(round(r*r, 6) AS DECIMAL(18,6))) AS DOUBLE) /
      |    CAST(sum(CAST(round(dy*dy, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
      |    AS r2
      |FROM scored GROUP BY t ORDER BY t""".stripMargin

  /** The deterministic value-band classifier both engines apply to
    * produce a predicted label (a stand-in for a model's argmax —
    * the metric plumbing is the operator under test). */
  private def predRule(v: org.apache.spark.sql.Column) =
    when(v < 100, "view").when(v < 250, "click").when(v < 400, "signup")
      .when(v < 600, "purchase").otherwise("error")

  private val predRuleSql =
    """CASE WHEN value < 100 THEN 'view' WHEN value < 250 THEN 'click'
      |    WHEN value < 400 THEN 'signup' WHEN value < 600 THEN 'purchase'
      |    ELSE 'error' END""".stripMargin

  /** q_macro_f1 — multi-class precision/recall/F1 per class plus the
    * macro average: confusion cells first (a ~|classes|² contraction),
    * then class-level tp/fp/fn by joining the cell table to the class
    * list; the macro mean arrives on every row by broadcast. */
  def macroF1(s: SparkSession, d: String): DataFrame = {
    val lab = events(s, d).select(col("event_type").as("y_true"),
      predRule(col("value")).as("y_pred"))
    // ONE pass over the fact rows: the confusion grid is the only
    // fact-scale aggregation — the class spine is its distinct
    // y_true (every true class appears in some cell), not a second
    // pass. Grid materialized once (round-8 scan gate: was 8 events
    // scans).
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = lab.groupBy(col("y_true"), col("y_pred"))
      .agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val classes = cells.select(col("y_true").as("cls")).distinct()
    val tp = cells.where(col("y_true") === col("y_pred"))
      .select(col("y_true").as("cls"), col("c").as("tp"))
    val predTot = cells.groupBy(col("y_pred").as("cls"))
      .agg(sum(col("c")).as("pred_n"))
    val trueTot = cells.groupBy(col("y_true").as("cls"))
      .agg(sum(col("c")).as("true_n"))
    val perClass = classes
      .join(broadcast(tp), Seq("cls"), "left")
      .join(broadcast(predTot), Seq("cls"), "left")
      .join(broadcast(trueTot), Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("pred_n"), lit(0L)).as("pred_n"),
        coalesce(col("true_n"), lit(0L)).as("true_n"))
      .withColumn("precision", when(col("pred_n") === 0, lit(0.0))
        .otherwise(round(col("tp").cast("double") / col("pred_n"), 6)))
      .withColumn("recall", when(col("true_n") === 0, lit(0.0))
        .otherwise(round(col("tp").cast("double") / col("true_n"), 6)))
      .withColumn("f1", when(col("precision") + col("recall") === 0.0, lit(0.0))
        .otherwise(round(lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall")), 6)))
    val macroAvg = perClass.agg(
      round(sum(dec6(col("f1"))).cast("double") / count(lit(1)), 6)
        .as("macro_f1"))
    perClass.crossJoin(broadcast(macroAvg))
      .select(col("cls"), col("tp"), col("pred_n"), col("true_n"),
        col("precision"), col("recall"), col("f1"), col("macro_f1"))
      .orderBy(col("cls"))
  }

  val macroF1Oracle: String =
    s"""WITH lab AS (SELECT event_type AS y_true,
      |  $predRuleSql AS y_pred
      |  FROM events),
      |cells AS (SELECT y_true, y_pred, count(*) AS c
      |  FROM lab GROUP BY 1, 2),
      |classes AS (SELECT DISTINCT y_true AS cls FROM lab),
      |tp AS (SELECT y_true AS cls, c AS tp FROM cells
      |  WHERE y_true = y_pred),
      |pt AS (SELECT y_pred AS cls, CAST(sum(c) AS BIGINT) AS pred_n
      |  FROM cells GROUP BY 1),
      |tt AS (SELECT y_true AS cls, CAST(sum(c) AS BIGINT) AS true_n
      |  FROM cells GROUP BY 1),
      |pc0 AS (SELECT cl.cls, coalesce(tp.tp, 0) AS tp,
      |    coalesce(pt.pred_n, 0) AS pred_n,
      |    coalesce(tt.true_n, 0) AS true_n
      |  FROM classes cl LEFT JOIN tp ON tp.cls = cl.cls
      |  LEFT JOIN pt ON pt.cls = cl.cls
      |  LEFT JOIN tt ON tt.cls = cl.cls),
      |pc1 AS (SELECT *,
      |    CASE WHEN pred_n = 0 THEN 0.0
      |      ELSE round(CAST(tp AS DOUBLE)/pred_n, 6) END AS precision,
      |    CASE WHEN true_n = 0 THEN 0.0
      |      ELSE round(CAST(tp AS DOUBLE)/true_n, 6) END AS recall
      |  FROM pc0),
      |pc AS (SELECT *,
      |    CASE WHEN precision + recall = 0.0 THEN 0.0
      |      ELSE round(2.0*precision*recall/(precision+recall), 6) END AS f1
      |  FROM pc1),
      |m AS (SELECT round(CAST(sum(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) /
      |    count(*), 6) AS macro_f1 FROM pc)
      |SELECT cls, tp, pred_n, true_n, precision, recall, f1, m.macro_f1
      |FROM pc CROSS JOIN m ORDER BY cls""".stripMargin

  /** q_rank_corr — Spearman's ρ between value and the props k per
    * event_type: average ranks (rank() + (ties−1)/2 — exact
    * half-integers) then the Pearson formula on exact decimal rank
    * sums.
    *
    * NULL contract (explicit on BOTH sides since round 7 — ADVICE):
    * rows with NULL x or y are EXCLUDED before ranking — complete-case
    * Spearman, the standard treatment for missing pairs. y comes from
    * `get_json_object(props, "$.k")` and is NULL when the key is
    * absent; the grid path (PrefixOps.groupedCumCounts) documents a
    * non-null value contract and the join-back uses null-rejecting
    * `===`, so without this filter the Spark side would silently drop
    * what a rank() window would have ranked — the filter makes the
    * semantics visible and identical in both engines on ANY input,
    * not just the all-present fixture. */
  def rankCorr(s: SparkSession, d: String): DataFrame = {
    // round-12: pts feeds the two rank grids AND the final join —
    // without the checkpoint each branch re-parses the props JSON for
    // the whole fact table (column pruning can't drop the parse: the
    // y-null filter needs it in every branch). One narrow 3-column
    // materialization, same values.
    import graft.operators.CacheOps.CheckpointSyntax
    val pts = events(s, d).select(
      col("event_type").as("t"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("int").cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .truncatedCheckpoint()
    // average (midrank) ranks off the contracted (t, value) grids —
    // a rank() window partitioned by the ~5-value t alone serializes
    // ~n/5 rows per task at scale (the round-6 funnel class; this
    // query's alias dodged the original gate's name set). Tied rows
    // share a grid cell, so the midrank is a per-cell constant:
    // rank = cum − c + 1, midrank u = rank + (c − 1)/2 — identical
    // arithmetic to rank() + (ties−1)/2, joined back on the
    // high-cardinality (t, value) key.
    val gx = graft.operators.PrefixOps
      .groupedCumCounts(pts.select(col("t"), col("x")), Seq("t"), "x")
      .select(col("t").as("tx"), col("x").as("xv"),
        ((col("cum") - col("c") + 1) + (col("c") - 1) / lit(2.0)).as("u"))
    val gy = graft.operators.PrefixOps
      .groupedCumCounts(pts.select(col("t"), col("y")), Seq("t"), "y")
      .select(col("t").as("ty"), col("y").as("yv"),
        ((col("cum") - col("c") + 1) + (col("c") - 1) / lit(2.0)).as("v"))
    val ranked = pts
      .join(gx, col("t") === col("tx") && col("x") === col("xv"))
      .join(gy, col("t") === col("ty") && col("y") === col("yv"))
    ranked.groupBy(col("t")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("u"))).as("su"),
        sum(dec(col("v"))).as("sv"),
        sum(dec(col("u") * col("u"))).as("suu"),
        sum(dec(col("u") * col("v"))).as("suv"),
        sum(dec(col("v") * col("v"))).as("svv"))
      .select(col("t"), col("n"),
        round(dout(col("n") * col("suv") - col("su") * col("sv")) /
          sqrt(dout(col("n") * col("suu") - col("su") * col("su")) *
            dout(col("n") * col("svv") - col("sv") * col("sv"))), 6)
          .as("rho"))
      .orderBy(col("t"))
  }

  val rankCorrOracle: String =
    """WITH pts0 AS (SELECT event_type AS t, value AS x,
      |    CAST(CAST(json_extract(props, '$.k') AS INT) AS DOUBLE) AS y
      |  FROM events),
      |pts AS (SELECT * FROM pts0
      |  WHERE x IS NOT NULL AND y IS NOT NULL),
      |ranked AS (SELECT t,
      |    rank() OVER (PARTITION BY t ORDER BY x) +
      |      (count(*) OVER (PARTITION BY t, x) - 1)/2.0 AS u,
      |    rank() OVER (PARTITION BY t ORDER BY y) +
      |      (count(*) OVER (PARTITION BY t, y) - 1)/2.0 AS v
      |  FROM pts),
      |stat AS (SELECT t, count(*) AS n,
      |    sum(CAST(u AS DECIMAL(18,4))) AS su,
      |    sum(CAST(v AS DECIMAL(18,4))) AS sv,
      |    sum(CAST(u*u AS DECIMAL(18,4))) AS suu,
      |    sum(CAST(u*v AS DECIMAL(18,4))) AS suv,
      |    sum(CAST(v*v AS DECIMAL(18,4))) AS svv
      |  FROM ranked GROUP BY 1)
      |SELECT t, n,
      |  round(CAST(n*suv - su*sv AS DOUBLE) /
      |    sqrt(CAST(n*suu - su*su AS DOUBLE) *
      |      CAST(n*svv - sv*sv AS DOUBLE)), 6) AS rho
      |FROM stat ORDER BY t""".stripMargin

  /** q_jsd — Jensen–Shannon divergence (bits) between the token
    * distributions of the two source halves (src0–9 vs src10–19):
    * symmetric, bounded dependence between corpora — the
    * drift measure that, unlike KL, tolerates tokens present in only
    * one half. Per-token counts full-outer-join on the token; each
    * half's contribution is an 8dp DECIMAL before the order-free
    * sum. */
  def jsd(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(
      when(regexp_extract(col("source"), "([0-9]+)", 1).cast("int") < 10, "a")
        .otherwise("b").as("grp"),
      explode(split(lower(col("text")), " ")).as("tok"))
    // ONE pass: group token totals are exact folds OF THE GRID
    // (parity-pinned identity, RewriteParitySpec) — materialized once
    // (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val counts = toks.groupBy(col("grp"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val a = counts.where(col("grp") === "a")
      .select(col("tok"), col("c").as("ca"))
    val b = counts.where(col("grp") === "b")
      .select(col("tok"), col("c").as("cb"))
    val na = counts.where(col("grp") === "a").agg(sum(col("c")).as("na"))
    val nb = counts.where(col("grp") === "b").agg(sum(col("c")).as("nb"))
    val vocab = a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("p", col("ca").cast("double") / col("na"))
      .withColumn("q", col("cb").cast("double") / col("nb"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .withColumn("ka", when(col("ca") === 0, lit(0.0))
        .otherwise(round(col("p") * log2(col("p") / col("m")), 8)))
      .withColumn("kb", when(col("cb") === 0, lit(0.0))
        .otherwise(round(col("q") * log2(col("q") / col("m")), 8)))
    vocab.agg(
        max(col("na")).as("n_tokens_a"),
        max(col("nb")).as("n_tokens_b"),
        count(lit(1)).as("vocab"),
        sum(dec6(round(col("ka"), 6))).as("kla"),
        sum(dec6(round(col("kb"), 6))).as("klb"))
      .select(col("n_tokens_a"), col("n_tokens_b"), col("vocab"),
        round((dout(col("kla")) + dout(col("klb"))) / 2.0, 6).as("jsd_bits"))
  }

  val jsdOracle: String =
    """WITH toks AS (SELECT
      |    CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 10
      |      THEN 'a' ELSE 'b' END AS grp,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |counts AS (SELECT grp, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |a AS (SELECT tok, c AS ca FROM counts WHERE grp = 'a'),
      |b AS (SELECT tok, c AS cb FROM counts WHERE grp = 'b'),
      |na AS (SELECT count(*) AS na FROM toks WHERE grp = 'a'),
      |nb AS (SELECT count(*) AS nb FROM toks WHERE grp = 'b'),
      |vocab AS (SELECT coalesce(a.tok, b.tok) AS tok,
      |    coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb, na.na, nb.nb,
      |    CAST(coalesce(a.ca, 0) AS DOUBLE)/na.na AS p,
      |    CAST(coalesce(b.cb, 0) AS DOUBLE)/nb.nb AS q
      |  FROM a FULL OUTER JOIN b ON b.tok = a.tok
      |  CROSS JOIN na CROSS JOIN nb),
      |scored AS (SELECT *,
      |    CASE WHEN ca = 0 THEN 0.0
      |      ELSE round(p * log2(p/((p+q)/2.0)), 8) END AS ka,
      |    CASE WHEN cb = 0 THEN 0.0
      |      ELSE round(q * log2(q/((p+q)/2.0)), 8) END AS kb
      |  FROM vocab)
      |SELECT max(na) AS n_tokens_a, max(nb) AS n_tokens_b,
      |  count(*) AS vocab,
      |  round((CAST(sum(CAST(round(ka, 6) AS DECIMAL(18,6))) AS DOUBLE) +
      |    CAST(sum(CAST(round(kb, 6) AS DECIMAL(18,6))) AS DOUBLE))/2.0, 6)
      |    AS jsd_bits
      |FROM scored""".stripMargin

  /** q_cramers_v — χ² independence between event_type and the
    * 150-wide value band, finished as the Cramér's V effect size
    * (√(χ²/(n·(min(R,C)−1)))) — the normalized companion to q_chi2's
    * raw statistic. Expected counts are exact ratios of broadcast
    * marginals; per-cell terms 8dp DECIMAL before the sum. */
  def cramersV(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type").as("t"),
      floor(col("value") / 150.0).cast("long").as("b"))
    // ONE pass: margins, grand total, and axis cardinalities are
    // exact folds OF THE GRID (parity-pinned identity,
    // RewriteParitySpec) — materialized once (round-8 scan gate)
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = e.groupBy(col("t"), col("b")).agg(count(lit(1)).as("o"))
      .truncatedCheckpoint()
    val tm = cells.groupBy(col("t")).agg(sum(col("o")).as("n_t"))
    val bm = cells.groupBy(col("b")).agg(sum(col("o")).as("n_b"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("t")).as("r"),
      countDistinct(col("b")).as("c"))
    val terms = cells.join(broadcast(tm), "t").join(broadcast(bm), "b")
      .crossJoin(broadcast(tot))
      .withColumn("exp",
        col("n_t").cast("double") * col("n_b") / col("n"))
      .withColumn("term",
        round(pow(col("o") - col("exp"), 2) / col("exp"), 8))
    terms.groupBy(col("n"), col("r"), col("c"))
      .agg(sum(dec6(round(col("term"), 6))).as("chi2_d"))
      .select(col("n"), col("r"), col("c"),
        round(dout(col("chi2_d")), 4).as("chi2"),
        round(sqrt(dout(col("chi2_d")) /
          (col("n") * (least(col("r"), col("c")) - 1))), 6).as("v"))
  }

  val cramersVOracle: String =
    """WITH e AS (SELECT event_type AS t,
      |    CAST(floor(value/150.0) AS BIGINT) AS b FROM events),
      |cells AS (SELECT t, b, count(*) AS o FROM e GROUP BY 1, 2),
      |tm AS (SELECT t, count(*) AS n_t FROM e GROUP BY 1),
      |bm AS (SELECT b, count(*) AS n_b FROM e GROUP BY 1),
      |tot AS (SELECT count(*) AS n, count(DISTINCT t) AS r,
      |    count(DISTINCT b) AS c FROM e),
      |terms AS (SELECT cells.o, tot.n, tot.r, tot.c,
      |    CAST(tm.n_t AS DOUBLE) * bm.n_b / tot.n AS expc
      |  FROM cells JOIN tm ON tm.t = cells.t JOIN bm ON bm.b = cells.b
      |  CROSS JOIN tot),
      |agg AS (SELECT n, r, c,
      |    sum(CAST(round(round(pow(o - expc, 2)/expc, 8), 6)
      |      AS DECIMAL(18,6))) AS chi2_d
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT n, r, c, round(CAST(chi2_d AS DOUBLE), 4) AS chi2,
      |  round(sqrt(CAST(chi2_d AS DOUBLE) /
      |    (n * (least(r, c) - 1))), 6) AS v
      |FROM agg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_regr_metrics" -> (regrMetrics _),
    "q_macro_f1" -> (macroF1 _),
    "q_rank_corr" -> (rankCorr _),
    "q_jsd" -> (jsd _),
    "q_cramers_v" -> (cramersV _))

  val oracle: Map[String, String] = Map(
    "q_regr_metrics" -> regrMetricsOracle,
    "q_macro_f1" -> macroF1Oracle,
    "q_rank_corr" -> rankCorrOracle,
    "q_jsd" -> jsdOracle,
    "q_cramers_v" -> cramersVOracle)
}
