package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #27: journey credit, tolerance joins, and rater
  * agreement — position-based (U-shaped) attribution next to the
  * existing last-touch/Markov models, the tolerance-bounded as-of
  * join (pandas merge_asof's `tolerance`), and Cohen's kappa scoring
  * of the n-gram language identifier against the declared labels.
  *
  * Scale notes (100 TB): attribution windows are per-user partitioned
  * (never global); the tolerance as-of keeps the key-partitioned
  * join+max(struct) contraction and applies the window bound as a
  * post-filter on the 1-row-per-purchase result — same shuffle
  * profile as q_join_asof; kappa contracts predictions to a
  * |langs|² confusion matrix whose marginal products are exact
  * integers.
  *
  * Determinism: credits are fixed rationals rounded to 8dp before the
  * DECIMAL reduction; tolerance compares exact microsecond integers;
  * kappa's po/pe come from exact integer counts (single double
  * divisions, bit-stable).
  */
object PathAgreementQueries extends QueryFamily {

  /** q_attribution_pos — U-shaped (position-based) credit over each
    * purchasing user's ordered non-purchase touches: 0.4 first, 0.4
    * last, 0.2 split across middles (n=1 → 1.0, n=2 → 0.5/0.5);
    * credited channel totals with share — the 40/20/40 model next to
    * q_attribution's last-touch and q_markov's chain. */
  def attributionPos(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val buyers = e.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val touches = e.filter(col("event_type") =!= "purchase")
      .join(buyers, Seq("user_id"), "left_semi")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    val sized = touches
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    val credit = when(col("n") === 1, lit(1.0))
      .when(col("rn") === 1 || col("rn") === col("n"),
        when(col("n") === 2, lit(0.5)).otherwise(lit(0.4)))
      .otherwise(lit(0.2) / (col("n").cast("double") - 2.0))
    val credited = sized.select(col("event_type").as("channel"),
      round(credit, 8).cast("decimal(18,8)").as("c"))
    // ONE pass: the grand total is the exact decimal fold of the
    // per-channel sums (disjoint-partition identity) — the grouped
    // frame (|channels| rows) is materialized once (round-8 scan
    // gate: was 4 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val grouped = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("c")).as("c_sum"))
      .truncatedCheckpoint()
    val tot = grouped.agg(sum(col("c_sum")).cast("double").as("tot"))
    grouped
      .crossJoin(broadcast(tot))
      .select(col("channel"), col("n_touches"),
        round(col("c_sum").cast("double"), 4).as("credit"),
        round(col("c_sum").cast("double") / col("tot"), 6).as("share"))
      .orderBy(col("channel"))
  }

  val attributionPosOracle: String =
    """WITH buyers AS (SELECT DISTINCT user_id FROM events
      |  WHERE event_type = 'purchase'),
      |touches AS (SELECT e.user_id, e.event_type, e.ts, e.event_id
      |  FROM events e JOIN buyers b ON b.user_id = e.user_id
      |  WHERE e.event_type <> 'purchase'),
      |sized AS (SELECT event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM touches),
      |credited AS (SELECT event_type AS channel,
      |    CAST(round(CASE WHEN n = 1 THEN 1.0
      |      WHEN rn = 1 OR rn = n THEN
      |        (CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END)
      |      ELSE 0.2/(CAST(n AS DOUBLE) - 2.0) END, 8)
      |      AS DECIMAL(18,8)) AS c
      |  FROM sized),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM credited)
      |SELECT channel, count(*) AS n_touches,
      |  round(CAST(sum(c) AS DOUBLE), 4) AS credit,
      |  round(CAST(sum(c) AS DOUBLE)/tot.tot, 6) AS share
      |FROM credited CROSS JOIN tot
      |GROUP BY channel, tot.tot ORDER BY channel""".stripMargin

  /** q_join_asof_tol — backward as-of join of purchases to the
    * latest signup within a 24-hour tolerance window: the
    * join+max(struct) contraction of q_join_asof, then the tolerance
    * nulls the match (left-join semantics: every purchase stays).
    * Gap compared in exact microseconds. */
  def joinAsofTol(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts2").as("p_ts"))
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts2").as("s_ts"),
        col("event_id").as("s_id"))
    val matched = p.join(sg,
        col("user_id") === col("s_user") && col("s_ts") <= col("p_ts"))
      .groupBy(col("p_id"))
      .agg(max(struct(col("s_ts"), col("s_id"))).as("m"))
      .select(col("p_id"), col("m.s_ts").as("cand_ts"),
        col("m.s_id").as("cand_id"))
    val tolMicros = 24L * 3600L * 1000000L
    p.join(matched, Seq("p_id"), "left")
      .select(col("p_id"), col("user_id"), col("p_ts"),
        when(unix_micros(col("p_ts")) - unix_micros(col("cand_ts"))
          <= tolMicros, col("cand_ts")).as("signup_ts"),
        when(unix_micros(col("p_ts")) - unix_micros(col("cand_ts"))
          <= tolMicros, col("cand_id")).as("signup_event"))
      .orderBy(col("p_id"))
  }

  val joinAsofTolOracle: String =
    """WITH best AS (
      |  SELECT p_id, cand_ts, cand_id FROM (
      |    SELECT p.event_id AS p_id, s.ts AS cand_ts,
      |           s.event_id AS cand_id,
      |           ROW_NUMBER() OVER (PARTITION BY p.event_id
      |             ORDER BY s.ts DESC, s.event_id DESC) AS rn
      |    FROM events p
      |    JOIN events s ON s.user_id = p.user_id AND s.ts <= p.ts
      |     AND s.event_type = 'signup'
      |    WHERE p.event_type = 'purchase') t
      |  WHERE rn = 1)
      |SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(best.cand_ts) <= 86400000000
      |    THEN best.cand_ts END AS signup_ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(best.cand_ts) <= 86400000000
      |    THEN best.cand_id END AS signup_event
      |FROM events p
      |LEFT JOIN best ON best.p_id = p.event_id
      |WHERE p.event_type = 'purchase'
      |ORDER BY p_id""".stripMargin

  /** q_lang_kappa — Cohen's kappa between the declared language and
    * q_lang_id's n-gram prediction: po from exact hit counts, pe from
    * the confusion marginal products, κ = (po−pe)/(1−pe) — the
    * chance-corrected agreement a labeling pipeline reports instead
    * of raw accuracy. */
  def langKappa(s: SparkSession, d: String): DataFrame = {
    // per-doc (truth, prediction) pairs feed the agreement fold and
    // both margin passes — materialize once (round-8 scan gate: was
    // 9 documents scans re-running the langId classifier)
    import graft.operators.CacheOps.CheckpointSyntax
    val pred = TextAnalysisQueries.langId(s, d)
      .select(col("lang"), col("pred_lang"))
      .truncatedCheckpoint()
    val n = pred.agg(count(lit(1)).as("n"),
      count(when(col("lang") === col("pred_lang"), lit(1))).as("hits"))
    val rows = pred.groupBy(col("lang")).agg(count(lit(1)).as("row_n"))
    val cols = pred.groupBy(col("pred_lang")).agg(count(lit(1)).as("col_n"))
    val pe_num = rows.join(cols, col("lang") === col("pred_lang"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_num"))
    n.crossJoin(broadcast(pe_num))
      .select(col("n"), col("hits"),
        round(col("hits").cast("double") / col("n").cast("double"), 6).as("po"),
        round(col("pe_num").cast("double") /
          (col("n") * col("n")).cast("double"), 6).as("pe"),
        round((col("hits").cast("double") / col("n").cast("double") -
          col("pe_num").cast("double") / (col("n") * col("n")).cast("double")) /
          (lit(1.0) -
            col("pe_num").cast("double") / (col("n") * col("n")).cast("double")),
          6).as("kappa"))
  }

  def langKappaOracle(langIdSql: String): String =
    s"""WITH pred AS ($langIdSql),
      |n AS (SELECT count(*) AS n,
      |    count(CASE WHEN lang = pred_lang THEN 1 END) AS hits
      |  FROM pred),
      |r AS (SELECT lang, count(*) AS row_n FROM pred GROUP BY 1),
      |c AS (SELECT pred_lang, count(*) AS col_n FROM pred GROUP BY 1),
      |pe AS (SELECT coalesce(CAST(sum(row_n*col_n) AS BIGINT), 0) AS pe_num
      |  FROM r JOIN c ON c.pred_lang = r.lang)
      |SELECT n.n, n.hits,
      |  round(CAST(hits AS DOUBLE)/CAST(n.n AS DOUBLE), 6) AS po,
      |  round(CAST(pe_num AS DOUBLE)/CAST(n.n*n.n AS DOUBLE), 6) AS pe,
      |  round((CAST(hits AS DOUBLE)/CAST(n.n AS DOUBLE) -
      |    CAST(pe_num AS DOUBLE)/CAST(n.n*n.n AS DOUBLE)) /
      |    (1.0 - CAST(pe_num AS DOUBLE)/CAST(n.n*n.n AS DOUBLE)), 6)
      |    AS kappa
      |FROM n CROSS JOIN pe""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution_pos" -> (attributionPos _),
    "q_join_asof_tol" -> (joinAsofTol _),
    "q_lang_kappa" -> (langKappa _))

  val oracle: Map[String, String] = Map(
    "q_attribution_pos" -> attributionPosOracle,
    "q_join_asof_tol" -> joinAsofTolOracle,
    "q_lang_kappa" -> langKappaOracle(TextAnalysisQueries.oracle("q_lang_id")))
}
