package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening: EXACT Shapley-value channel attribution — the
  * game-theoretic credit split marketing science prefers over the
  * heuristics already graded in [[AttributionQueries]] (last-touch)
  * and its Markov transition matrix.
  *
  * Model: channels N = {click, error, signup, view}; a user converts
  * at their FIRST purchase; the user's coalition is the set of
  * distinct channels touched strictly before that purchase. The
  * characteristic function v(S) = number of converters whose
  * coalition ⊆ S, and each channel's Shapley value is
  *   φ_i = Σ_{S ⊆ N\{i}} |S|!·(|N|−1−|S|)!/|N|! · (v(S∪{i}) − v(S)).
  *
  * Scale notes (100 TB): the corpus contracts in three keyed,
  * map-side-combinable steps — per-user first purchase (min-struct
  * agg), per-user coalition bitmask (distinct channel bits summed),
  * per-mask converter counts (≤2^|N| = 16 rows). ALL Shapley
  * combinatorics then run on dimension-sized frames (16 subsets × 4
  * channels) under broadcast joins; the subset-containment sum
  * v(S) = Σ_{m ⊆ S} n(m) is a 16×16 bitwise-AND theta join. Raw data
  * is touched exactly twice (purchases, touches), both fully
  * parallel. No windows, no driver loops.
  *
  * Determinism: with |N| = 4 the weights are s!·(3−s)!/24 ∈
  * {6,2,2,6}/24, so 24·φ_i is an exact INTEGER combination of counts;
  * the single final division by 24 (and by Σ for the share) is one
  * IEEE double op, rounded to 6dp — identical in both engines. The
  * share guards Σ = 0 with NULL (nullif) rather than NaN.
  */
object ShapleyQueries extends QueryFamily {

  private val Channels = Seq("click" -> 1, "error" -> 2,
    "signup" -> 4, "view" -> 8)
  private val N = Channels.size // 4
  private val Full = (1 << N) // 16 subsets

  private def bitOf: Column = Channels.foldLeft(when(lit(false), lit(0))) {
    case (acc, (name, bit)) => acc.when(col("event_type") === name, lit(bit))
  }.otherwise(lit(0))

  /** s!·(3−s)! for |S| = s — the 24·weight integer. */
  private val coefSql = "CASE pc WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
  private def coefCol(pc: Column): Column =
    when(pc === 0, 6).when(pc === 1, 2).when(pc === 2, 2).otherwise(6)

  private def popcount(c: Column): Column =
    (0 until N).map(j => shiftright(c, j).bitwiseAND(lit(1)))
      .reduce(_ + _)

  /** Per-converter coalition bitmask (empty coalition = 0). */
  private def masks(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts2"), col("event_id"))).as("p"))
      .select(col("user_id"), col("p.ts2").as("pts"),
        col("p.event_id").as("peid"))
    val touchBits = ev.filter(col("event_type") =!= "purchase")
      .join(firstPurchase, "user_id")
      .filter(col("ts2") < col("pts") ||
        (col("ts2") === col("pts") && col("event_id") < col("peid")))
      .select(col("user_id"), bitOf.as("bit"))
      .distinct()
      .groupBy(col("user_id"))
      // bit_or, not sum: identical values (each bit appears once per
      // user after the distinct, and OR of distinct powers of two =
      // their sum) but the OR form carries a TYPE-LEVEL image bound —
      // OR of values in [0, 15] stays in [0, 15] whatever the row
      // count — so ScaleRules proves `mask` bounded structurally
      // (round-12: retires the alias-vocabulary entry)
      .agg(bit_or(col("bit")).cast("int").as("mask"))
    firstPurchase.join(touchBits, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("mask"), lit(0)).as("mask"))
  }

  /** Per-mask converter counts (≤16 rows) — materialized once: the
    * fact-scale masks pipeline feeds both the v-table and
    * q_coalition_value's exact-count column, which re-embedded the
    * events scans up to 12× per plan (round-8 scan gate). */
  private def maskCounts(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    masks(s, d).groupBy(col("mask"))
      .agg(count(lit(1)).as("cnt"))
      .truncatedCheckpoint()
  }

  /** v(S) for all 16 subsets: converters whose coalition ⊆ S.
    * Materialized once (16 rows): both Shapley queries reference the
    * v-table from several join legs. */
  private def vTable(s: SparkSession, d: String,
      mc: DataFrame): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val subsets = s.range(Full).select(col("id").cast("int").as("s"))
    broadcast(subsets)
      .join(mc, col("mask").bitwiseAND(col("s")) === col("mask"), "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
      .truncatedCheckpoint()
  }
  private def vTable(s: SparkSession, d: String): DataFrame =
    vTable(s, d, maskCounts(s, d))

  private val masksSql: String =
    """fp AS (SELECT user_id, ts AS pts, event_id AS peid FROM events
      |  WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) = 1),
      |touch AS (SELECT DISTINCT e.user_id,
      |    CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END AS bit
      |  FROM events e JOIN fp ON fp.user_id = e.user_id
      |  WHERE e.event_type <> 'purchase'
      |    AND (e.ts < fp.pts OR (e.ts = fp.pts AND e.event_id < fp.peid))),
      |umask AS (SELECT fp.user_id,
      |    CAST(COALESCE(t.mask, 0) AS INTEGER) AS mask
      |  FROM fp LEFT JOIN (SELECT user_id,
      |      CAST(sum(bit) AS INTEGER) AS mask
      |    FROM touch GROUP BY 1) t ON t.user_id = fp.user_id),
      |mcnt AS (SELECT mask, count(*) AS cnt FROM umask GROUP BY 1),
      |subsets AS (SELECT CAST(r.range AS INTEGER) AS s FROM range(16) r),
      |v AS (SELECT s, CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS v
      |  FROM subsets LEFT JOIN mcnt ON (mask & s) = mask GROUP BY 1)""".stripMargin

  /** q_shapley — exact Shapley attribution per channel: φ and the
    * efficiency-normalized share. */
  def shapley(s: SparkSession, d: String): DataFrame = {
    val v = vTable(s, d)
    val channels = s.createDataFrame(Channels).toDF("channel", "bit")
    val pairs = channels
      .crossJoin(broadcast(v.select(col("s"), col("v").as("v_wo"))))
      .filter(col("s").bitwiseAND(col("bit")) === 0)
      .join(broadcast(v.select(col("s").as("s2"), col("v").as("v_w"))),
        col("s2") === col("s") + col("bit"))
      .withColumn("pc", popcount(col("s")))
      .withColumn("num", coefCol(col("pc")) * (col("v_w") - col("v_wo")))
    val perChannel = pairs.groupBy(col("channel"))
      .agg(sum(col("num")).as("num24"))
    val tot = perChannel.agg(sum(col("num24")).as("tot"))
    perChannel.crossJoin(broadcast(tot))
      .select(col("channel"),
        round(col("num24").cast("double") / 24.0, 6).as("shapley"),
        round(when(col("tot") =!= 0,
          col("num24").cast("double") / col("tot").cast("double")), 6)
          .as("share"))
      .orderBy(col("channel"))
  }

  val shapleyOracle: String =
    s"""WITH $masksSql,
      |channels AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |  ('signup', 4), ('view', 8)) c(channel, bit)),
      |pairs AS (SELECT ch.channel,
      |    $coefSql * (vw.v - vo.v) AS num
      |  FROM channels ch
      |  JOIN (SELECT s, v,
      |      (s & 1) + ((s >> 1) & 1) + ((s >> 2) & 1) + ((s >> 3) & 1)
      |        AS pc FROM v) vo ON (vo.s & ch.bit) = 0
      |  JOIN v vw ON vw.s = vo.s + ch.bit),
      |per_ch AS (SELECT channel, CAST(sum(num) AS BIGINT) AS num24
      |  FROM pairs GROUP BY 1),
      |tot AS (SELECT CAST(sum(num24) AS BIGINT) AS tot FROM per_ch)
      |SELECT channel,
      |  round(CAST(num24 AS DOUBLE) / 24.0, 6) AS shapley,
      |  round(CAST(num24 AS DOUBLE) / CAST(nullif(tot, 0) AS DOUBLE), 6)
      |    AS share
      |FROM per_ch CROSS JOIN tot
      |ORDER BY channel""".stripMargin

  /** q_coalition_value — the characteristic function itself: every
    * coalition S with its member list, exact-coalition converter
    * count, and cumulative v(S). The 16-row frame all Shapley math
    * derives from — graded so the contraction pipeline is verified
    * independently of the φ combinatorics. */
  def coalitionValue(s: SparkSession, d: String): DataFrame = {
    val mc = maskCounts(s, d)
    val v = vTable(s, d, mc)
    val members = concat_ws(",",
      Channels.map { case (name, bit) =>
        when(col("s").bitwiseAND(bit) =!= 0, lit(name))
      }: _*)
    v.join(mc, col("mask") === col("s"), "left")
      .select(col("s"), members.as("members"),
        coalesce(col("cnt"), lit(0L)).as("n_exact"), col("v"))
      .orderBy(col("s"))
  }

  val coalitionValueOracle: String =
    s"""WITH $masksSql
      |SELECT v.s,
      |  concat_ws(',',
      |    CASE WHEN (v.s & 1) <> 0 THEN 'click' END,
      |    CASE WHEN (v.s & 2) <> 0 THEN 'error' END,
      |    CASE WHEN (v.s & 4) <> 0 THEN 'signup' END,
      |    CASE WHEN (v.s & 8) <> 0 THEN 'view' END) AS members,
      |  CAST(COALESCE(m.cnt, 0) AS BIGINT) AS n_exact, v.v
      |FROM v LEFT JOIN mcnt m ON m.mask = v.s
      |ORDER BY v.s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shapley" -> (shapley _),
    "q_coalition_value" -> (coalitionValue _))

  val oracle: Map[String, String] = Map(
    "q_shapley" -> shapleyOracle,
    "q_coalition_value" -> coalitionValueOracle)
}
