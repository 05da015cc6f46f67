package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.Determinism._

/** Round-3 widening #2: the functional-programming surface
  * (higher-order array lambdas, outer explode), bit manipulation,
  * the second tier of string functions, running-distinct windows,
  * interval-overlap joins, and a skyline (Pareto-dominance) query.
  */
object FunctionalQueries extends QueryFamily {

  private val dbl = "double"

  // ---------------------------------------------------------------
  // q_higher_order — array lambdas executed per row, no explode:
  // filter/exists/forall/aggregate/array_max over the embedding
  // column. These run inside the row pipeline (no shuffle at all);
  // the fold accumulates in DECIMAL so the sequential lambda fold and
  // the oracle's unnest+SUM meet at the same exact value.
  // ---------------------------------------------------------------
  def higherOrder(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > lit(0f))).as("n_pos"),
        exists(col("embedding"), x => x > lit(0.25f)).cast("int").as("has_big"),
        forall(col("embedding"), x => abs(x) < lit(0.9f)).cast("int").as("all_small"),
        // the decimal add widens to (31,12) — cast back each step so
        // the accumulator type stays fixed (exact: |x²| sums < 1e18)
        aggregate(col("embedding"), lit(0).cast(DecimalType(30, 12)),
          (acc, x) => (acc + (x.cast(dbl) * x.cast(dbl)).cast(DecimalType(30, 12)))
            .cast(DecimalType(30, 12)))
          .cast(dbl).as("sum_sq"),
        (array_max(col("embedding")).cast(dbl) + lit(0.0)).as("max_e"))
      .withColumn("sum_sq", round(col("sum_sq"), 6))
      .orderBy(col("vec_id"))

  val higherOrderOracle: String =
    """WITH sq AS (
      |  SELECT vec_id,
      |    SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(30,12))) AS ssq
      |  FROM (SELECT vec_id, UNNEST(embedding) AS v FROM embeddings) u
      |  GROUP BY vec_id)
      |SELECT e.vec_id,
      |  len(list_filter(e.embedding, x -> x > 0))::BIGINT AS n_pos,
      |  (CASE WHEN len(list_filter(e.embedding, x -> x > 0.25)) > 0
      |        THEN 1 ELSE 0 END) AS has_big,
      |  (CASE WHEN len(list_filter(e.embedding, x -> abs(x) >= 0.9)) = 0
      |        THEN 1 ELSE 0 END) AS all_small,
      |  ROUND(CAST(sq.ssq AS DOUBLE), 6) AS sum_sq,
      |  CAST(list_max(e.embedding) AS DOUBLE) + 0.0 AS max_e
      |FROM embeddings e JOIN sq ON e.vec_id = sq.vec_id
      |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q_bitwise — AND/OR/XOR, shifts, bit_count on int64 keys (hash
  // bucketing, bitmap flags, feature hashing all reduce to these).
  // Pure row-local codegen'd projections — nothing to optimize for
  // scale beyond staying inside WholeStageCodegen, which they do.
  // ---------------------------------------------------------------
  def bitwise(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("and_lo"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("or_hi"),
        col("o_orderkey").bitwiseXOR(lit(165L)).as("xor_m"),
        shiftleft(col("o_orderkey"), 2).as("shl2"),
        shiftright(col("o_orderkey"), 3).as("shr3"),
        bit_count(col("o_orderkey")).cast("long").as("nbits"))
      .orderBy(col("o_orderkey"))

  val bitwiseOracle: String =
    """SELECT o_orderkey,
      |  o_orderkey & 255 AS and_lo,
      |  o_orderkey | 4096 AS or_hi,
      |  xor(o_orderkey, 165) AS xor_m,
      |  o_orderkey << 2 AS shl2,
      |  o_orderkey >> 3 AS shr3,
      |  bit_count(o_orderkey)::BIGINT AS nbits
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q_str_funcs2 — second string tier: reverse/repeat/translate/
  // ascii/instr (q_str_funcs covers the first tier). Row-local,
  // codegen'd.
  // ---------------------------------------------------------------
  def strFuncs2(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        reverse(col("p_name")).as("rev"),
        repeat(substring(col("p_name"), 1, 3), 2).as("rep"),
        ascii(col("p_name")).as("first_code"),
        translate(col("p_name"), "aeiou", "AEIOU").as("trans"),
        instr(col("p_name"), "a").cast("long").as("pos_a"))
      .orderBy(col("p_partkey"))

  val strFuncs2Oracle: String =
    """SELECT p_partkey,
      |  reverse(p_name) AS rev,
      |  repeat(substring(p_name, 1, 3), 2) AS rep,
      |  ascii(p_name)::BIGINT AS first_code,
      |  translate(p_name, 'aeiou', 'AEIOU') AS trans,
      |  strpos(p_name, 'a')::BIGINT AS pos_a
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q_win_distinct — running COUNT(DISTINCT user) per event_type:
  // mark each (event_type, user)'s first occurrence with one window,
  // then a running sum of marks. Two windows over the same partition
  // keys = ONE shuffle (Spark reuses the exchange); this is the
  // scalable rewrite of DISTINCT-in-frame, which most engines either
  // reject or execute quadratically.
  // ---------------------------------------------------------------
  def winDistinct(s: SparkSession, d: String): DataFrame = {
    // first-seen flag: window partitioned by the HIGH-cardinality
    // (type, user) pair — parallel at any scale
    val wFirst = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    val marked = events(s, d)
      .withColumn("first_seen",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
    // the running count, though, is per the ~5-value event_type — a
    // plain window there serializes ~n/5 rows per task, so it runs
    // through the partitioned distributed prefix instead
    // ([[graft.operators.PrefixOps.runningSums]])
    graft.operators.PrefixOps.runningSums(marked,
        unix_micros(col("ts2")), Seq(col("ts2"), col("event_id")),
        Seq("cum_users" -> col("first_seen")),
        partitionBy = Seq(col("event_type")))
      .select(col("event_id"), col("event_type"), col("cum_users"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val winDistinctOracle: String =
    """WITH marked AS (
      |  SELECT event_id, event_type, ts,
      |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type, user_id
      |                                 ORDER BY ts, event_id) = 1
      |         THEN 1 ELSE 0 END AS first_seen
      |  FROM events)
      |SELECT event_id, event_type,
      |  SUM(first_seen) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
      |FROM marked ORDER BY event_type, event_id""".stripMargin

  // ---------------------------------------------------------------
  // q_explode_outer — outer fan-out: docs whose filtered token array
  // is EMPTY survive as a NULL row (explode would drop them — the
  // LEFT JOIN of the UDTF world). Null order is spelled out on both
  // sides (Spark defaults NULLS FIRST asc, DuckDB NULLS LAST).
  // ---------------------------------------------------------------
  def explodeOuter(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => length(x) >= lit(6)).as("toks"))
      .select(col("doc_id"), explode_outer(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("token").asc_nulls_first)

  val explodeOuterOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> length(x) >= 6) AS l
      |  FROM documents),
      |fan AS (
      |  SELECT doc_id, UNNEST(l) AS token FROM toks WHERE len(l) > 0
      |  UNION ALL
      |  SELECT doc_id, NULL AS token FROM toks WHERE len(l) = 0)
      |SELECT doc_id, token, count(*)::BIGINT AS n
      |FROM fan GROUP BY 1, 2
      |ORDER BY doc_id, token NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // q_join_overlap — interval-overlap join: per-(user, day) activity
  // spans, pairs of users whose spans intersect that day. The day is
  // the BINNING key: overlap candidates must share a bin, so the
  // quadratic interval predicate runs only inside an equi-join on
  // day — the standard range-bin decomposition (at 100 TB: bin to
  // the partition grain, then verify the precise predicate).
  // ---------------------------------------------------------------
  def joinOverlap(s: SparkSession, d: String): DataFrame = {
    val spans = events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts2")).as("day"))
      .agg(min(col("ts2")).as("t0"), max(col("ts2")).as("t1"))
    // output is aggregated per bin: the raw pair list is ~17 M rows at
    // sf0.1 (user domain scales with sf) — the graded artifact stays
    // O(days) while the join itself still runs at full width.
    // Tile salt (round-7, the dedupEmbed pattern): a day-only equi key
    // caps the pair join's parallelism at |days| while per-day span
    // counts grow with the user domain — salting the left side into a
    // home tile from hash(user_id) and replicating the right side ×T
    // lifts parallelism to |days|·T with every pair still met exactly
    // once (in the left user's home tile). T is a deployment dial.
    val T = 8
    val a = spans.withColumn("tile", pmod(hash(col("user_id")), lit(T)))
    val b = spans.crossJoin(
      s.range(T.toLong).select(col("id").cast("int").as("tile")))
    a.as("a").join(b.as("b"),
        col("a.day") === col("b.day") && col("a.tile") === col("b.tile") &&
        col("a.user_id") < col("b.user_id") &&
        col("a.t0") <= col("b.t1") && col("b.t0") <= col("a.t1"))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(unix_micros(least(col("a.t1"), col("b.t1"))) -
            unix_micros(greatest(col("a.t0"), col("b.t0")))).as("sum_overlap_us"))
      .orderBy(col("day"))
  }

  val joinOverlapOracle: String =
    """WITH spans AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    min(ts) AS t0, max(ts) AS t1
      |  FROM events GROUP BY 1, 2)
      |SELECT a.day AS day, count(*)::BIGINT AS n_pairs,
      |  SUM(epoch_us(least(a.t1, b.t1)) - epoch_us(greatest(a.t0, b.t0)))::BIGINT
      |    AS sum_overlap_us
      |FROM spans a JOIN spans b
      |  ON a.day = b.day AND a.user_id < b.user_id
      | AND a.t0 <= b.t1 AND b.t0 <= a.t1
      |GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q_skyline — Pareto frontier of documents on (n_chars, n_tokens):
  // a doc survives unless some other doc weakly dominates it on both
  // dims and strictly on one. The 2-D skyline is NOT a pairwise
  // problem: a is dominated iff max{n_tok : n_chars' > a.n_chars}
  // ≥ a.n_tok (some strictly-longer doc has at least its tokens) OR
  // max{n_tok : n_chars' = a.n_chars} > a.n_tok (a same-length doc
  // strictly beats it). So: per-length max contraction, one
  // distributed EXCLUSIVE suffix max over descending length
  // (PrefixOps — no pairwise join, no partition-less window), and a
  // keyed join back. Replaces the earlier NOT-EXISTS broadcast
  // nested loop, which shipped the whole relation to every task —
  // O(n²) compute at 100 TB.
  //
  // NULL-dim caveat (documented divergence): under the original
  // NOT-EXISTS phrasing a doc with NULL n_chars or NULL n_tok
  // SURVIVES (the domination predicate never evaluates true),
  // whereas this rewrite drops it (the n_chars equi-join and the
  // n_tok = my filter are null-rejecting). The documents fixture has
  // no NULL dims (n_chars is NOT NULL; n_tok = size(split(text)) is
  // NULL only for NULL text) — hash-verified against the unchanged
  // oracle at sf0.01 and sf0.1. On nullable input, union back the
  // NULL-dim rows to restore the anti-join semantics.
  // ---------------------------------------------------------------
  def skyline(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tok"))
    // per distinct length: the best token count at that length
    val perX = docs.groupBy(col("n_chars").as("x"))
      .agg(max(col("n_tok")).as("my"))
    // s_max(x) = max{ my(x') : x' > x } — exclusive running max in
    // DESCENDING x (negated key; distinct-x rows so ties can't occur)
    val sfx = graft.operators.PrefixOps.exclusiveRunningMax(
      perX, -col("x"), Seq(col("x").desc), "s_max", col("my"))
    docs.join(sfx, col("n_chars") === col("x"))
      .filter((col("s_max").isNull || col("s_max") < col("n_tok")) &&
        col("n_tok") === col("my"))
      .select(col("doc_id"), col("n_chars"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  val skylineOracle: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars, len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents)
      |SELECT a.doc_id, a.n_chars, a.n_tok
      |FROM d a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM d b
      |  WHERE b.n_chars >= a.n_chars AND b.n_tok >= a.n_tok
      |    AND (b.n_chars > a.n_chars OR b.n_tok > a.n_tok))
      |ORDER BY a.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_higher_order" -> (higherOrder _),
    "q_bitwise" -> (bitwise _),
    "q_str_funcs2" -> (strFuncs2 _),
    "q_win_distinct" -> (winDistinct _),
    "q_explode_outer" -> (explodeOuter _),
    "q_join_overlap" -> (joinOverlap _),
    "q_skyline" -> (skyline _))

  val oracle: Map[String, String] = Map(
    "q_higher_order" -> higherOrderOracle,
    "q_bitwise" -> bitwiseOracle,
    "q_str_funcs2" -> strFuncs2Oracle,
    "q_win_distinct" -> winDistinctOracle,
    "q_explode_outer" -> explodeOuterOracle,
    "q_join_overlap" -> joinOverlapOracle,
    "q_skyline" -> skylineOracle)
}
