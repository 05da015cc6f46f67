package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #10: nearest-event join (the bidirectional
  * completion of the as-of family), binary/text encoding scalars
  * (base64, hex, bit_count, chr/ascii), and sequence-explode row
  * generation (installment amortization with exact cent arithmetic).
  *
  * Scale notes (100 TB): the nearest join is two as-of-shaped
  * aggregations (backward max + forward min candidate per probe row,
  * both partial-aggregable map-side) and a 2-way candidate pick —
  * never a sort of the full pair space; with the engine's
  * AsOfJoinExec it is two O(n+m) merge passes. Encodings are pure
  * codegen projections. The sequence generator fans each order into
  * ≤4 rows — Spark's explode(sequence()) Generator case.
  */
object EncodingSeqQueries extends QueryFamily {

  /** q_join_nearest — for each purchase, the temporally NEAREST
    * signup by the same user in either direction (|Δt| in µs; ties →
    * the earlier signup, then event_id). Built as backward-asof ∪
    * forward-asof candidates, then a 2-row pick — each side is the
    * partial-aggregable max/min(struct) shape. */
  def joinNearest(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    // the probe side feeds both direction legs + the final join; the
    // build side feeds both legs — materialize each once (round-8
    // scan gate: was 5 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts2").as("p_ts"))
      .truncatedCheckpoint()
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts2").as("s_ts"),
        col("event_id").as("s_id"))
      .truncatedCheckpoint()
    val bwd = p.join(sg, col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts"))
      .groupBy(col("p_id"))
      .agg(max(struct(col("s_ts"), col("s_id"))).as("m"))
      .select(col("p_id"), col("m.s_ts").as("c_ts"), col("m.s_id").as("c_id"))
    val fwd = p.join(sg, col("user_id") === col("s_user") &&
        col("s_ts") > col("p_ts"))
      .groupBy(col("p_id"))
      .agg(min(struct(col("s_ts"), col("s_id"))).as("m"))
      .select(col("p_id"), col("m.s_ts").as("c_ts"), col("m.s_id").as("c_id"))
    val cand = bwd.unionByName(fwd)
      .join(p, "p_id")
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_ts"), col("c_id"),
        abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("dt_us"))
    cand.groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(min(struct(col("dt_us"), col("c_ts"), col("c_id"))).as("m"))
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("m.c_ts").as("nearest_signup_ts"),
        col("m.c_id").as("nearest_signup_id"),
        col("m.dt_us").as("dt_us"))
      .orderBy(col("p_id"))
  }

  val joinNearestOracle: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
      |  WHERE event_type = 'purchase'),
      |sg AS (SELECT user_id AS s_user, ts AS s_ts, event_id AS s_id
      |  FROM events WHERE event_type = 'signup'),
      |bwd AS (SELECT p_id, max((s_ts, s_id)) AS m
      |  FROM p JOIN sg ON s_user = user_id AND s_ts <= p_ts GROUP BY 1),
      |fwd AS (SELECT p_id, min((s_ts, s_id)) AS m
      |  FROM p JOIN sg ON s_user = user_id AND s_ts > p_ts GROUP BY 1),
      |cand AS (
      |  SELECT c.p_id, p.user_id, p.p_ts,
      |    c.m[1] AS c_ts, c.m[2] AS c_id,
      |    abs(date_diff('microsecond', c.m[1], p.p_ts)) AS dt_us
      |  FROM (SELECT * FROM bwd UNION ALL SELECT * FROM fwd) c
      |  JOIN p ON p.p_id = c.p_id)
      |SELECT p_id, user_id, p_ts,
      |  m[2] AS nearest_signup_ts, m[3] AS nearest_signup_id, m[1] AS dt_us
      |FROM (SELECT p_id, user_id, p_ts, min((dt_us, c_ts, c_id)) AS m
      |  FROM cand GROUP BY 1, 2, 3)
      |ORDER BY p_id""".stripMargin

  /** q_encoding — binary/text encoding scalar surface: base64 and
    * hex of UTF-8 text, a base64 round-trip check, popcount of the
    * key, ascii/chr arithmetic. All pure codegen'd projections. */
  def encoding(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey"),
      base64(col("p_brand").cast("binary")).as("brand_b64"),
      hex(col("p_name").cast("binary")).as("name_hex"),
      (unbase64(base64(col("p_brand").cast("binary"))).cast("string") ===
        col("p_brand")).as("b64_roundtrip"),
      bit_count(col("p_partkey")).as("key_bits"),
      ascii(col("p_type")).as("type_ascii"),
      chr(lit(65) + col("p_partkey") % 26).as("key_chr"))
      .orderBy(col("p_partkey"))

  val encodingOracle: String =
    """SELECT p_partkey,
      |  base64(encode(p_brand)) AS brand_b64,
      |  hex(p_name) AS name_hex,
      |  decode(from_base64(base64(encode(p_brand)))) = p_brand
      |    AS b64_roundtrip,
      |  bit_count(p_partkey) AS key_bits,
      |  ascii(p_type) AS type_ascii,
      |  chr(CAST(65 + p_partkey % 26 AS INT)) AS key_chr
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q_installments — amortization row generation: split each order
    * total into (o_orderkey mod 4)+1 equal installments with the
    * remainder on the last — exact CENT (integer) arithmetic, so
    * engines cannot disagree; rows fan out via explode(sequence()),
    * the Generator path (§2-A A5). Invariant: per-order installments
    * sum exactly to the total. */
  def installments(s: SparkSession, d: String): DataFrame = {
    val n = (col("o_orderkey") % 4 + 1).cast("int")
    val cents = round(col("o_totalprice") * 100.0, 0).cast("long")
    val base = orders(s, d).select(col("o_orderkey"), n.as("n_inst"),
      cents.as("cents"))
    base
      .select(col("o_orderkey"), col("n_inst"), col("cents"),
        explode(sequence(lit(1), col("n_inst"))).as("inst_no"))
      // DIV, not `/`: Spark Column `/` on integers is double division
      .select(col("o_orderkey"), col("inst_no"), col("n_inst"),
        (when(col("inst_no") < col("n_inst"), expr("cents DIV n_inst"))
          .otherwise(col("cents") -
            expr("cents DIV n_inst") * (col("n_inst") - 1))
          .cast("double") / 100.0).as("amount"))
      .orderBy(col("o_orderkey"), col("inst_no"))
  }

  val installmentsOracle: String =
    """WITH base AS (SELECT o_orderkey,
      |    CAST(o_orderkey % 4 + 1 AS INT) AS n_inst,
      |    CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      |  FROM orders),
      |ex AS (SELECT o_orderkey, n_inst, cents,
      |    unnest(generate_series(1, n_inst)) AS inst_no
      |  FROM base)
      |SELECT o_orderkey, inst_no, n_inst,
      |  CAST(CASE WHEN inst_no < n_inst THEN cents // n_inst
      |    ELSE cents - (cents // n_inst) * (n_inst - 1) END AS DOUBLE) / 100.0
      |    AS amount
      |FROM ex ORDER BY o_orderkey, inst_no""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_nearest" -> (joinNearest _),
    "q_encoding" -> (encoding _),
    "q_installments" -> (installments _))

  val oracle: Map[String, String] = Map(
    "q_join_nearest" -> joinNearestOracle,
    "q_encoding" -> encodingOracle,
    "q_installments" -> installmentsOracle)
}
