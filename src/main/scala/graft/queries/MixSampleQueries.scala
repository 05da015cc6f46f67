package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism.hexval

/** Round-4 widening #3: data-mixture machinery — null-aware NOT IN
  * anti join (the one anti-join flavor q_join_anti's NOT EXISTS does
  * not cover), canonical-document selection per duplicate cluster
  * (the keep-best step after dedup candidate generation), and
  * deterministic weighted sampling (Efraimidis–Spirakis A-ES keys) —
  * the corpus-mixing primitive for weighting sources in a training
  * set.
  *
  * Scale notes (100 TB): NOT IN plans as a broadcast null-aware anti
  * join (single-column optimization) — one fact pass, no shuffle;
  * canonical selection is a per-cluster rank-1 window (partitioned by
  * cluster key, parallel across clusters); A-ES sampling is a
  * stateless per-row key + `orderBy().limit(k)` →
  * TakeOrderedAndProject (per-partition heaps, k·partitions rows to
  * the driver) — the standard distributed weighted-sample-without-
  * replacement shape.
  *
  * Determinism: the sampling "randomness" is an md5-derived uniform
  * (engine-identical bits), so the drawn sample is a pure function of
  * the data; NOT IN/rank logic is exact.
  */
object MixSampleQueries extends QueryFamily {

  /** q_join_anti_nullin — NOT IN with a NULLABLE probe key: rows
    * whose key is NULL are dropped (three-valued logic — `x NOT IN
    * (…)` is UNKNOWN for NULL x), which `NOT EXISTS`/left-anti would
    * KEEP; Spark plans the single-column form as a broadcast
    * null-aware anti join. */
  def joinAntiNullin(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders_nai")
    s.sql("""SELECT o_orderstatus, count(*) AS n
            |FROM orders_nai
            |WHERE nullif(o_orderpriority, '3-MEDIUM') NOT IN
            |  (SELECT DISTINCT o_orderpriority FROM orders_nai
            |   WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
            |GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin)
  }

  val joinAntiNullinOracle: String =
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders
      |WHERE nullif(o_orderpriority, '3-MEDIUM') NOT IN
      |  (SELECT DISTINCT o_orderpriority FROM orders
      |   WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** q_dedup_canonical — keep-best selection per prefix-duplicate
    * cluster (clusters as in q_dedup_prefix): the canonical document
    * is the longest (n_chars desc, doc_id tiebreak); report each
    * multi-document cluster with its canonical and the count dropped
    * — the decision step that turns dedup candidates into a kept
    * corpus. */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents(s, d)
      .select(substring(col("text"), 1, 40).as("prefix"),
        col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("prefix"))))
      .filter(col("rk") === 1 && col("n_docs") > 1)
      .select(col("prefix"), col("n_docs"),
        col("doc_id").as("canon_id"), col("n_chars").as("canon_chars"),
        (col("n_docs") - 1).as("n_dropped"))
      .orderBy(col("canon_id"))
  }

  val dedupCanonicalOracle: String =
    """WITH c AS (SELECT substring(text, 1, 40) AS prefix, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY substring(text, 1, 40)
      |      ORDER BY n_chars DESC, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY substring(text, 1, 40)) AS n_docs
      |  FROM documents)
      |SELECT prefix, n_docs, doc_id AS canon_id, n_chars AS canon_chars,
      |  n_docs - 1 AS n_dropped
      |FROM c WHERE rk = 1 AND n_docs > 1
      |ORDER BY canon_id""".stripMargin

  /** q_sample_weighted — deterministic weighted sample WITHOUT
    * replacement, 10 docs weighted by length: Efraimidis–Spirakis
    * A-ES keys ln(u)/w with u an md5-derived uniform in (0,1] — the
    * top-10 by key is a valid weighted sample, reproducible in any
    * engine because u is a pure function of doc_id. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    // codegen'd digest kernel; value-identical to the oracle's
    // instr/substr hex parse (Md5BucketSpec pins the equality)
    val h = graft.functions.expressions.Md5Bucket
      .md5Bucket(col("doc_id").cast("string"),
        lit(graft.functions.expressions.Md5Bucket.Raw))
    val m = math.pow(16, 6)
    val u = (h + lit(1)).cast("double") / lit(m + 1.0)
    val key = round(log(u) / col("n_chars").cast("double"), 12)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), key.as("skey"))
      .orderBy(col("skey").desc, col("doc_id")).limit(10)
      .orderBy(col("skey").desc, col("doc_id"))
  }

  val sampleWeightedOracle: String = {
    val m = math.pow(16, 6)
    s"""WITH k AS (SELECT doc_id, source, n_chars,
       |    round(ln((${hexval("md5(cast(doc_id as varchar))")} + 1)
       |        / ${m + 1.0}) / CAST(n_chars AS DOUBLE), 12) AS skey
       |  FROM documents)
       |SELECT doc_id, source, n_chars, skey
       |FROM k ORDER BY skey DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q_fuzzy_jw — Jaro–Winkler fuzzy matching over blocked part
    * names (same 2nd-word blocking as q_fuzzy_match's edit-distance
    * variant): pairs with similarity ≥ 0.88, scored by the engine's
    * codegen'd [[graft.functions.expressions.JaroWinkler]]
    * expression, graded against DuckDB's built-in
    * `jaro_winkler_similarity` — a bit-level cross-engine audit of
    * the whole kernel (window matching, transpositions, 0.7 boost
    * threshold, 4-char prefix cap) over EVERY blocked pair (224 at
    * sf0.1), not just the high scorers. */
  def fuzzyJw(s: SparkSession, d: String): DataFrame = {
    val jw = graft.functions.expressions.JaroWinkler.jw _
    val names = part(s, d)
      .groupBy(lower(col("p_name")).as("nm"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", split(col("nm"), " ").getItem(1))
    names.as("a")
      .join(names.as("b"), col("a.blk") === col("b.blk") &&
        col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("nm_a"), col("b.nm").as("nm_b"),
        round(jw(col("a.nm"), col("b.nm")), 6).as("jw_sim"),
        (round(jw(col("a.nm"), col("b.nm")), 6) >= 0.88).as("is_match"))
      .orderBy(col("nm_a"), col("nm_b"))
  }

  val fuzzyJwOracle: String =
    """WITH names AS (
      |  SELECT lower(p_name) AS nm, COUNT(*) AS n_rows
      |  FROM part GROUP BY lower(p_name)),
      |p AS (SELECT nm, n_rows, string_split(nm, ' ')[2] AS blk FROM names)
      |SELECT a.nm AS nm_a, b.nm AS nm_b,
      |  round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw_sim,
      |  round(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.88 AS is_match
      |FROM p a JOIN p b ON a.blk = b.blk AND a.nm < b.nm
      |ORDER BY nm_a, nm_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_anti_nullin" -> (joinAntiNullin _),
    "q_dedup_canonical" -> (dedupCanonical _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_fuzzy_jw" -> (fuzzyJw _))

  val oracle: Map[String, String] = Map(
    "q_join_anti_nullin" -> joinAntiNullinOracle,
    "q_dedup_canonical" -> dedupCanonicalOracle,
    "q_sample_weighted" -> sampleWeightedOracle,
    "q_fuzzy_jw" -> fuzzyJwOracle)
}
