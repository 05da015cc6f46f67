package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Semi-structured operators (SURVEY.md §2-B #43–#46): JSON
  * extraction, array functions, explode (the Generator/UDTF case),
  * map construction.
  *
  * This mirrors the reference pipeline's own core moves: CloudTrail
  * files are a JSON envelope whose `Records[]` array is exploded one
  * event per row, with opaque JSON payloads extracted on demand
  * (SURVEY.md §2-A A4–A6) — here graded on the batch tables.
  *
  * Scale notes: `get_json_object` is a codegen'd path expression over
  * the string column — no schema inference pass (which would be a
  * separate 100 TB scan). `explode` is a Generator: rows fan out
  * inside the same stage, no shuffle until the downstream groupBy.
  */
object SemiStructQueries extends QueryFamily {

  /** #43 q_json_extract — typed extraction from events.props
    * (`{"k": int}` — FIXTURES); aggregated per k-bucket. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"))
      .orderBy(col("k"))

  /** #44 q_array_funcs — size/element_at/slice/contains on the
    * embedding vectors (1-based indexing in both engines). */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        // widen float32→double BEFORE rounding: Spark's round preserves
        // FloatType and a rounded float re-narrows (0.1235 → 0.12349999…);
        // `+ 0.0` canonicalizes -0.0 → +0.0 (IEEE) — engines disagree on
        // the sign of a zero rounded from a small negative
        (r4(element_at(col("embedding"), 1).cast("double")) + 0.0).as("first_elem"),
        (r4(element_at(col("embedding"), -1).cast("double")) + 0.0).as("last_elem"),
        (r4(element_at(slice(col("embedding"), 3, 2), 1).cast("double")) + 0.0).as("third_elem"),
        array_contains(col("embedding"), 0.0f).as("has_zero"))
      .orderBy(col("vec_id"))

  /** #45 q_explode — tokenize text and fan out (Generator/UDTF, the
    * batch analog of the reference's Records[] fan-out): word counts
    * over the closed 31-word vocabulary. */
  def explodeTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  /** #46 q_map_funcs — build a map from arrays, extract by key
    * (scalar output — map parquet layouts differ across writers). */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        map_from_arrays(
          array(lit("lang"), lit("source")),
          array(col("lang"), col("source"))).as("m"))
      .select(col("doc_id"),
        element_at(col("m"), "lang").as("lang_val"),
        element_at(col("m"), "source").as("source_val"),
        size(map_keys(col("m"))).as("n_keys"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_extract" -> (jsonExtract _),
    "q_variant_extract" -> (variantExtract _),
    "q_array_funcs" -> (arrayFuncs _),
    "q_explode" -> (explodeTokens _),
    "q_map_funcs" -> (mapFuncs _))

  /** q_variant_extract — Spark 4 VariantType path: parse the JSON
    * payload ONCE into the binary variant encoding, then do typed
    * `variant_get` extraction (including a missing-path probe that
    * yields NULL, not an error). At 100 TB variant beats per-path
    * string re-parsing: the cast-to-variant parse is one pass and
    * every later extraction is a binary traversal. The oracle mirrors
    * with DuckDB's JSON type (same parse-once model). */
  def variantExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        try_variant_get(col("v"), "$.k", "int").as("k"),
        try_variant_get(col("v"), "$.missing", "string").as("absent"))
      .groupBy(col("k"), col("absent"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k"))

  val variantExtractOracle: String =
    """WITH v AS (SELECT event_id, props::JSON AS v FROM events)
      |SELECT json_extract(v, '$.k')::INT AS k,
      |  json_extract_string(v, '$.missing') AS absent,
      |  count(*)::BIGINT AS n
      |FROM v GROUP BY 1, 2 ORDER BY k""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_variant_extract" -> variantExtractOracle,
    "q_json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
        | COUNT(*) AS n, MIN(event_id) AS min_event
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_elem,
        | ROUND(CAST(embedding[-1] AS DOUBLE), 4) + 0.0 AS last_elem,
        | ROUND(CAST(embedding[3:4][1] AS DOUBLE), 4) + 0.0 AS third_elem,
        | list_contains(embedding, 0.0) AS has_zero
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_explode" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split(LOWER(text), ' ')) AS word
        |  FROM documents) t
        |GROUP BY word ORDER BY word""".stripMargin,
    "q_map_funcs" ->
      """SELECT doc_id, lang AS lang_val, source AS source_val, 2 AS n_keys
        |FROM documents ORDER BY doc_id""".stripMargin)
}
