package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #12: binary-column metadata (the multimodal
  * opaque-bytes surface on a graded, text-derived binary column) and
  * array string-operation scalars.
  *
  * Scale notes (100 TB): all pure codegen'd projections — the same
  * shape the multimodal module applies to real image/audio bytes
  * (there with mapInPandas decode stubs; here oracle-gradeable
  * because the bytes derive from text deterministically).
  */
object BinaryArrayQueries extends QueryFamily {

  /** q_binary_meta — opaque-binary handling: byte length (UTF-8,
    * ≠ char length for multibyte), content digest, hex prefix, and a
    * round-trip check — the metadata pass a multimodal ingest runs
    * over blob columns before any decode. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      octet_length(col("text").cast("binary")).as("n_bytes"),
      length(col("text")).as("n_chars"),
      md5(col("text").cast("binary")).as("digest"),
      substring(hex(col("text").cast("binary")), 1, 16).as("hex_prefix"),
      (col("text").cast("binary").cast("string") === col("text"))
        .as("roundtrip_ok"))
      .orderBy(col("doc_id"))

  val binaryMetaOracle: String =
    """SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(length(text) AS INT) AS n_chars,
      |  md5(text) AS digest,
      |  substring(hex(encode(text)), 1, 16) AS hex_prefix,
      |  decode(encode(text)) = text AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q_array_strops — array scalar surface over tokenized text:
    * sorted/reversed/sliced token arrays re-joined to strings (kept
    * scalar per the map/array parquet-layout convention). */
  def arrayStrops(s: SparkSession, d: String): DataFrame = {
    val toks = split(lower(col("text")), " ")
    documents(s, d).select(
      col("doc_id"),
      size(toks).as("n_toks"),
      array_join(array_sort(toks), "-").as("sorted_joined"),
      array_join(reverse(toks), " ").as("reversed"),
      array_join(slice(toks, 2, 3), " ").as("middle_slice"),
      // sort the distinct set first: DuckDB's list_distinct does not
      // preserve first-occurrence order, Spark's array_distinct does
      element_at(array_sort(array_distinct(toks)), 1).as("first_distinct"),
      array_contains(toks, "data").as("has_data"))
      .orderBy(col("doc_id"))
  }

  val arrayStropsOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_toks,
      |  array_to_string(list_sort(toks), '-') AS sorted_joined,
      |  array_to_string(list_reverse(toks), ' ') AS reversed,
      |  array_to_string(toks[2:4], ' ') AS middle_slice,
      |  list_sort(list_distinct(toks))[1] AS first_distinct,
      |  list_contains(toks, 'data') AS has_data
      |FROM t ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_binary_meta" -> (binaryMeta _),
    "q_array_strops" -> (arrayStrops _))

  val oracle: Map[String, String] = Map(
    "q_binary_meta" -> binaryMetaOracle,
    "q_array_strops" -> arrayStropsOracle)
}
