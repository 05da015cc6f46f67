package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** User-defined function surface (SURVEY.md §2-B #57–#58): a Scala
  * scalar UDF and a typed Aggregator UDAF.
  *
  * Scale notes: a Scala UDF breaks whole-stage codegen for its
  * expression (rows are deserialized to JVM objects), which is why
  * the same normalization is ALSO expressible as native expressions
  * (`lower` + `regexp_replace` — used in the oracle and preferred in
  * hot paths). The UDAF is a proper partial-aggregable Aggregator:
  * reduce/merge give map-side combine, so it shuffles one small
  * buffer per group per partition, not rows — the same contract as
  * built-in aggregates at 100 TB.
  */
object UdxQueries extends QueryFamily {

  /** #57's UDF: lowercase + collapse runs of whitespace + trim —
    * the canonical text-normalization key for dedup pipelines. */
  val normKey: String => String =
    // Locale.ROOT: default-locale lowercasing is grading-hostile
    // (tr_TR maps 'I' → 'ı', diverging from SQL LOWER())
    s => s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim

  /** #57 q_udf_scalar — apply the normalization UDF to a
    * deliberately denormalized input and key docs by it. */
  def udfScalar(s: SparkSession, d: String): DataFrame = {
    val norm = udf(normKey)
    documents(s, d)
      .withColumn("norm_key",
        norm(concat(lit("  "), upper(col("text")), lit(" \t "))))
      .select(col("doc_id"), col("norm_key"),
        length(col("norm_key")).as("key_len"),
        (col("norm_key") === col("text")).as("matches_text"))
      .orderBy(col("doc_id"))
  }

  /** #58's UDAF: geometric mean with a (logSum, count) buffer. */
  object GeomMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1L)
    def merge(b1: (Double, Long), b2: (Double, Long)): (Double, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    def finish(b: (Double, Long)): Double = math.exp(b._1 / b._2)
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.product[(Double, Long)]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** #58 q_udaf — geometric mean of retail price per brand (rounded:
    * the log-sum is order-sensitive only at ulp level — D2). */
  def udafGeomMean(s: SparkSession, d: String): DataFrame = {
    val gm = udaf(GeomMean)
    part(s, d)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        r4(gm(col("p_retailprice"))).as("geo_mean_price"))
      .orderBy(col("p_brand"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_udf_scalar" -> (udfScalar _),
    "q_udaf" -> (udafGeomMean _))

  val oracle: Map[String, String] = Map(
    "q_udf_scalar" ->
      """SELECT doc_id,
        | TRIM(regexp_replace(LOWER('  ' || UPPER(text) || ' ' || chr(9) || ' '),
        |   '\s+', ' ', 'g')) AS norm_key,
        | LENGTH(TRIM(regexp_replace(LOWER('  ' || UPPER(text) || ' ' || chr(9) || ' '),
        |   '\s+', ' ', 'g'))) AS key_len,
        | TRIM(regexp_replace(LOWER('  ' || UPPER(text) || ' ' || chr(9) || ' '),
        |   '\s+', ' ', 'g')) = text AS matches_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_udaf" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        | ROUND(EXP(AVG(LN(p_retailprice))), 4) AS geo_mean_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
