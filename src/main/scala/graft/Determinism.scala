package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers encoding the cross-engine determinism conventions
  * (SURVEY.md §2 D1–D5). Rationale: the grading harness hash-compares
  * Spark parquet output against DuckDB running equivalent SQL, so
  * every declared query must produce BIT-identical values in BOTH
  * engines regardless of parallel reduction order.
  *
  *  - D1: total ORDER BY on a provably-unique key set (caller's job).
  *  - D2: never aggregate raw doubles — decimal addition is exact and
  *    order-independent; ratios/floats rounded to a fixed scale.
  *  - D5: dialect care lives in the oracle SQL strings.
  */
object Determinism {

  /** Exact money type: cast BEFORE aggregating (both engines).
    *
    * RULE (learned from a real mismatch): the cast scale must be ≥ the
    * exact decimal scale of the expression. A 2dp×2dp product is exact
    * at scale 4 → no rounding ties → both engines agree; a 2dp³ triple
    * product has 6 exact digits, so casting it at scale 4 lands on
    * genuine .xxxx50 ties where Spark (HALF_UP) and DuckDB disagree —
    * use [[dec6]] for those.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact cast for expressions whose true decimal scale is 5–6. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Final-output cast for exact decimal values.
    *
    * RULE (learned from round-1 grading): the driver's hash goes
    * through pandas — Spark parquet DECIMAL arrives as
    * decimal.Decimal('253942.0000') objects while DuckDB DECIMAL
    * arrives as float64 253942.0, so a decimal OUTPUT column can never
    * hash-match even when the values are identical. The aggregation
    * itself stays exact (decimal addition is order-independent); only
    * the final value is converted, and a correctly-rounded
    * decimal→double conversion of the same exact decimal is the same
    * double in both engines (verified empirically at sf0.01 and sf0.1).
    * Oracle side mirrors this with CAST(... AS DOUBLE).
    */
  def dout(c: Column): Column = c.cast("double")

  /** Exact decimal sum, final value as double. */
  def dsum(c: Column): Column = dout(sum(dec(c)))

  /** Exact decimal sum at scale 6 (for triple products etc.). */
  def dsum6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Order-stable average: exact decimal sum divided as double, then
    * rounded — the rounding absorbs the last-ulp difference between
    * the two engines' decimal→double conversions.
    */
  def davg(c: Column): Column =
    round(sum(dec(c)).cast("double") / count(c), 4)

  /** Round a float expression for output (D2). */
  def r4(c: Column): Column = round(c, 4)

  /** `digits` hex chars of the md5 hex string SQL expression `m`, from
    * 1-based position `start`, as an integer: positional
    * `instr`/`substr` arithmetic, the same SQL text in Spark and DuckDB.
    * Six digits are 24 bits; twelve are the SQL twin of
    * KmvDistinct.hash48. */
  def hexval(m: String, start: Int = 1, digits: Int = 6): String =
    (0 until digits).map(j =>
      s"(instr('0123456789abcdef', substr($m, ${start + j}, 1)) - 1) * ${math.pow(16, digits - 1 - j).toLong}"
    ).mkString("(", " + ", ")")
}
