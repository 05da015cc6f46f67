package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Scalar-function operators (SURVEY.md §2-B #37–#42): string, regex,
  * datetime, math, conditional, cast.
  *
  * Scale notes: all pure per-row projections — they live inside one
  * WholeStageCodegen span over the scan with zero shuffles; the final
  * ORDER BY (required for grading determinism — D1) is the only
  * exchange and would be dropped in production use.
  *
  * Dialect care (D5) is concentrated in the oracle strings:
  * DuckDB `regexp_replace` needs the `'g'` flag to match Spark's
  * replace-all; DuckDB `dayofweek` is 0=Sunday vs Spark's 1=Sunday;
  * DuckDB `ceil/floor` return DOUBLE vs Spark's BIGINT (cast both);
  * integer division is `div` in Spark, `//` in DuckDB; ANSI mode
  * (Spark 4 default) makes /0 an error — guard with NULLIF on both
  * sides.
  */
object ScalarQueries extends QueryFamily {

  /** #37 q_str_funcs — upper/lower/trim/substring/concat/length/
    * replace/lpad/split-element over part. */
  def strFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_type")).as("lo_type"),
        trim(lit("  padded  ")).as("trimmed"),
        substring(col("p_name"), 1, 5).as("name5"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_us"),
        lpad(col("p_size").cast("string"), 4, "0").as("size4"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))
      .orderBy(col("p_partkey"))

  /** #38 q_regex — extract/replace/match in the RE2∩Java-safe subset. */
  def regexFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"), col("p_type"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("starred"),
        col("p_name").rlike("^[a-m]").as("starts_low"))
      .orderBy(col("p_partkey"))

  /** #39 q_date_funcs — calendar extraction and arithmetic on
    * o_orderdate (ms-precision — no D3 concern). */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow_spark"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus30"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy(col("o_orderkey"))

  /** #40 q_math_funcs — arithmetic kernel functions; float outputs
    * rounded (D2), integer division via `div` (D5). */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price_r2"),
        r4(abs(col("l_discount") - 0.05)).as("disc_dist"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        floor(col("l_extendedprice")).as("price_floor"),
        r4(pow(col("l_quantity"), 2)).as("qty_sq"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
        r4(sqrt(col("l_quantity"))).as("qty_sqrt"),
        r4(log(col("l_extendedprice"))).as("price_ln"),
        r4(exp(col("l_discount"))).as("disc_exp"),
        expr("l_orderkey div 100").as("key_div100"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** #41 q_case_when — CASE ladders, COALESCE, NULLIF, ANSI-safe
    * division guard. */
  def caseWhen(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("band"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status2"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("is_urgent"),
        // divisor 1..4 only: a 2-dp price over {1,2,3,4} can never land
        // on an exact .xxxx5 tie, where Spark and DuckDB round apart
        r4(col("o_totalprice") /
          nullif(pmod(col("o_custkey"), lit(5)), lit(0))).as("guarded_div"))
      .orderBy(col("o_orderkey"))

  /** #42 q_cast — cross-type casts on ISO-safe paths (no
    * double→int: the engines disagree on its rounding — D5). */
  def castFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        col("o_orderkey").cast("string").cast("long").as("key_roundtrip"),
        col("o_custkey").cast("double").as("cust_dbl"),
        // decimal cast exercised, but emitted as double: a decimal
        // OUTPUT column cannot hash-match the oracle through pandas
        // (Decimal object vs float64 — see Determinism.dout)
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("price_dec"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderdate").cast("date").cast("string").as("date_str"),
        concat(year(col("o_orderdate")).cast("string"), lit("-01-01"))
          .cast("timestamp").as("year_start"))
      .orderBy(col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_str_funcs" -> (strFuncs _),
    "q_regex" -> (regexFuncs _),
    "q_date_funcs" -> (dateFuncs _),
    "q_math_funcs" -> (mathFuncs _),
    "q_case_when" -> (caseWhen _),
    "q_cast" -> (castFuncs _))

  val oracle: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT p_partkey, UPPER(p_name) AS up_name, LOWER(p_type) AS lo_type,
        | TRIM('  padded  ') AS trimmed, SUBSTRING(p_name, 1, 5) AS name5,
        | p_brand || '/' || p_type AS brand_type, LENGTH(p_name) AS name_len,
        | REPLACE(p_type, ' ', '_') AS type_us,
        | LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4,
        | string_split(p_name, ' ')[1] AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_regex" ->
      """SELECT p_partkey, p_type,
        | regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
        | regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
        | regexp_matches(p_name, '^[a-m]') AS starts_low
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey, o_orderdate,
        | YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        | DAYOFMONTH(o_orderdate) AS dom,
        | DAYOFWEEK(o_orderdate) + 1 AS dow_spark,
        | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        | date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
        | o_orderdate + INTERVAL 30 DAY AS plus30,
        | last_day(o_orderdate) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | ROUND(l_extendedprice, 2) AS price_r2,
        | ROUND(ABS(l_discount - 0.05), 4) AS disc_dist,
        | CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        | CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        | ROUND(POW(l_quantity, 2), 4) AS qty_sq,
        | l_orderkey % 7 AS key_mod7,
        | ROUND(SQRT(l_quantity), 4) AS qty_sqrt,
        | ROUND(LN(l_extendedprice), 4) AS price_ln,
        | ROUND(EXP(l_discount), 4) AS disc_exp,
        | l_orderkey // 100 AS key_div100
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_case_when" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 300000 THEN 'high'
        |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS band,
        | COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status2,
        | CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_urgent,
        | ROUND(o_totalprice / NULLIF(o_custkey % 5, 0), 4) AS guarded_div
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_cast" ->
      """SELECT o_orderkey,
        | CAST(o_orderkey AS VARCHAR) AS key_str,
        | CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
        | CAST(o_custkey AS DOUBLE) AS cust_dbl,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        | CAST(o_orderdate AS DATE) AS order_date,
        | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
        | CAST(CAST(YEAR(o_orderdate) AS VARCHAR) || '-01-01' AS TIMESTAMP) AS year_start
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
