package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #2: error-tolerant scalar semantics and
  * data-governance / reporting operators — try_-family null-on-error
  * arithmetic (the ANSI-mode escape hatch a permissive ingest
  * pipeline needs), key=value config parsing, PII masking,
  * nth_value/first/last full-frame windows, Gini & HHI concentration
  * indices, and class-balance resampling weights.
  *
  * Scale notes (100 TB): everything here is either a pure per-row
  * projection (try_*, masking, parsing, formatting — fully
  * codegen'd, zero shuffle) or a keyed aggregate/window on a natural
  * partition key. The concentration indices aggregate to dimension
  * cardinality (nations/regions) with map-side partials, so the
  * shuffle carries only |dim| rows per partition.
  */
object RobustQueries extends QueryFamily {

  /** q_try_arith — null-on-error scalar semantics: Spark 4 runs ANSI
    * mode, so raw casts/division RAISE on bad input; the try_ family
    * restores the permissive behavior element-wise (bad rows → NULL,
    * good rows unaffected) — exactly what a lossy-ingest pipeline
    * wants instead of a poisoned job. The oracle phrases the same
    * semantics with TRY_CAST / NULLIF guards. */
  def tryArith(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      // mixed valid/invalid input (~20% failures): Spark's ANSI
      // string→int cast throws per failing row and try_cast pays that
      // exception (~8 µs/row — measured 1.25 s at sf0.1 when EVERY row
      // failed). Error handling priced per failure is fine; per row is
      // not — a permissive ingest keeps the failing fraction small.
      expr("try_cast(CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus " +
        "ELSE CAST(o_orderkey % 100 AS STRING) END AS INT)").as("bad_int"),
      expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
      round(expr("try_divide(o_totalprice, CAST(o_orderkey % 3 AS DOUBLE))"), 4)
        .as("safe_div"),
      // mixed valid/invalid input, same rationale as bad_int
      expr("try_to_timestamp(CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus " +
        "ELSE '2024-0' || CAST(o_orderkey % 9 + 1 AS STRING) || '-15 12:00:00' END)")
        .as("bad_ts"),
      expr("try_element_at(split(o_orderpriority, '-'), 5)").as("no_elem"),
      expr("try_element_at(split(o_orderpriority, '-'), 2)").as("prio_word"))
      .orderBy(col("o_orderkey"))

  val tryArithOracle: String =
    """SELECT o_orderkey,
      |  TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus
      |    ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS INT) AS bad_int,
      |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
      |  round(o_totalprice / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0), 4)
      |    AS safe_div,
      |  TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus
      |    ELSE '2024-0' || CAST(o_orderkey % 9 + 1 AS VARCHAR) || '-15 12:00:00'
      |    END AS TIMESTAMP) AS bad_ts,
      |  string_split(o_orderpriority, '-')[5] AS no_elem,
      |  string_split(o_orderpriority, '-')[2] AS prio_word
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q_str_to_map — parse a key=value;... config string into a map
    * and extract typed fields (the str_to_map surface; mirrors
    * attribute-bag columns common in event logs). The map never
    * leaves the query — output is scalar per D-conventions (map
    * parquet layouts differ across writers). */
  def strToMap(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("cfg", concat(
        lit("status="), col("o_orderstatus"),
        lit(";prio="), element_at(split(col("o_orderpriority"), "-"), 1),
        lit(";ship=road")))
      .withColumn("m", str_to_map(col("cfg"), lit(";"), lit("=")))
      .select(col("o_orderkey"),
        element_at(col("m"), "status").as("status_v"),
        element_at(col("m"), "prio").cast("int").as("prio_v"),
        size(col("m")).as("n_keys"))
      .orderBy(col("o_orderkey"))

  val strToMapOracle: String =
    """WITH c AS (SELECT o_orderkey,
      |  'status=' || o_orderstatus || ';prio=' ||
      |    string_split(o_orderpriority, '-')[1] || ';ship=road' AS cfg
      |  FROM orders)
      |SELECT o_orderkey,
      |  split_part(split_part(cfg, ';', 1), '=', 2) AS status_v,
      |  CAST(split_part(split_part(cfg, ';', 2), '=', 2) AS INT) AS prio_v,
      |  CAST(len(string_split(cfg, ';')) AS INT) AS n_keys
      |FROM c ORDER BY o_orderkey""".stripMargin

  /** q_pii_mask — PII redaction projections: digit masking, email
    * local-part masking (keep first char), phone suffix masking.
    * Pure codegen'd regex projections — the privacy pass a training
    * corpus gets before release. Spark regexp_replace replaces ALL
    * matches; DuckDB needs the explicit 'g' flag (D5). */
  def piiMask(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .withColumn("email",
        lower(concat(regexp_replace(col("c_name"), "#", "."), lit("@example.com"))))
      .withColumn("phone",
        concat(lit("555-"), lpad(col("c_custkey").cast("string"), 4, "0")))
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
        regexp_replace(col("email"), "(^[a-z])[^@]*", "$1***").as("masked_email"),
        regexp_replace(col("phone"), "[0-9]{2}$", "XX").as("masked_phone"))
      .orderBy(col("c_custkey"))

  val piiMaskOracle: String =
    """WITH c AS (SELECT c_custkey, c_name,
      |  lower(replace(c_name, '#', '.') || '@example.com') AS email,
      |  '555-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0') AS phone
      |  FROM customer)
      |SELECT c_custkey,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
      |  regexp_replace(email, '(^[a-z])[^@]*', '\1***') AS masked_email,
      |  regexp_replace(phone, '[0-9]{2}$', 'XX') AS masked_phone
      |FROM c ORDER BY c_custkey""".stripMargin

  /** q_win_nth — nth_value / first_value / last_value over the FULL
    * frame (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
    * FOLLOWING — the default frame stops at CURRENT ROW, a classic
    * silent-wrong-answer trap): per customer, their first, second
    * and latest order price. One row per customer via rn=1. */
  def winNth(s: SparkSession, d: String): DataFrame = {
    val wf = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wr = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d).select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("first_price", first(col("o_totalprice")).over(wf))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(wf))
      .withColumn("last_price", last(col("o_totalprice")).over(wf))
      .withColumn("n_orders", count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("first_price"), col("second_price"),
        col("last_price"), col("n_orders"))
      .orderBy(col("o_custkey"))
  }

  val winNthOracle: String =
    """SELECT o_custkey, first_price, second_price, last_price, n_orders
      |FROM (SELECT o_custkey,
      |    first_value(o_totalprice) OVER wf AS first_price,
      |    nth_value(o_totalprice, 2) OVER wf AS second_price,
      |    last_value(o_totalprice) OVER wf AS last_price,
      |    count(*) OVER (PARTITION BY o_custkey) AS n_orders,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |  WINDOW wf AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** q_gini — Gini coefficient of customer spend within each nation:
    * G = Σᵢ(2i−n−1)·xᵢ / (n·Σxᵢ) over ascending spend. Spend and the
    * weighted sum stay DECIMAL (exact, order-free); only the final
    * ratio goes through double + round. Rank ties broken by custkey —
    * equal x values contribute the same total either way. */
  def gini(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey"))
    // Rank-sum Gini off the contracted (nation, spend) grid (round-7:
    // the round-6 funnel class, exposed here once c_nationkey joined
    // the gate vocabulary — a rank window partitioned by the 25-value
    // nation alone serializes ~n_cust/25 rows per task at scale).
    // The window form's Σ(2·rn − n − 1)·spend is tie-order invariant:
    // rows of a (nation, spend) cell with count c ending at inclusive
    // cumulative count cum occupy ranks cum−c+1 … cum, so the cell's
    // rank-sum term is c·(2·cum − c + 1) − c·(n + 1), exact integer
    // arithmetic times the exact-decimal spend — identical value, no
    // per-nation window anywhere in the plan.
    val grid = graft.operators.PrefixOps.groupedCumCounts(
      spend.select(col("c_nationkey"), col("spend")),
      Seq("c_nationkey"), "spend") // (nk, spend, c, cum, n)
    grid
      .groupBy(col("c_nationkey"))
      .agg(
        sum((col("c") * (lit(2) * col("cum") - col("c") + 1)
          - col("c") * (col("n") + 1)) * col("spend")).as("num"),
        sum(col("spend") * col("c")).as("tot"),
        sum(col("c")).as("n_cust"))
      .select(col("c_nationkey"),
        round(col("num").cast("double") /
          (col("n_cust") * col("tot")).cast("double"), 4).as("gini"),
        col("n_cust"))
      .orderBy(col("c_nationkey"))
  }

  val giniOracle: String =
    """WITH spend AS (
      |  SELECT c.c_nationkey, o.o_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |ranked AS (SELECT c_nationkey, spend,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY spend, o_custkey) AS rn,
      |    count(*) OVER (PARTITION BY c_nationkey) AS n
      |  FROM spend)
      |SELECT c_nationkey,
      |  round(CAST(SUM((2*rn - n - 1) * spend) AS DOUBLE) /
      |    CAST(count(*) * SUM(spend) AS DOUBLE), 4) AS gini,
      |  count(*)::BIGINT AS n_cust
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_hhi — Herfindahl–Hirschman concentration index of supplier
    * revenue within each region (points, 0–10000). Revenue sums are
    * exact DECIMAL; each squared share is computed double (identical
    * expression tree), rounded to 8dp and decimal-summed so the
    * per-region reduction is order-independent. */
  def hhi(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(nation(s, d), col("n_nationkey") === col("s_nationkey"))
      .join(region(s, d), col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("r_name"), col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    val share = col("rev").cast("double") /
      col("tot").cast("double")
    rev
      .withColumn("tot", sum(col("rev")).over(Window.partitionBy(col("r_name"))))
      .select(col("r_name"),
        round(share * share * lit(10000.0), 8).cast("decimal(18,8)").as("term"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("term")).cast("double"), 4).as("hhi"),
        count(lit(1)).as("n_suppliers"))
      .orderBy(col("r_name"))
  }

  val hhiOracle: String =
    """WITH rev AS (
      |  SELECT r.r_name, l.l_suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY 1, 2),
      |sh AS (SELECT r_name, rev,
      |    SUM(rev) OVER (PARTITION BY r_name) AS tot FROM rev)
      |SELECT r_name,
      |  round(CAST(SUM(CAST(round(
      |    (CAST(rev AS DOUBLE)/CAST(tot AS DOUBLE)) *
      |    (CAST(rev AS DOUBLE)/CAST(tot AS DOUBLE)) * 10000.0,
      |  8) AS DECIMAL(18,8))) AS DOUBLE), 4) AS hhi,
      |  count(*)::BIGINT AS n_suppliers
      |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_label_balance — class-balance audit + resampling weights for
    * a labeled training set: per-label counts, corpus fraction,
    * inverse-frequency upsampling weight (max/n), and the common
    * downsample target (min class size). Tiny keyed aggregate +
    * global window over |labels| rows. */
  def labelBalance(s: SparkSession, d: String): DataFrame = {
    val g = Window.partitionBy()
    embeddings(s, d).groupBy(col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("frac",
        round(col("n").cast("double") / sum(col("n")).over(g).cast("double"), 4))
      .withColumn("weight",
        round(max(col("n")).over(g).cast("double") / col("n").cast("double"), 4))
      .withColumn("target", min(col("n")).over(g))
      .orderBy(col("label"))
  }

  val labelBalanceOracle: String =
    """SELECT label, n,
      |  round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 4) AS frac,
      |  round(CAST(MAX(n) OVER () AS DOUBLE) / CAST(n AS DOUBLE), 4) AS weight,
      |  MIN(n) OVER () AS target
      |FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
      |ORDER BY label""".stripMargin

  /** q_format — deterministic string rendering: printf-style
    * composite tags, character translation, padding, reversal,
    * dynamic repetition. %.2f never hits a rounding tie here because
    * retail prices are 2dp-valued doubles (the nearest double is
    * never equidistant), so Java HALF_UP and C half-even agree. */
  def format(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey"),
      format_string("%s|%.2f|%05d", col("p_brand"), col("p_retailprice"),
        col("p_size")).as("tag"),
      translate(col("p_type"), " ", "_").as("type_u"),
      lpad(col("p_name"), 16, ".").as("padded"),
      reverse(col("p_brand")).as("rev_brand"),
      expr("repeat('*', CAST(p_size % 5 AS INT))").as("stars"))
      .orderBy(col("p_partkey"))

  val formatOracle: String =
    """SELECT p_partkey,
      |  printf('%s|%.2f|%05d', p_brand, p_retailprice, p_size) AS tag,
      |  translate(p_type, ' ', '_') AS type_u,
      |  lpad(p_name, 16, '.') AS padded,
      |  reverse(p_brand) AS rev_brand,
      |  repeat('*', CAST(p_size % 5 AS INT)) AS stars
      |FROM part ORDER BY p_partkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_try_arith" -> (tryArith _),
    "q_str_to_map" -> (strToMap _),
    "q_pii_mask" -> (piiMask _),
    "q_win_nth" -> (winNth _),
    "q_gini" -> (gini _),
    "q_hhi" -> (hhi _),
    "q_label_balance" -> (labelBalance _),
    "q_format" -> (format _))

  val oracle: Map[String, String] = Map(
    "q_try_arith" -> tryArithOracle,
    "q_str_to_map" -> strToMapOracle,
    "q_pii_mask" -> piiMaskOracle,
    "q_win_nth" -> winNthOracle,
    "q_gini" -> giniOracle,
    "q_hhi" -> hhiOracle,
    "q_label_balance" -> labelBalanceOracle,
    "q_format" -> formatOracle)
}
