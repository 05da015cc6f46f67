package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-2 widening #3: the remaining everyday operator surface —
  * regexp_extract_all, split_part, arbitrary time_bucket windows,
  * weighted averages, null-safe join equality, and
  * percent-of-total analytics. All declarative single-shuffle
  * shapes; scale notes inline where a choice matters.
  */
object WideSurfaceQueries extends QueryFamily {

  /** q_regex_extract_all — extract EVERY match (not just the first):
    * all uppercase words of p_type, re-joined to a scalar (array
    * outputs can't cross the grading harness — FIXTURES.md). */
  def regexExtractAll(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        array_join(regexp_extract_all(col("p_type"), lit("[A-Z]+"), lit(0)), ",")
          .as("words"),
        size(regexp_extract_all(col("p_type"), lit("[A-Z]+"), lit(0)))
          .as("n_words"))
      .orderBy(col("p_partkey"))

  val regexExtractAllOracle: String =
    """SELECT p_partkey,
      |  array_to_string(regexp_extract_all(p_type, '[A-Z]+'), ',') AS words,
      |  len(regexp_extract_all(p_type, '[A-Z]+'))::BIGINT AS n_words
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q_split_part — positional field extraction from delimited
    * strings (the ETL workhorse for `a|b|c` columns). */
  def splitPart(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(split_part(col("o_orderpriority"), lit("-"), lit(1)).as("prio_rank"),
        split_part(col("o_orderpriority"), lit("-"), lit(2)).as("prio_name"))
      .groupBy(col("prio_rank"), col("prio_name"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prio_rank"))

  val splitPartOracle: String =
    """SELECT split_part(o_orderpriority, '-', 1) AS prio_rank,
      |  split_part(o_orderpriority, '-', 2) AS prio_name,
      |  count(*)::BIGINT AS n
      |FROM orders GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** q_time_bucket — arbitrary-width (15 min) epoch-aligned time
    * bucketing, the generalization of q_win_tumbling's 1 h windows.
    * Spark's `window()` and DuckDB's `time_bucket` both align
    * sub-day buckets to midnight ⇒ identical bucket edges. */
  def timeBucket(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts2"), "15 minutes").getField("start").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  val timeBucketOracle: String =
    """SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, event_type,
      |  count(*)::BIGINT AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_weighted_avg — quantity-weighted mean price per returnflag
    * (D2: numerator and denominator are exact decimal sums; the one
    * double division happens on identical operands in both
    * engines). */
  def weightedAvg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(dec(col("l_quantity") * col("l_extendedprice"))).as("num"),
        sum(dec(col("l_quantity"))).as("den"))
      .select(col("l_returnflag"),
        round(dout(col("num")) / dout(col("den")), 4).as("w_avg_price"))
      .orderBy(col("l_returnflag"))

  val weightedAvgOracle: String =
    """SELECT l_returnflag,
      |  ROUND(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |        / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS w_avg_price
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_join_nullsafe — null-safe equality join (`<=>` /
    * IS NOT DISTINCT FROM): NULL keys MATCH each other, unlike plain
    * `=` which drops them. NULL keys are manufactured with nullif
    * (the fixture has no natural ones — FIXTURES.md). At scale a
    * null-safe equi join still hash-partitions (NULL is just one
    * more key value) — no fallback to nested-loop. */
  def joinNullsafe(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d)
      .groupBy(nullif(col("o_orderstatus"), lit("P")).as("k"))
      .agg(count(lit(1)).as("n_a"))
    val b = orders(s, d)
      .groupBy(nullif(col("o_orderstatus"), lit("P")).as("k"))
      .agg(dsum(col("o_totalprice")).as("sum_b"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("status_key"), col("n_a"), col("sum_b"))
      // D1: default null placement differs (Spark NULLS FIRST asc,
      // DuckDB NULLS LAST) — spell it out on both sides
      .orderBy(asc_nulls_first("status_key"))
  }

  val joinNullsafeOracle: String =
    """WITH a AS (SELECT nullif(o_orderstatus,'P') AS k, count(*)::BIGINT AS n_a
      |           FROM orders GROUP BY 1),
      |b AS (SELECT nullif(o_orderstatus,'P') AS k,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_b
      |      FROM orders GROUP BY 1)
      |SELECT a.k AS status_key, n_a, sum_b
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY status_key NULLS FIRST""".stripMargin

  /** q_pct_of_total — each nation's share of global revenue: the
    * fact-table work happens in the keyed aggregate; the grand total
    * is a broadcast 1-row aggregate (no partition-less window). */
  def pctOfTotal(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("rev"))
    val tot = rev.agg(sum(dout(col("rev"))).as("tot"))
    rev.crossJoin(broadcast(tot))
      .select(col("n_name"),
        dout(col("rev")).as("revenue"),
        round(dout(col("rev")) * 100.0 / col("tot"), 4).as("pct"))
      .orderBy(col("n_name"))
  }

  val pctOfTotalOracle: String =
    """WITH rev AS (
      |  SELECT n_name,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1)
      |SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev AS DOUBLE) * 100.0 / SUM(CAST(rev AS DOUBLE)) OVER (), 4) AS pct
      |FROM rev ORDER BY n_name""".stripMargin

  /** q_agg_filter — per-aggregate FILTER clauses: one pass over the
    * fact computing differently-scoped aggregates (vs CASE-WHEN
    * emulation). One 2-phase hash aggregate — the conditions
    * evaluate map-side. */
  def aggFilter(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderstatus,
            |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
            |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            |    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_sum,
            |  COUNT(*) AS n
            |FROM orders GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin)
  }

  val aggFilterOracle: String =
    """SELECT o_orderstatus,
      |  (COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT'))::BIGINT AS n_urgent,
      |  (COUNT(*) FILTER (WHERE o_totalprice > 200000))::BIGINT AS n_big,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
      |    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_sum,
      |  COUNT(*)::BIGINT AS n
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** q_array_setops — array set algebra between each document's token
    * set and the next document's (lead over doc_id within language):
    * intersect/union/except sizes plus the sorted intersection
    * re-joined to a scalar (array outputs can't cross the grading
    * harness). The set ops are row-local (codegen'd); the successor
    * lookup is a distributed row number per language (partitioned
    * prefix — [[graft.operators.PrefixOps.runningSums]]) plus a keyed
    * self-join on (lang, rn+1) — lead() over a window partitioned by
    * the low-cardinality lang would serialize each language through
    * one task at scale. The inner join drops each language's last doc
    * exactly as the lead-IS-NOT-NULL filter did. */
  def arraySetops(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d)
      .select(col("doc_id"), col("lang"),
        array_sort(array_distinct(split(lower(col("text")), " "))).as("toks"))
    val rn = graft.operators.PrefixOps.runningSums(t, col("doc_id"),
      Seq(col("doc_id")), Seq("rn" -> lit(1L)),
      partitionBy = Seq(col("lang")))
    val nxt = rn.select(col("lang").as("n_lang"),
      (col("rn") - 1).as("n_rn"), col("toks").as("next_toks"))
    rn.join(nxt, col("lang") === col("n_lang") &&
        col("rn") === col("n_rn"))
      .select(col("doc_id"), col("lang"),
        size(array_intersect(col("toks"), col("next_toks"))).as("n_inter"),
        size(array_union(col("toks"), col("next_toks"))).as("n_union"),
        size(array_except(col("toks"), col("next_toks"))).as("n_only_mine"),
        array_join(array_sort(array_intersect(col("toks"), col("next_toks"))), ",")
          .as("common"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val arraySetopsOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_sort(list_distinct(string_split(lower(text), ' '))) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang, toks,
      |    lead(toks) OVER (PARTITION BY lang ORDER BY doc_id) AS next_toks
      |  FROM t)
      |SELECT doc_id, lang,
      |  len(list_intersect(toks, next_toks))::BIGINT AS n_inter,
      |  len(list_distinct(list_concat(toks, next_toks)))::BIGINT AS n_union,
      |  len(list_filter(toks, x -> NOT list_contains(next_toks, x)))::BIGINT AS n_only_mine,
      |  -- DuckDB: array_to_string([]) is NULL; Spark's array_join([]) is ''
      |  coalesce(array_to_string(list_sort(list_intersect(toks, next_toks)), ','), '') AS common
      |FROM p WHERE next_toks IS NOT NULL
      |ORDER BY lang, doc_id""".stripMargin

  /** q_epoch_convert — epoch arithmetic round-trips: timestamp →
    * micros/millis since epoch → timestamp again (lossless at µs
    * precision, the pivot every cross-system time exchange relies
    * on). Pure projection — no shuffle beyond the output sort. */
  def epochConvert(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"),
        unix_micros(col("ts2")).as("us"),
        unix_millis(col("ts2")).as("ms"),
        timestamp_micros(unix_micros(col("ts2"))).as("rt"))
      .orderBy(col("event_id"))

  val epochConvertOracle: String =
    """SELECT event_id, epoch_us(ts) AS us, epoch_ms(ts) AS ms,
      |  make_timestamp(epoch_us(ts)) AS rt
      |FROM events ORDER BY event_id""".stripMargin

  /** q_scalar_misc — remaining scalar-function surface: greatest /
    * least n-ary comparisons, sign, cube root, log10/log2. */
  def scalarMisc(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        greatest(col("p_size"), lit(25)).as("g25"),
        least(col("p_size"), lit(25)).as("l25"),
        signum(col("p_retailprice") - 1500.0).as("sgn"),
        round(cbrt(col("p_retailprice")), 4).as("cbrt_price"),
        round(log10(col("p_retailprice")), 4).as("log10_price"),
        round(log2(col("p_size").cast("double")), 4).as("log2_size"))
      .orderBy(col("p_partkey"))

  val scalarMiscOracle: String =
    """SELECT p_partkey,
      |  greatest(p_size, 25) AS g25,
      |  least(p_size, 25) AS l25,
      |  CAST(sign(p_retailprice - 1500.0) AS DOUBLE) AS sgn,
      |  round(cbrt(p_retailprice), 4) AS cbrt_price,
      |  round(log10(p_retailprice), 4) AS log10_price,
      |  round(log2(CAST(p_size AS DOUBLE)), 4) AS log2_size
      |FROM part ORDER BY p_partkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_regex_extract_all" -> (regexExtractAll _),
    "q_split_part" -> (splitPart _),
    "q_time_bucket" -> (timeBucket _),
    "q_weighted_avg" -> (weightedAvg _),
    "q_join_nullsafe" -> (joinNullsafe _),
    "q_pct_of_total" -> (pctOfTotal _),
    "q_agg_filter" -> (aggFilter _),
    "q_array_setops" -> (arraySetops _),
    "q_epoch_convert" -> (epochConvert _),
    "q_scalar_misc" -> (scalarMisc _))

  def oracle: Map[String, String] = Map(
    "q_regex_extract_all" -> regexExtractAllOracle,
    "q_split_part" -> splitPartOracle,
    "q_time_bucket" -> timeBucketOracle,
    "q_weighted_avg" -> weightedAvgOracle,
    "q_join_nullsafe" -> joinNullsafeOracle,
    "q_pct_of_total" -> pctOfTotalOracle,
    "q_agg_filter" -> aggFilterOracle,
    "q_array_setops" -> arraySetopsOracle,
    "q_epoch_convert" -> epochConvertOracle,
    "q_scalar_misc" -> scalarMiscOracle)
}
