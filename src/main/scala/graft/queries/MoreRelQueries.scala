package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-2 widening of the relational surface: ordered string
  * aggregation, boolean/bitwise aggregates, exact correlation,
  * histogram binning, IGNORE NULLS window fill, time-series gap fill,
  * recursive CTE hierarchy walk, and LATERAL correlated join.
  *
  * Scale notes: every query is a declarative groupBy/window/join —
  * 2-phase HashAggregate or a single keyed shuffle. The gap-fill grid
  * is |hours|×|types| (tiny vs the fact table, broadcastable); the
  * recursive CTE iterates over dimension-sized frontiers only
  * (region→nation→customer), never the fact tables.
  */
object MoreRelQueries extends QueryFamily {

  /** q_str_agg — ordered string aggregation (listagg / string_agg):
    * distinct priorities per order status, comma-joined in order. */
  def strAgg(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderstatus,
            |  listagg(DISTINCT o_orderpriority, ',')
            |    WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
            |  COUNT(*) AS n
            |FROM orders GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin)
  }

  val strAggOracle: String =
    """SELECT o_orderstatus,
      | string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
      |   AS priorities,
      | COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** q_bool_bit_agg — boolean and bitwise aggregates per status. */
  def boolBitAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_and(col("o_totalprice") > 1000).as("all_gt_1k"),
        bool_or(col("o_totalprice") > 400000).as("any_gt_400k"),
        bit_and(col("o_custkey")).as("key_band"),
        bit_or(col("o_custkey")).as("key_bor"),
        bit_xor(col("o_custkey")).as("key_bxor"))
      .orderBy(col("o_orderstatus"))

  val boolBitAggOracle: String =
    """SELECT o_orderstatus,
      | bool_and(o_totalprice > 1000) AS all_gt_1k,
      | bool_or(o_totalprice > 400000) AS any_gt_400k,
      | bit_and(o_custkey) AS key_band,
      | bit_or(o_custkey) AS key_bor,
      | bit_xor(o_custkey) AS key_bxor
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q_corr — Pearson correlation of quantity vs extendedprice per
    * returnflag, derived from EXACT decimal power sums (the builtin
    * one-pass corr drifts at the last ulp under parallel reduction —
    * same technique as q_stats). */
  def corrQ(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
        sum(dec(col("l_quantity") * col("l_quantity"))).cast("double").as("sxx"),
        sum(dec6(col("l_extendedprice") * col("l_extendedprice")))
          .cast("double").as("syy"),
        sum(dec6(col("l_quantity") * col("l_extendedprice")))
          .cast("double").as("sxy"))
      .select(col("l_returnflag"), col("n"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))

  val corrOracle: String =
    """SELECT l_returnflag, n,
      | ROUND((n*sxy - sx*sy) /
      |   SQRT((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag) t
      |ORDER BY l_returnflag""".stripMargin

  /** q_histogram — equi-width price-band histogram (50k bands):
    * binning by floor division, the groupBy-count scale shape. */
  def histogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(floor(col("o_totalprice") / 50000).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket"))

  val histogramOracle: String =
    """SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
      | COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q_win_ignore_nulls — forward-fill with IGNORE NULLS: error
    * events carry no value (masked to NULL); each row sees the last
    * known good value per user. */
  def winIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts2").as("ts2"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("value")).as("good_value"))
      .select(col("user_id"), col("event_id"), col("ts2"),
        col("good_value"),
        last(col("good_value"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("user_id"), col("ts2"), col("event_id"))
  }

  val winIgnoreNullsOracle: String =
    """SELECT user_id, event_id, ts AS ts2,
      | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS good_value,
      | last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
      |   IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** q_interpolate — LINEAR interpolation of missing sensor values
    * (error rows null their value; each null is rebuilt from the
    * straight line between the surrounding non-null readings, nulls
    * at the series edges fall back to the one available side). The
    * standard time-series repair next to forward-fill
    * ([[winIgnoreNulls]]) and zero-fill ([[gapfill]]). Two frames per
    * row — both run in the SAME single window sort on (user, ts). */
  def interpolate(s: SparkSession, d: String): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("tn"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id"))
      .orderBy(col("tn"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val base = events(s, d)
      .select(col("user_id"), col("event_id"), col("ts2"),
        unix_micros(col("ts2")).as("tn"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("value")).as("good"))
    base
      .withColumn("pv", last(col("good"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(when(col("good").isNotNull, col("tn")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("good"), ignoreNulls = true).over(wNext))
      .withColumn("nt", first(when(col("good").isNotNull, col("tn")),
        ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("event_id"), col("ts2").as("ts"),
        col("good"),
        round(
          when(col("good").isNotNull, col("good"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("tn") - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double")), 4).as("repaired"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val interpolateOracle: String =
    """WITH base AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS tn,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS good
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, ts, tn, good,
      |    last_value(good IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN good IS NOT NULL THEN tn END IGNORE NULLS)
      |      OVER wp AS pt,
      |    first_value(good IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN good IS NOT NULL THEN tn END IGNORE NULLS)
      |      OVER wn AS nt
      |  FROM base
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY tn, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id ORDER BY tn, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, event_id, ts, good,
      |  ROUND(CASE
      |    WHEN good IS NOT NULL THEN good
      |    WHEN pv IS NULL THEN nv
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * CAST(tn - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)
      |  END, 4) AS repaired
      |FROM f ORDER BY user_id, ts, event_id""".stripMargin

  /** q_gapfill — dense hourly time series per event type: the
    * hour×type grid is generated (sequence + explode ≙ generator),
    * facts left-joined onto it, empty cells filled with zeros. The
    * grid is dimension-sized → broadcast join against the
    * pre-aggregated facts. */
  def gapfill(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(date_trunc("hour", col("ts2")).as("h"),
        col("event_type"), col("value"))
    val hourly = e.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val hours = e.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    val types = e.select(col("event_type")).distinct()
    broadcast(hours.crossJoin(types))
      .join(broadcast(hourly), Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("h"), col("event_type"))
  }

  val gapfillOracle: String =
    """WITH e AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type, value FROM events),
      |hourly AS (
      |  SELECT h, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |  FROM e GROUP BY h, event_type),
      |hours AS (
      |  SELECT UNNEST(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
      |  FROM e),
      |types AS (SELECT DISTINCT event_type FROM e)
      |SELECT hours.h AS h, types.event_type AS event_type,
      |  COALESCE(hourly.n, 0) AS n, COALESCE(hourly.sum_value, 0.0) AS sum_value
      |FROM hours CROSS JOIN types
      | LEFT JOIN hourly ON hourly.h = hours.h
      |   AND hourly.event_type = types.event_type
      |ORDER BY 1, 2""".stripMargin

  /** q_cte_recursive — recursive CTE walking the dimension hierarchy
    * region → nation → customer via a generic edge list; outputs the
    * entity count per root region and depth. The frontier is
    * dimension-sized at every step (never touches fact tables). Same
    * SQL text in both engines (Spark 4 supports WITH RECURSIVE). */
  val cteRecursiveSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT 'nation' AS kind, CAST(n_nationkey AS BIGINT) AS key,
      |         'region' AS parent_kind, CAST(n_regionkey AS BIGINT) AS parent_key
      |  FROM nation
      |  UNION ALL
      |  SELECT 'customer', CAST(c_custkey AS BIGINT),
      |         'nation', CAST(c_nationkey AS BIGINT) FROM customer),
      |walk AS (
      |  SELECT 'region' AS kind, CAST(r_regionkey AS BIGINT) AS key,
      |         CAST(r_regionkey AS BIGINT) AS region_key, 0 AS depth
      |  FROM region
      |  UNION ALL
      |  SELECT e.kind, e.key, w.region_key, w.depth + 1
      |  FROM walk w
      |  JOIN edges e ON e.parent_kind = w.kind AND e.parent_key = w.key)
      |SELECT region_key, depth, kind, COUNT(*) AS n,
      |  MIN(key) AS min_key, MAX(key) AS max_key
      |FROM walk GROUP BY region_key, depth, kind
      |ORDER BY region_key, depth, kind""".stripMargin

  def cteRecursive(s: SparkSession, d: String): DataFrame = {
    region(s, d).createOrReplaceTempView("region")
    nation(s, d).createOrReplaceTempView("nation")
    customer(s, d).createOrReplaceTempView("customer")
    s.sql(cteRecursiveSql)
  }

  /** q_join_lateral — LATERAL correlated subquery: for each order
    * status, the max price and count of its urgent orders (correlation
    * in WHERE, the form both engines support). */
  val joinLateralSql: String =
    """SELECT s.o_orderstatus, l.mx, l.n
      |FROM (SELECT DISTINCT o_orderstatus FROM orders) s,
      | LATERAL (
      |   SELECT MAX(o_totalprice) AS mx, COUNT(*) AS n
      |   FROM orders
      |   WHERE o_orderstatus = s.o_orderstatus
      |     AND o_orderpriority = '1-URGENT') l
      |ORDER BY s.o_orderstatus""".stripMargin

  def joinLateral(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(joinLateralSql)
  }

  /** q_minmax_by — argmax/argmin aggregation (max_by / arg_max): the
    * longest and shortest document per language. The ordering key
    * packs the tie-break INTO the integer key (n_chars·10^6 + doc_id)
    * so both engines pick the same winner on equal lengths. */
  def minmaxBy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        max_by(col("doc_id"),
          col("n_chars") * lit(1000000L) + col("doc_id")).as("longest_doc"),
        min_by(col("doc_id"),
          col("n_chars") * lit(1000000L) + col("doc_id")).as("shortest_doc"),
        max(col("n_chars")).as("max_chars"),
        min(col("n_chars")).as("min_chars"))
      .orderBy(col("lang"))

  val minmaxByOracle: String =
    """SELECT lang,
      | arg_max(doc_id, CAST(n_chars AS BIGINT) * 1000000 + doc_id) AS longest_doc,
      | arg_min(doc_id, CAST(n_chars AS BIGINT) * 1000000 + doc_id) AS shortest_doc,
      | MAX(n_chars) AS max_chars, MIN(n_chars) AS min_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q_stats_ext — higher-moment statistics per returnflag: skewness
    * and excess kurtosis derived from EXACT decimal power sums s1..s4
    * (builtin one-pass skew/kurt drift under parallel reduction), plus
    * count_if. l_quantity is integer-valued so every power is exact at
    * scale 4. */
  def statsExt(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        count_if(q > 25).as("n_big"),
        sum(dec(q)).cast("double").as("s1"),
        sum(dec(q * q)).cast("double").as("s2"),
        sum(dec(q * q * q)).cast("double").as("s3"),
        sum(dec(q * q * q * q)).cast("double").as("s4"))
      .select(col("l_returnflag"), col("n"), col("n_big"),
        r4(expr("(s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / " +
          "pow(s2/n - (s1/n)*(s1/n), 1.5)")).as("skewness"),
        r4(expr("(s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - " +
          "3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / " +
          "pow(s2/n - (s1/n)*(s1/n), 2) - 3")).as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  val statsExtOracle: String =
    """SELECT l_returnflag, n, n_big,
      | ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) /
      |   pow(s2/n - (s1/n)*(s1/n), 1.5), 4) AS skewness,
      | ROUND((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) -
      |   3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) /
      |   pow(s2/n - (s1/n)*(s1/n), 2) - 3, 4) AS kurtosis
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s4
      |  FROM lineitem GROUP BY l_returnflag) t
      |ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_minmax_by" -> (minmaxBy _),
    "q_stats_ext" -> (statsExt _),
    "q_str_agg" -> (strAgg _),
    "q_bool_bit_agg" -> (boolBitAgg _),
    "q_corr" -> (corrQ _),
    "q_histogram" -> (histogram _),
    "q_win_ignore_nulls" -> (winIgnoreNulls _),
    "q_interpolate" -> (interpolate _),
    "q_gapfill" -> (gapfill _),
    "q_cte_recursive" -> (cteRecursive _),
    "q_join_lateral" -> (joinLateral _))

  val oracle: Map[String, String] = Map(
    "q_minmax_by" -> minmaxByOracle,
    "q_stats_ext" -> statsExtOracle,
    "q_str_agg" -> strAggOracle,
    "q_bool_bit_agg" -> boolBitAggOracle,
    "q_corr" -> corrOracle,
    "q_histogram" -> histogramOracle,
    "q_win_ignore_nulls" -> winIgnoreNullsOracle,
    "q_interpolate" -> interpolateOracle,
    "q_gapfill" -> gapfillOracle,
    "q_cte_recursive" -> cteRecursiveSql,
    "q_join_lateral" -> joinLateralSql)
}
