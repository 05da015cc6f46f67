package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the graded parquet tables (TESTDATA.md).
  *
  * Design notes for scale: every loader returns a plain parquet scan —
  * a declarative relation Catalyst can push filters/projections into
  * (verified via `PushedFilters`/`ReadSchema` in plan tests). No
  * caching or collect here; at 100 TB these are partitioned
  * directory scans and the SAME code path applies (partition pruning
  * composes with the pushed filters).
  *
  * The one special case is `events`: its `ts` column is parquet
  * TIMESTAMP(NANOS,false), which Spark 4.1 refuses to read natively
  * (PARQUET_TYPE_ILLEGAL — SURVEY.md §8.1). We flip the legacy
  * nanosAsLong conf at runtime and expose BOTH the raw nano long
  * (`ts`) and a micro-truncated timestamp (`ts2`) that matches what
  * DuckDB reads natively for the same column, so oracle SQL can use
  * the bare column.
  */
object Tables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized plans per (session, dir, table): re-listing the
    * directory and re-reading parquet footers for every one of the
    * 60+ bench queries is pure fixed overhead; one shared relation
    * also lets a single `.persist()` (Bench) serve all queries.
    * The memo holds lazy PLANS, not data — Verify semantics are
    * unchanged and filter/projection pushdown still applies. */
  // weak on the session: a stopped SparkSession (tests, notebooks
  // cycling sessions) must not be pinned for the JVM lifetime by its
  // cached plans
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]())

  private def sessionMemo(spark: SparkSession) = {
    val m = memo.get(spark)
    if (m != null) m
    else {
      val fresh = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
      val prev = memo.putIfAbsent(spark, fresh)
      if (prev != null) prev else fresh
    }
  }

  /** Plain parquet table scan (memoized per session).
    *
    * Every graded query passes through a loader here, so the loaders
    * install the graft extensions (custom functions and optimizer
    * rules, notably [[graft.plans.FastRoundRewrite]]) on whatever
    * session the query runs in — also sessions no [[GraftSession]]
    * built. [[GraftExtensions.register]] is idempotent and cheap.
    *
    * Round-10 (verdict item 4): a `catalog:<prefix>` dir routes every
    * loader to the session catalog's `<prefix>_<name>` tables instead
    * of raw parquet paths — the production [[graft.plans.Layout]]
    * write path (bucketed / partitioned-bucketed saveAsTable). Every
    * graded query is dir-parameterized already, so the SAME query
    * code runs over the 100 TB layout, and LayoutGradedSpec proves
    * hash-identical results plus the exchange-free bucketed join. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftExtensions.register(spark)
    sessionMemo(spark).getOrElseUpdate((sfDir, name),
      if (sfDir.startsWith("catalog:"))
        spark.table(s"${sfDir.stripPrefix("catalog:")}_$name")
      else spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` replaced by `ts2 TIMESTAMP` (micro-truncated,
    * identical to DuckDB's native read of the nano column — SURVEY.md
    * §8.1) and `ts_nanos LONG` kept for exact arithmetic.
    *
    * The conf must be set at runtime because the driver owns
    * SparkSession construction (Verify.scala). Setting it is
    * idempotent and safe to repeat per call.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sessionMemo(spark).getOrElseUpdate((sfDir, "events_decoded"),
      eventsDecoded(spark, sfDir))
  }

  /** Real loader behind the [[events]] memo key. NOTE: callers must
    * have set nanosAsLong before the first `events` read (done in
    * [[events]]).
    *
    * Schema-adaptive: generated data has shipped `ts` both as parquet
    * TIMESTAMP(NANOS) (surfaced as LONG via nanosAsLong) and as plain
    * micro TIMESTAMP (surfaced as TIMESTAMP_NTZ). Both decode to the
    * same two columns — `ts2 TIMESTAMP` (micros, = DuckDB's native
    * read) and `ts_nanos LONG` (exact integer arithmetic) — so every
    * downstream query is agnostic to which vintage is on disk.
    */
  private def eventsDecoded(spark: SparkSession, sfDir: String): DataFrame = {
    val raw =
      if (sfDir.startsWith("catalog:")) table(spark, sfDir, "events")
      else spark.read.parquet(s"$sfDir/events.parquet")
    // a catalog-layout events table stores the DECODED shape already
    // (ts2 + ts_nanos — Layout writes post-decode frames); its
    // `event_date` partition column is a LAYOUT artifact
    // (Layout.writeGradedCatalog date-partitions events for pruning)
    // — drop it so catalog and parquet reads expose identical schemas
    if (!raw.columns.contains("ts"))
      return if (raw.columns.contains("event_date")) raw.drop("event_date")
             else raw
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_nanos", col("ts"))
          // integral `div`, NOT `/`: Spark's `/` is double division and
          // epoch nanos (~1.7e18) exceed double's 53-bit mantissa → ±1µs
          // drift vs DuckDB's exact truncation (caught by q_join_asof)
          .withColumn("ts2", timestamp_micros(expr("ts div 1000")))
          .drop("ts")
      case _ =>
        // micro-precision vintage: NTZ→LTZ cast is identity under the
        // UTC session timezone; nanos are micros*1000 exactly (no
        // precision created or lost — epoch micros ~1.7e15 · 1000
        // stays far under Long.Max)
        val t = raw.withColumn("ts2",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
        t.withColumn("ts_nanos", unix_micros(col("ts2")) * lit(1000L))
          .drop("ts")
    }
  }

  // ---- relations several query families derive from the tables,
  // each beside its DuckDB twin ----

  /** Per event type and UTC day: the value total, an exact decimal sum
    * rounded at 4dp. */
  def dailyByType(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts2")).as("day"))
      .agg(round(graft.Determinism.dsum(col("value")), 4).as("v"))

  val dailyByTypeSql: String =
    """SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
      |  FROM events GROUP BY 1, 2""".stripMargin

  /** Per UTC day: purchase events (y) and all other events (x). */
  val dailyPurchasesSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |    AS BIGINT) AS y,
      |  CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
      |    AS BIGINT) AS x
      |FROM events GROUP BY 1""".stripMargin

  /** The directed weighted nation trade graph: na = customer nation,
    * nb = supplier nation, w = lineitem count (src/dst/w in the
    * SQL). */
  def tradeEdges(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey"), col("c_nationkey").as("na"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("nb")),
        col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("na"), col("nb")).agg(count(lit(1)).as("w"))

  val tradeEdgesSql: String =
    """SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  GROUP BY 1, 2""".stripMargin

  /** Undirected simple nation trade edges a<b. */
  def undirectedTradeEdges(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    // <=|nations|^2 edge grid referenced by several branches per
    // query - materialize once (round-8 scan gate)
    customer(s, d).select(col("c_custkey"), col("c_nationkey").as("src"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("dst")),
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .truncatedCheckpoint()
  }

  val undirectedTradeEdgesSql: String =
    """SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
      |    greatest(c.c_nationkey, s.s_nationkey) AS b
      |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey""".stripMargin
}
