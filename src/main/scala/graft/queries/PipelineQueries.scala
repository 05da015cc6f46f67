package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-2 widening #2: event-pipeline analytics a production
  * training-data / clickstream pipeline needs beyond the core
  * relational surface — conversion funnels, cohort retention,
  * deterministic hash sampling, least-squares regression, grouped
  * mode, token-distribution entropy, event-transition bigrams,
  * privacy pseudonymization, skew-salted joins, and latest-record
  * compaction.
  *
  * Scale notes (100 TB): every query is expressed as declarative
  * groupBy/window/join so Catalyst picks 2-phase hash aggregation and
  * shuffle-or-broadcast joins. The funnel/retention per-user frames
  * shuffle once on `user_id` (the natural event partition key at
  * scale); hash sampling happens BEFORE any shuffle, so at 100 TB it
  * prunes the scan output down to the sampled fraction first;
  * the salted join demonstrates the standard hot-key mitigation:
  * replicate the build side k ways and spread the probe side across
  * the replicas, turning one straggler partition into k uniform ones
  * (same technique AQE skew-join applies adaptively).
  */
object PipelineQueries extends QueryFamily {

  /** q_funnel — 3-stage conversion funnel over `events`: users who
    * signed up, then viewed AFTER their first signup, then purchased
    * AFTER that first qualifying view. Classic min-timestamp chain:
    * each stage is one keyed aggregate joined to the previous stage,
    * so the whole funnel is |stages| shuffles on `user_id` (and at
    * scale each join is co-partitioned with the previous aggregate —
    * the sort orders reuse). */
  def funnel(s: SparkSession, d: String): DataFrame = {
    // each per-user stage frame feeds the next stage's join AND its
    // own count — materialize the shared stages once (round-8 scan
    // gate: was 6 events scans; the funnel chain otherwise re-runs
    // every upstream stage per downstream branch)
    import graft.operators.CacheOps.CheckpointSyntax
    val e = events(s, d)
    val su = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts2")).as("t0"))
      .truncatedCheckpoint()
    val vi = e.filter(col("event_type") === "view")
      .join(su, "user_id").filter(col("ts2") > col("t0"))
      .groupBy(col("user_id")).agg(min(col("ts2")).as("t1"))
      .truncatedCheckpoint()
    val pu = e.filter(col("event_type") === "purchase")
      .join(vi, "user_id").filter(col("ts2") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts2")).as("t2"))
    su.agg(count(lit(1)).as("users")).select(lit("1_signup").as("stage"), col("users"))
      .unionAll(vi.agg(count(lit(1)).as("users")).select(lit("2_view").as("stage"), col("users")))
      .unionAll(pu.agg(count(lit(1)).as("users")).select(lit("3_purchase").as("stage"), col("users")))
      .orderBy(col("stage"))
  }

  val funnelOracle: String =
    """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
      |            WHERE event_type='signup' GROUP BY 1),
      |vi AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
      |       JOIN su ON e.user_id = su.user_id AND e.ts > su.t0
      |       WHERE e.event_type='view' GROUP BY 1),
      |pu AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |       JOIN vi ON e.user_id = vi.user_id AND e.ts > vi.t1
      |       WHERE e.event_type='purchase' GROUP BY 1)
      |SELECT '1_signup' AS stage, (SELECT count(*) FROM su)::BIGINT AS users
      |UNION ALL
      |SELECT '2_view', (SELECT count(*) FROM vi)::BIGINT
      |UNION ALL
      |SELECT '3_purchase', (SELECT count(*) FROM pu)::BIGINT
      |ORDER BY stage""".stripMargin

  /** q_retention — cohort retention: users grouped by first-activity
    * day, counted as retained on each later day-offset (first week).
    * One `user_id` aggregate + one co-partitioned join back to the
    * fact, then a tiny (cohort, offset) aggregate. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val first = e.groupBy(col("user_id"))
      .agg(to_date(min(col("ts2"))).as("cohort"))
    e.join(first, "user_id")
      .select(col("cohort"),
        datediff(to_date(col("ts2")), col("cohort")).as("day_off"),
        col("user_id"))
      .filter(col("day_off") <= 7)
      .distinct()
      .groupBy(col("cohort"), col("day_off"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("cohort"), col("day_off"))
  }

  val retentionOracle: String =
    """WITH first AS (
      |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY 1)
      |SELECT cohort, day_off, count(*)::BIGINT AS users FROM (
      |  SELECT DISTINCT f.cohort,
      |    date_diff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE)) AS day_off,
      |    e.user_id
      |  FROM events e JOIN first f ON e.user_id = f.user_id)
      |WHERE day_off <= 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_sample_hash — deterministic hash sampling: keep orders whose
    * md5(key) starts with '0' or '1' (a stable 1/8-ish cluster
    * sample by orderkey), then aggregate the sampled lineitems.
    * Unlike TABLESAMPLE/rand() this is reproducible across engines,
    * runs, AND partitionings — the property a training-data pipeline
    * needs for holdout splits. The filter evaluates at scan time
    * (before any shuffle), so at 100 TB the downstream agg sees only
    * the sample. */
  def sampleHash(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))

  val sampleHashOracle: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0','1')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_regr — least-squares regression of extendedprice on quantity
    * per returnflag, computed from EXACT decimal moment sums (D2:
    * parallel double reduction is order-dependent; decimal sums are
    * not), converted to double only for the final division. */
  def regr(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).as("sx"),
        sum(dec(col("l_extendedprice"))).as("sy"),
        sum(dec(col("l_quantity") * col("l_quantity"))).as("sxx"),
        sum(dec(col("l_quantity") * col("l_extendedprice"))).as("sxy"))
      .select(
        col("l_returnflag"),
        col("n"),
        round((dout(col("n") * col("sxy") - col("sx") * col("sy")) /
               dout(col("n") * col("sxx") - col("sx") * col("sx"))), 4)
          .as("slope"),
        round((dout(col("sy")) - (dout(col("n") * col("sxy") - col("sx") * col("sy")) /
               dout(col("n") * col("sxx") - col("sx") * col("sx"))) * dout(col("sx"))) /
              col("n"), 4).as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  val regrOracle: String =
    """WITH m AS (
      |  SELECT l_returnflag, count(*)::BIGINT AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
      |    SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS sxx,
      |    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 4) AS slope,
      |  ROUND((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n, 4) AS intercept
      |FROM m ORDER BY 1""".stripMargin

  /** q_mode — deterministic grouped mode: most frequent brand per
    * part-type prefix, ties broken lexicographically (built-in
    * `mode()` is tie-nondeterministic in both engines — D4). Count +
    * row_number is the scalable form: one keyed aggregate, then a
    * tiny per-group window. */
  def modeQ(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
      .withColumn("type_prefix", split(col("p_type"), " ").getItem(0))
    val counted = p.groupBy(col("type_prefix"), col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("type_prefix"))
      .orderBy(col("cnt").desc, col("p_brand"))
    counted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("type_prefix"), col("p_brand").as("mode_brand"), col("cnt"))
      .orderBy(col("type_prefix"))
  }

  val modeOracle: String =
    """WITH c AS (
      |  SELECT string_split(p_type, ' ')[1] AS type_prefix, p_brand,
      |         count(*)::BIGINT AS cnt
      |  FROM part GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY type_prefix
      |        ORDER BY cnt DESC, p_brand) AS rn FROM c)
      |SELECT type_prefix, p_brand AS mode_brand, cnt
      |FROM r WHERE rn = 1 ORDER BY type_prefix""".stripMargin

  /** q_entropy — Shannon entropy of the token distribution per
    * language: H = -Σ p·ln p over the (closed, 31-word — FIXTURES.md)
    * vocabulary. Token counts are exact longs; the double Σ runs over
    * ≤|vocab| terms so ROUND(,4) absorbs reduction-order ulps. */
  def entropy(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("lang"),
      explode(split(lower(col("text")), " ")).as("token"))
    val counts = toks.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_tokens"))
    counts.join(totals, "lang")
      .withColumn("p", col("cnt").cast("double") / col("total").cast("double"))
      .groupBy(col("lang"))
      .agg(round(-sum(col("p") * log(col("p"))), 4).as("entropy"),
        max(col("n_tokens")).as("n_distinct_tokens"))
      .orderBy(col("lang"))
  }

  val entropyOracle: String =
    """WITH toks AS (
      |  SELECT lang, UNNEST(string_split(LOWER(text), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT lang, token, count(*)::BIGINT AS cnt FROM toks GROUP BY 1,2),
      |t AS (SELECT lang, SUM(cnt)::BIGINT AS total, count(*)::BIGINT AS n_tokens
      |      FROM c GROUP BY 1)
      |SELECT c.lang,
      |  ROUND(-SUM((CAST(cnt AS DOUBLE)/CAST(total AS DOUBLE)) *
      |             ln(CAST(cnt AS DOUBLE)/CAST(total AS DOUBLE))), 4) AS entropy,
      |  MAX(n_tokens) AS n_distinct_tokens
      |FROM c JOIN t ON c.lang = t.lang
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_seq_adjacent — event-transition bigrams: for each user's
    * time-ordered event stream, count (previous_type → current_type)
    * transitions. One window shuffle on `user_id` + one tiny
    * aggregate over ≤|types|² keys — the Markov-chain building block
    * for session modeling. */
  def seqAdjacent(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val seqAdjacentOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, count(*)::BIGINT AS n
      |FROM seq WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_pseudonymize — privacy-preserving key transformation: replace
    * `user_id` with a salted SHA-256 pseudonym (stable across runs
    * and engines, irreversible without the salt), then aggregate per
    * pseudonym. The map side is pure projection — no extra shuffle
    * beyond the aggregate's own. */
  def pseudonymize(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("pseudo_id",
        substring(sha2(concat(col("user_id").cast("string"), lit("|graft")), 256), 1, 16))
      .groupBy(col("pseudo_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("pseudo_id"))

  val pseudonymizeOracle: String =
    """SELECT substr(sha256(CAST(user_id AS VARCHAR) || '|graft'), 1, 16) AS pseudo_id,
      | count(*)::BIGINT AS n_events,
      | count(DISTINCT event_type)::BIGINT AS n_types,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_join_skew — skew-mitigated (salted) join: replicate each
    * `orders` build row across SALT buckets and spread `lineitem`
    * probe rows uniformly over them, so one hot orderkey lands on
    * SALT partitions instead of one straggler. Result is provably
    * identical to the plain join (each probe row meets exactly the
    * one replica with its salt), so the oracle is the unsalted SQL.
    * This is the manual form of what AQE skew-join does adaptively;
    * at 100 TB prefer AQE unless the skew is known a priori. */
  def joinSkew(s: SparkSession, d: String): DataFrame = {
    val SALT = 8
    val probe = lineitem(s, d)
      .withColumn("salt", pmod(xxhash64(col("l_linenumber")), lit(SALT)))
    val build = orders(s, d)
      .withColumn("salt", explode(lit((0 until SALT).toArray)))
      .withColumn("salt", col("salt").cast("long"))
    probe.join(build,
        probe("l_orderkey") === build("o_orderkey") &&
        probe("salt") === build("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val joinSkewOracle: String =
    """SELECT o_orderstatus, count(*)::BIGINT AS n,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_dedup_latest — latest-record compaction (CDC/upsert pattern):
    * keep the newest event per (user, type) by (ts, event_id)
    * descending. Window row_number is the scalable form — one shuffle
    * on the compaction key, no global sort. */
  def dedupLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts2").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("ts2").as("last_ts"), col("event_id").as("last_event_id"),
        col("value").as("last_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val dedupLatestOracle: String =
    """SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
      |  value AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** q_win_time_range — trailing 10-minute rolling average per user:
    * a TIME-based RANGE frame (vs q_win_range_frame's integer frame).
    * Spark's rangeBetween needs a numeric sort key, so the frame is
    * declared over `unix_micros(ts2)` with a ±600e6 µs bound —
    * identical frame SETS to DuckDB's `RANGE INTERVAL '10 minutes'
    * PRECEDING`. The frame sum is decimal-exact (D2: frame membership
    * is a set, but the reduction order is engine-private). */
  def winTimeRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts2")))
      .rangeBetween(-600000000L, 0L)
    events(s, d)
      .withColumn("roll_avg",
        round(sum(dec(col("value"))).over(w).cast("double") /
          count(col("value")).over(w), 4))
      .select(col("user_id"), col("ts2").as("ts"), col("event_id"),
        col("roll_avg"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val winTimeRangeOracle: String =
    """SELECT user_id, ts, event_id,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |        / COUNT(value) OVER w, 4) AS roll_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL '10 minutes' PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** q_percentile_disc — discrete (order-statistic) median per group:
    * the smallest actual value whose cumulative distribution reaches
    * 0.5 — vs q_percentile's interpolated form. The oracle keeps the
    * ANSI cume_dist phrasing; Spark computes the identical exact
    * count ratio cum/n per cell of the contracted (priority, price)
    * grid, with the cumulative count from the partitioned distributed
    * prefix ([[graft.operators.PrefixOps.groupedCumCounts]]) — a
    * window partitioned by the 5-value priority would funnel ~n/5 of
    * the orders through each task at scale. cume_dist is constant
    * across tied rows (count of rows ≤ value), so the grid form is
    * exact: per-row count at-or-above 0.5 = Σ c over qualifying
    * cells. */
  def percentileDisc(s: SparkSession, d: String): DataFrame =
    graft.operators.PrefixOps.groupedCumCounts(
        orders(s, d).select(col("o_orderpriority"), col("o_totalprice")),
        Seq("o_orderpriority"), "o_totalprice")
      .filter(col("cum").cast("double") / col("n").cast("double") >= 0.5)
      .groupBy(col("o_orderpriority"))
      .agg(min(col("o_totalprice")).as("p50_disc"),
        sum(col("c")).as("n_at_or_above"))
      .orderBy(col("o_orderpriority"))

  val percentileDiscOracle: String =
    """SELECT o_orderpriority, min(o_totalprice) AS p50_disc,
      |  count(*)::BIGINT AS n_at_or_above
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        cume_dist() OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice) AS cd
      |      FROM orders)
      |WHERE cd >= 0.5 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_ngram_freq — top-3 bigrams per language. Spark builds bigrams
    * with zip_with over adjacent slices — a pure per-row projection,
    * NO per-document window shuffle (the scale path: only the final
    * (lang, bigram) aggregate shuffles). The oracle mirrors the same
    * bigram set with a DuckDB list comprehension. */
  def ngramFreq(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("toks", split(lower(col("text")), " "))
    val bigrams = docs.select(col("lang"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val counted = bigrams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("freq").desc, col("bigram"))
    counted.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("lang"), col("bigram"), col("freq"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val ngramFreqOracle: String =
    """WITH toks AS (
      |  SELECT lang, string_split(LOWER(text), ' ') AS l FROM documents),
      |bg AS (
      |  SELECT lang, unnest(list_transform(range(1, len(l)),
      |    i -> l[i] || ' ' || l[i+1])) AS bigram FROM toks),
      |c AS (SELECT lang, bigram, count(*)::BIGINT AS freq
      |      FROM bg GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY freq DESC, bigram) AS rk FROM c)
      |SELECT lang, bigram, freq, rk FROM r WHERE rk <= 3
      |ORDER BY lang, rk""".stripMargin

  /** q_zscore — per-group feature standardization ((x-μ)/σ, the
    * feature-engineering staple before model training): group moments
    * via ONE keyed aggregate, broadcast back onto the facts — a
    * whole-partition window (partition by the ~5-value event_type,
    * no order) computes the same three sums but funnels ~n/5 of the
    * table through each window task at scale, where the aggregate
    * form partial-aggregates map-side and shuffles |types| rows. D2:
    * μ and σ come from exact decimal Σx and Σx² (population σ via
    * E[x²]−E[x]²), converted to double only for the final
    * arithmetic — identical operands ⇒ identical IEEE results in
    * both engines (decimal sums are reduction-order-free). */
  def zscore(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d).groupBy(col("event_type")).agg(
      sum(dec(col("value"))).as("sx"),
      sum(dec6(col("value") * col("value"))).as("sx2"),
      count(col("value")).as("cnt"))
    val mean = col("sx").cast("double") / col("cnt")
    val ex2 = col("sx2").cast("double") / col("cnt")
    events(s, d).join(broadcast(m), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - mean) / sqrt(ex2 - mean * mean), 4).as("z"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val zscoreOracle: String =
    """WITH f AS (
      |  SELECT event_id, event_type, value,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |      / COUNT(value) OVER w AS mean,
      |    CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |      / COUNT(value) OVER w AS ex2
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type))
      |SELECT event_id, event_type, value,
      |  ROUND((value - mean) / sqrt(ex2 - mean * mean), 4) AS z
      |FROM f ORDER BY event_type, event_id""".stripMargin

  /** q_train_split — deterministic train/val/test split by hash
    * bucket (md5 first hex digit: 12/2/2 of 16), the reproducible
    * holdout assignment a training pipeline needs: stable across
    * runs, engines, AND repartitioning (unlike randomSplit). One
    * projection + one tiny aggregate. */
  def trainSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("h").isin("c", "d"), "val")
          .when(col("h").isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  val trainSplitOracle: String =
    """SELECT CASE
      |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
      |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
      |    ELSE 'train' END AS split,
      |  count(*)::BIGINT AS n_docs,
      |  SUM(n_chars)::BIGINT AS total_chars,
      |  count(DISTINCT lang)::BIGINT AS n_langs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_context_pack — concat-then-chunk sequence packing: stream the
    * corpus per language in doc_id order, cut the token stream into
    * fixed 512-token context windows, report docs/tokens per window
    * (the packing step that turns a document table into LLM training
    * sequences). The exclusive running sum runs through the
    * partitioned distributed prefix
    * ([[graft.operators.PrefixOps.runningSums]] — buckets within each
    * language proceed in parallel); a plain window partitioned by the
    * low-cardinality lang would serialize each language's whole
    * stream through one task at scale. */
  def contextPack(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"))
    graft.operators.PrefixOps.runningSums(toks, col("doc_id"),
        Seq(col("doc_id")), Seq("cum_incl" -> col("n_tok")),
        partitionBy = Seq(col("lang")))
      .withColumn("cum_excl", col("cum_incl") - col("n_tok"))
      .withColumn("window_id", (col("cum_excl") / 512).cast("long"))
      .groupBy(col("lang"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"), col("window_id"))
  }

  val contextPackOracle: String =
    """WITH t AS (
      |  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
      |      AS cum_excl
      |  FROM t)
      |SELECT lang, CAST(FLOOR(cum_excl / 512) AS BIGINT) AS window_id,
      |  count(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
      |  MIN(doc_id) AS first_doc
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_pct_change — period-over-period delta: daily event volume per
    * type with percent change vs the previous day (the reporting
    * staple layered on lag()). Aggregate FIRST (tiny series), window
    * SECOND — the window sort runs over |days|×|types| rows, never
    * the fact table. */
  def pctChange(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("day"), col("event_type"), col("n"),
        round((col("n") - col("prev_n")).cast("double") * 100.0 /
          col("prev_n"), 4).as("pct_change"))
      .orderBy(col("day"), col("event_type"))
  }

  val pctChangeOracle: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type, n,
      |  ROUND(CAST(n - lag(n) OVER w AS DOUBLE) * 100.0
      |        / lag(n) OVER w, 4) AS pct_change
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY day, event_type""".stripMargin

  /** q_profile — data-quality profiling in ONE pass: per-column null
    * counts, distinct counts, and min/max over `events` (what a
    * pipeline health check emits before training ingestion). All
    * aggregates partial-merge in a single 2-phase plan — profiling N
    * columns costs one scan, not N. */
  def profile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("user_id")).as("user_id_nonnull"),
        countDistinct(col("user_id")).as("user_id_distinct"),
        count(col("event_type")).as("event_type_nonnull"),
        countDistinct(col("event_type")).as("event_type_distinct"),
        min(col("event_id")).as("event_id_min"),
        max(col("event_id")).as("event_id_max"),
        count(col("props")).as("props_nonnull"))

  val profileOracle: String =
    """SELECT count(*)::BIGINT AS n_rows,
      |  count(user_id)::BIGINT AS user_id_nonnull,
      |  count(DISTINCT user_id)::BIGINT AS user_id_distinct,
      |  count(event_type)::BIGINT AS event_type_nonnull,
      |  count(DISTINCT event_type)::BIGINT AS event_type_distinct,
      |  min(event_id) AS event_id_min,
      |  max(event_id) AS event_id_max,
      |  count(props)::BIGINT AS props_nonnull
      |FROM events""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel" -> (funnel _),
    "q_retention" -> (retention _),
    "q_sample_hash" -> (sampleHash _),
    "q_regr" -> (regr _),
    "q_mode" -> (modeQ _),
    "q_entropy" -> (entropy _),
    "q_seq_adjacent" -> (seqAdjacent _),
    "q_pseudonymize" -> (pseudonymize _),
    "q_join_skew" -> (joinSkew _),
    "q_dedup_latest" -> (dedupLatest _),
    "q_win_time_range" -> (winTimeRange _),
    "q_percentile_disc" -> (percentileDisc _),
    "q_ngram_freq" -> (ngramFreq _),
    "q_zscore" -> (zscore _),
    "q_train_split" -> (trainSplit _),
    "q_context_pack" -> (contextPack _),
    "q_pct_change" -> (pctChange _),
    "q_profile" -> (profile _))

  def oracle: Map[String, String] = Map(
    "q_funnel" -> funnelOracle,
    "q_retention" -> retentionOracle,
    "q_sample_hash" -> sampleHashOracle,
    "q_regr" -> regrOracle,
    "q_mode" -> modeOracle,
    "q_entropy" -> entropyOracle,
    "q_seq_adjacent" -> seqAdjacentOracle,
    "q_pseudonymize" -> pseudonymizeOracle,
    "q_join_skew" -> joinSkewOracle,
    "q_dedup_latest" -> dedupLatestOracle,
    "q_win_time_range" -> winTimeRangeOracle,
    "q_percentile_disc" -> percentileDiscOracle,
    "q_ngram_freq" -> ngramFreqOracle,
    "q_zscore" -> zscoreOracle,
    "q_train_split" -> trainSplitOracle,
    "q_context_pack" -> contextPackOracle,
    "q_pct_change" -> pctChangeOracle,
    "q_profile" -> profileOracle)
}
