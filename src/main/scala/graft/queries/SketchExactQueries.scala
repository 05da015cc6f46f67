package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism.hexval
import graft.functions.expressions.Md5Bucket.md5Bucket

/** Round-4 widening #19: deterministic sketches graded EXACTLY — a
  * count-min sketch whose estimates (and their overcounts) are
  * bit-reproducible in any engine, and a Bloom-filter membership
  * audit measuring the false-positive rate a runtime pre-join filter
  * would pay. Unlike the seeded/no-oracle sketch capabilities
  * (HLL, KMV), these two are content-addressed via md5, so the DuckDB
  * oracle replays the identical sketch and the driver hash-grades
  * them like any relational query.
  *
  * Scale notes (100 TB): the CMS counters contract token counts into
  * 3×|width| cells (keyed shuffle, map-side combine; counter tables
  * ≤1024 rows broadcast back to the probe side); the Bloom bit-sets
  * are ≤4096-row DISTINCT contractions of the member keys, broadcast
  * to the probe stream — exactly how a runtime bloom pre-filter ships
  * to scan tasks. Probes are rank-limited via TakeOrderedAndProject
  * (CMS) or a distinct contraction (Bloom); no global windows.
  *
  * Determinism: md5 bucketing is content-addressed ([[md5Bucket]]
  * kernel on the Spark side, the portable 6-hex-char instr/substr
  * spelling in the oracle — equality pinned by Md5BucketSpec); every
  * output is an exact integer count except the final FPR ratio.
  */
object SketchExactQueries extends QueryFamily {

  private def sqlBucket(expr: String, salt: String, m: Int): String =
    s"${hexval(s"md5('$salt:' || $expr)")} % $m"

  private def sparkBucket(c: Column, salt: String, m: Int): Column =
    md5Bucket(concat(lit(s"$salt:"), c), lit(m))

  /** q_cms_freq — count-min sketch (depth 3, width 1024) over
    * document tokens, audited on the 20 most frequent terms: est =
    * min over rows of counter[h_i(term)], always ≥ the exact count;
    * the overcount column is the collision mass the sketch would
    * charge each heavy hitter. */
  def cmsFreq(s: SparkSession, d: String): DataFrame = {
    // term-count grid feeds the 3 CMS counters + the probe top-20 —
    // materialize once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val counts = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .truncatedCheckpoint()
    def counter(i: Int): DataFrame = counts
      .groupBy(sparkBucket(col("term"), s"cms$i", 1024).as(s"b$i"))
      .agg(sum(col("cnt")).as(s"c$i"))
    val probes = counts.orderBy(col("cnt").desc, col("term")).limit(20)
      .select(col("term"), col("cnt"),
        sparkBucket(col("term"), "cms0", 1024).as("b0"),
        sparkBucket(col("term"), "cms1", 1024).as("b1"),
        sparkBucket(col("term"), "cms2", 1024).as("b2"))
    probes
      .join(broadcast(counter(0)), "b0")
      .join(broadcast(counter(1)), "b1")
      .join(broadcast(counter(2)), "b2")
      .select(col("term"), col("cnt").as("exact_cnt"),
        least(col("c0"), col("c1"), col("c2")).as("est_cnt"))
      .withColumn("overcount", col("est_cnt") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }

  val cmsFreqOracle: String = {
    def b(i: Int) = sqlBucket("term", s"cms$i", 1024)
    s"""WITH counts AS (SELECT unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |c AS (SELECT term, count(*) AS cnt FROM counts GROUP BY 1),
      |k0 AS (SELECT ${b(0)} AS b0, sum(cnt) AS c0 FROM c GROUP BY 1),
      |k1 AS (SELECT ${b(1)} AS b1, sum(cnt) AS c1 FROM c GROUP BY 1),
      |k2 AS (SELECT ${b(2)} AS b2, sum(cnt) AS c2 FROM c GROUP BY 1),
      |p AS (SELECT term, cnt, ${b(0)} AS b0, ${b(1)} AS b1, ${b(2)} AS b2
      |  FROM c ORDER BY cnt DESC, term LIMIT 20)
      |SELECT p.term, p.cnt AS exact_cnt,
      |  CAST(least(k0.c0, k1.c1, k2.c2) AS BIGINT) AS est_cnt,
      |  CAST(least(k0.c0, k1.c1, k2.c2) - p.cnt AS BIGINT) AS overcount
      |FROM p JOIN k0 ON k0.b0 = p.b0
      |  JOIN k1 ON k1.b1 = p.b1
      |  JOIN k2 ON k2.b2 = p.b2
      |ORDER BY exact_cnt DESC, p.term""".stripMargin
  }

  /** q_bloom_fpr — Bloom pre-filter audit: k=3 hash functions into
    * m=4096 bits over the BUILDING-segment customer keys, probed with
    * every distinct ordering customer — exactly the shape of a
    * runtime bloom filter shipped to scan tasks ahead of a selective
    * join. Reports the measured false-positive rate next to the
    * filter's fill factor. */
  def bloomFpr(s: SparkSession, d: String): DataFrame = {
    val members = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("string").as("k"))
    // ONE members scan for all three hash functions (round-7: the
    // per-hash form re-scanned customer six times — three bit-set
    // builds plus their repeats under setBits); the (hash, position)
    // pairs frame is ≤ 3·4096 rows, lazily checkpointed, and every
    // downstream reference reads it instead of the fact table
    import graft.operators.CacheOps.CheckpointSyntax
    val bitsAll = members.select(explode(array((0 to 2).map(i =>
        struct(lit(i).as("h"),
          sparkBucket(col("k"), s"bf$i", 4096).as("p"))): _*)).as("s"))
      .select(col("s.h").as("h"), col("s.p").as("p")).distinct()
      .truncatedCheckpoint()
    def bits(i: Int): DataFrame =
      bitsAll.filter(col("h") === i).select(col("p").as(s"p$i"))
    val truth = customer(s, d).select(col("c_custkey"),
      (col("c_mktsegment") === "BUILDING").as("is_member"))
    val probes = orders(s, d).select(col("o_custkey")).distinct()
      .join(truth, col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").cast("string").as("k"), col("is_member"))
      .select(col("k"), col("is_member"),
        sparkBucket(col("k"), "bf0", 4096).as("p0"),
        sparkBucket(col("k"), "bf1", 4096).as("p1"),
        sparkBucket(col("k"), "bf2", 4096).as("p2"))
    val hit = probes
      .join(broadcast(bits(0).withColumn("h0", lit(1))), Seq("p0"), "left")
      .join(broadcast(bits(1).withColumn("h1", lit(1))), Seq("p1"), "left")
      .join(broadcast(bits(2).withColumn("h2", lit(1))), Seq("p2"), "left")
      .select(col("is_member"),
        (col("h0").isNotNull && col("h1").isNotNull && col("h2").isNotNull)
          .as("pos"))
    val setBits = bitsAll.select(col("p"))
      .distinct().agg(count(lit(1)).as("bits_set"))
    hit.agg(
        count(lit(1)).as("n_probes"),
        count(when(col("is_member"), lit(1))).as("n_true"),
        count(when(col("pos"), lit(1))).as("n_pos"),
        count(when(col("pos") && !col("is_member"), lit(1))).as("n_fp"))
      .crossJoin(broadcast(setBits))
      .select(col("n_probes"), col("n_true"), col("n_pos"), col("n_fp"),
        round(col("n_fp").cast("double") /
          (col("n_probes") - col("n_true")).cast("double"), 6).as("fpr"),
        round(col("bits_set").cast("double") / 4096.0, 6).as("fill_factor"))
  }

  val bloomFprOracle: String = {
    def b(i: Int) = sqlBucket("k", s"bf$i", 4096)
    s"""WITH members AS (SELECT CAST(c_custkey AS VARCHAR) AS k
      |  FROM customer WHERE c_mktsegment = 'BUILDING'),
      |b0 AS (SELECT DISTINCT ${b(0)} AS p FROM members),
      |b1 AS (SELECT DISTINCT ${b(1)} AS p FROM members),
      |b2 AS (SELECT DISTINCT ${b(2)} AS p FROM members),
      |probes AS (SELECT CAST(o.o_custkey AS VARCHAR) AS k,
      |    c.c_mktsegment = 'BUILDING' AS is_member
      |  FROM (SELECT DISTINCT o_custkey FROM orders) o
      |  JOIN customer c ON c.c_custkey = o.o_custkey),
      |hit AS (SELECT is_member,
      |    (b0.p IS NOT NULL AND b1.p IS NOT NULL AND b2.p IS NOT NULL)
      |      AS pos
      |  FROM probes
      |  LEFT JOIN b0 ON b0.p = ${b(0)}
      |  LEFT JOIN b1 ON b1.p = ${b(1)}
      |  LEFT JOIN b2 ON b2.p = ${b(2)}),
      |sb AS (SELECT count(*) AS bits_set FROM
      |  (SELECT p FROM b0 UNION SELECT p FROM b1 UNION SELECT p FROM b2)),
      |agg AS (SELECT count(*) AS n_probes,
      |    count(CASE WHEN is_member THEN 1 END) AS n_true,
      |    count(CASE WHEN pos THEN 1 END) AS n_pos,
      |    count(CASE WHEN pos AND NOT is_member THEN 1 END) AS n_fp
      |  FROM hit)
      |SELECT n_probes, n_true, n_pos, n_fp,
      |  round(CAST(n_fp AS DOUBLE) /
      |    CAST(n_probes - n_true AS DOUBLE), 6) AS fpr,
      |  round(CAST(sb.bits_set AS DOUBLE) / 4096.0, 6) AS fill_factor
      |FROM agg CROSS JOIN sb""".stripMargin
  }

  /** The user_id domain ceiling the bitmap aggregate is sized to.
    * TESTDATA.md does not publish a ceiling; observed max(user_id) is
    * ~1.5k·sf/0.1 (1499 at sf0.1), so 65535 covers ≥ sf4. The ceiling
    * is a CONTRACT, not a hint: BitsetDistinct silently ignores
    * out-of-domain keys, so [[bitsetDistinct]] guards the domain with
    * an in-plan raise_error — a violation fails the query loudly
    * instead of returning a silently low count. */
  val UserIdCeiling = 65535L

  /** q_bitset_distinct — exact per-type distinct users through the
    * [[graft.functions.expressions.BitsetDistinct]] bitmap
    * aggregate: one ⌈domain/64⌉-word state per (mapper, group)
    * crosses the shuffle where `count(DISTINCT)` plans an EXPAND +
    * per-key re-shuffle; the OR-merge is idempotent, so the result
    * is exact, partition-invariant, and retry-safe. Graded exactly
    * against DuckDB's count(DISTINCT). max(user_id) rides the same
    * aggregate (no extra scan) purely to enforce the
    * [[UserIdCeiling]] domain contract. */
  def bitsetDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("event_type"))
      .agg(graft.functions.expressions.BitsetDistinct
          .distinctOf(col("user_id"), UserIdCeiling).as("n_users_raw"),
        count(lit(1)).as("n_events"),
        max(col("user_id")).as("max_uid"))
      .select(col("event_type"),
        when(col("max_uid") > UserIdCeiling,
          raise_error(concat(lit("q_bitset_distinct: user_id "),
            col("max_uid").cast("string"),
            lit(s" exceeds UserIdCeiling=$UserIdCeiling — bitmap "),
            lit("would silently undercount"))).cast("long"))
          .otherwise(col("n_users_raw")).as("n_users"),
        col("n_events"))
      .orderBy(col("event_type"))

  val bitsetDistinctOracle: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cms_freq" -> (cmsFreq _),
    "q_bloom_fpr" -> (bloomFpr _),
    "q_bitset_distinct" -> (bitsetDistinct _))

  val oracle: Map[String, String] = Map(
    "q_cms_freq" -> cmsFreqOracle,
    "q_bloom_fpr" -> bloomFprOracle,
    "q_bitset_distinct" -> bitsetDistinctOracle)
}
