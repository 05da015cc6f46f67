package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.Determinism._

/** Round-3 widening #1: exact distributional statistics and the
  * ML-pipeline operators a training-data refinery runs constantly —
  * covariance/correlation, higher moments, autocorrelation, a k-means
  * assignment (E-)step, stratified deterministic sampling, and
  * fuzzy (edit-distance) dedup candidate generation.
  *
  * Determinism scheme shared by the stats queries (SURVEY.md §2 D2):
  * per-row doubles are computed by identical IEEE expression trees in
  * both engines, cast to decimal (deterministic — a dyadic double is
  * never a decimal rounding tie), summed exactly in decimal
  * (order-independent), and only the FINAL scalar math runs in
  * double, again with an identical expression shape on both sides.
  */
object StatsMlQueries extends QueryFamily {

  private val dbl = "double"
  /** Wide-precision money sums: l_extendedprice² sums reach ~7e15 at
    * sf0.1, past DECIMAL(18,4)'s 14 integer digits — at 100 TB the
    * same rule says size sum precision to n·max(x²). */
  private def dec38(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 4))
  private def dec38_8(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 8))

  // ---------------------------------------------------------------
  // q_covar — covariance (pop + sample) and Pearson correlation of
  // quantity vs price per returnflag, all from one pass of exact
  // decimal power sums (the single-shuffle "sufficient statistics"
  // shape that scales: partial aggregation map-side, O(groups) rows
  // after the exchange).
  // ---------------------------------------------------------------
  def covar(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec38(col("l_quantity"))).cast(dbl).as("sx"),
        sum(dec38(col("l_extendedprice"))).cast(dbl).as("sy"),
        sum(dec38(col("l_quantity") * col("l_extendedprice"))).cast(dbl).as("sxy"),
        sum(dec38(col("l_quantity") * col("l_quantity"))).cast(dbl).as("sxx"),
        sum(dec38(col("l_extendedprice") * col("l_extendedprice"))).cast(dbl).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 4)
          .as("covar_pop"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 4)
          .as("covar_samp"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4).as("corr"))
      .orderBy(col("l_returnflag"))
  }

  val covarOracle: String =
    """WITH m AS (
      |  SELECT l_returnflag, count(*)::BIGINT AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  ROUND((sxy - sx * sy / n) / n, 4) AS covar_pop,
      |  ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
      |  ROUND((n * sxy - sx * sy) /
      |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS corr
      |FROM m ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_moments — skewness and excess kurtosis per linestatus from
  // exact power sums s1..s4 (built-in skewness()/kurtosis() aggregate
  // raw doubles — parallel reduction order makes them drift at the
  // last ulp across engines, D2/D4).
  // ---------------------------------------------------------------
  def moments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    lineitem(s, d).groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec38_8(x)).cast(dbl).as("s1"),
        sum(dec38_8(x * x)).cast(dbl).as("s2"),
        sum(dec38_8(x * x * x)).cast(dbl).as("s3"),
        sum(dec38_8(x * x * x * x)).cast(dbl).as("s4"))
      .select(col("l_linestatus"), col("n"),
        round(col("s1") / col("n"), 4).as("mean"),
        round(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 4)
          .as("var_pop"),
        round((col("s3") / col("n")
            - lit(3) * (col("s1") / col("n")) * (col("s2") / col("n"))
            + lit(2) * pow(col("s1") / col("n"), 3)) /
          pow(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 1.5), 4)
          .as("skewness"),
        round((col("s4") / col("n")
            - lit(4) * (col("s1") / col("n")) * (col("s3") / col("n"))
            + lit(6) * (col("s1") / col("n")) * (col("s1") / col("n")) * (col("s2") / col("n"))
            - lit(3) * pow(col("s1") / col("n"), 4)) /
          pow(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 2)
          - lit(3), 4).as("kurtosis"))
      .orderBy(col("l_linestatus"))
  }

  val momentsOracle: String =
    """WITH m AS (
      |  SELECT l_linestatus, count(*)::BIGINT AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s4
      |  FROM lineitem GROUP BY 1)
      |SELECT l_linestatus, n,
      |  ROUND(s1 / n, 4) AS mean,
      |  ROUND(s2 / n - (s1 / n) * (s1 / n), 4) AS var_pop,
      |  ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3)) /
      |        pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) AS skewness,
      |  ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
      |         + 6 * (s1 / n) * (s1 / n) * (s2 / n) - 3 * pow(s1 / n, 4)) /
      |        pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 4) AS kurtosis
      |FROM m ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_autocorr — lag-1 autocorrelation of the daily event-count
  // series per event_type: aggregate to days (one shuffle), lag via a
  // tiny per-type window, Pearson from exact integer sums (counts are
  // longs — no decimal needed; oracle guards DuckDB's
  // SUM(BIGINT)→HUGEINT with ::BIGINT).
  // ---------------------------------------------------------------
  def autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts2")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val paired = daily
      .withColumn("c_next", lead(col("c"), 1).over(w))
      .filter(col("c_next").isNotNull)
    paired.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sx"), sum(col("c_next")).as("sy"),
        sum(col("c") * col("c_next")).as("sxy"),
        sum(col("c") * col("c")).as("sxx"),
        sum(col("c_next") * col("c_next")).as("syy"))
      .select(col("event_type"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(dbl) /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(dbl)) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(dbl))), 4)
          .as("autocorr_lag1"))
      .orderBy(col("event_type"))
  }

  val autocorrOracle: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |paired AS (
      |  SELECT event_type, c,
      |    lead(c) OVER (PARTITION BY event_type ORDER BY day) AS c_next
      |  FROM daily),
      |m AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |    SUM(c)::BIGINT AS sx, SUM(c_next)::BIGINT AS sy,
      |    SUM(c * c_next)::BIGINT AS sxy,
      |    SUM(c * c)::BIGINT AS sxx, SUM(c_next * c_next)::BIGINT AS syy
      |  FROM paired WHERE c_next IS NOT NULL GROUP BY 1)
      |SELECT event_type, n,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |         sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS autocorr_lag1
      |FROM m ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_kmeans_assign — one k-means E-step: centroid per label (exact
  // decimal mean per dimension, same scheme as q_sim_pairs), then
  // every vector assigned to the nearest centroid by squared L2.
  // Scale shape: centroids are k×dim rows → broadcast join; the
  // per-vector argmin is a row_number over a k-row partition. The
  // vectors×k distance table is the only big intermediate and it
  // never shuffles more than once (groupBy vec_id after a broadcast).
  // ---------------------------------------------------------------
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(dbl).cast(DecimalType(20, 10))).cast(dbl) /
            count(lit(1))).cast(DecimalType(18, 8)).as("c"))
      .select(col("label").as("clabel"), col("pos"), col("c").cast(dbl).as("c"))
    val diff = col("v").cast(dbl) - col("c")
    val dist = ex
      .join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("clabel"))
      .agg(sum((diff * diff).cast(DecimalType(30, 12))).as("d2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("clabel"))
    dist.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("clabel").as("assigned"),
        round(col("d2").cast(dbl), 6).as("dist2"))
      .orderBy(col("vec_id"))
  }

  val kmeansAssignOracle: String =
    """WITH ex AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
      |         UNNEST(embedding) AS v
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clabel, pos,
      |    CAST(CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
      |         / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS c
      |  FROM ex GROUP BY label, pos),
      |dist AS (
      |  SELECT ex.vec_id, cent.clabel,
      |    SUM(CAST((CAST(ex.v AS DOUBLE) - cent.c) * (CAST(ex.v AS DOUBLE) - cent.c)
      |        AS DECIMAL(30,12))) AS d2
      |  FROM ex JOIN cent ON ex.pos = cent.pos
      |  GROUP BY ex.vec_id, cent.clabel),
      |ranked AS (
      |  SELECT vec_id, clabel, d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      |  FROM dist)
      |SELECT vec_id, clabel AS assigned, ROUND(CAST(d2 AS DOUBLE), 6) AS dist2
      |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q_sample_stratified — deterministic per-stratum sampling: the k
  // docs with the smallest md5(doc_id) per language. The md5 order is
  // uniform, reproducible, and engine-identical (hex strings compare
  // lexicographically the same way). At 100 TB this is a single
  // window per stratum — or, cheaper, a WindowGroupLimit/top-k that
  // never materializes the full sort.
  // ---------------------------------------------------------------
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }

  val sampleStratifiedOracle: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  // ---------------------------------------------------------------
  // q_dedup_editdist — fuzzy-dedup candidate pairs by edit distance,
  // BLOCKED on (lang, token count): the classic blocking-key trick
  // turns the quadratic all-pairs comparison into an equi-join whose
  // per-block cost is bounded (35 k in-block pairs vs 12.5 M raw
  // pairs at sf0.1). At 100 TB the block key hash-partitions, and the
  // expensive levenshtein() only runs inside blocks.
  // ---------------------------------------------------------------
  def dedupEditdist(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).as("n_tok"))
    // Candidate pairs are cheap to PRODUCE but expensive to COMPARE,
    // and Catalyst (correctly, by its cost model) pushes the
    // comparison predicate into the join, where it runs in the
    // probe-side scan's few partitions — measured 146 s at sf0.1.
    // Materializing the pair set, exchanged to a cores-sized layout,
    // is the standard fuzzy-dedup shape: the cache is a barrier no
    // predicate crosses, so the comparison runs exactly once, in a
    // stage sized to the cluster (2.6 s). The pair set is orders of
    // magnitude smaller than the comparison cost at every scale, and
    // Spark's CacheManager dedups repeated calls by canonical plan.
    val pairs = docs.as("a").join(docs.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.n_tok") === col("b.n_tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.lang").as("lang"), col("a.text").as("ta"), col("b.text").as("tb"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_a"), col("doc_b"))
      .persist()
    graft.operators.CacheOps.finalized(
      pairs
        // banded levenshtein: the threshold arg caps the DP band at
        // O(len·60) and early-exits hopeless pairs (returns -1), ~5×
        // fewer cells than the full O(len²) matrix at these lengths
        .select(col("doc_a"), col("doc_b"), col("lang"),
          levenshtein(col("ta"), col("tb"), 60).as("dist"))
        .filter(col("dist") >= 0)
        .orderBy(col("doc_a"), col("doc_b")),
      pairs)
  }

  val dedupEditdistOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tok
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
      |  levenshtein(a.text, b.text)::BIGINT AS dist
      |FROM d a JOIN d b
      |  ON a.lang = b.lang AND a.n_tok = b.n_tok AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.text, b.text) <= 60
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_covar" -> (covar _),
    "q_moments" -> (moments _),
    "q_autocorr" -> (autocorr _),
    "q_kmeans_assign" -> (kmeansAssign _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_dedup_editdist" -> (dedupEditdist _))

  val oracle: Map[String, String] = Map(
    "q_covar" -> covarOracle,
    "q_moments" -> momentsOracle,
    "q_autocorr" -> autocorrOracle,
    "q_kmeans_assign" -> kmeansAssignOracle,
    "q_sample_stratified" -> sampleStratifiedOracle,
    "q_dedup_editdist" -> dedupEditdistOracle)
}
