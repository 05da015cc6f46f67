package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-3 widening #9: model-monitoring operators — probability
  * calibration (reliability bins), cumulative gains/lift by score
  * decile, population-stability index (PSI) drift detection, and
  * hashing-trick feature bucketization.
  *
  * Scale notes (100 TB): every operator contracts the fact table with
  * one keyed aggregate (|bins| / |deciles| / |buckets| rows out);
  * only the decile assignment needs a global order, which ntile
  * executes as a range-partitioned sort — the same shape as any
  * global rank at scale.
  *
  * Determinism: bin memberships and counts are exact; every ratio /
  * log term is an identical scalar expression tree in both engines,
  * rounded per SURVEY.md D2 (and D6 for quantized quotients).
  */
object DriftQueries extends QueryFamily {

  /** q_calibration — reliability diagram: treating value/500 as a
    * predicted purchase probability, per 0.1-wide probability bin:
    * observation count, mean predicted probability, actual purchase
    * rate, and the calibration gap. */
  def calibration(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select((col("value") / 500.0).as("p"),
        (col("event_type") === "purchase").cast("int").as("y"))
      .withColumn("bin", floor(col("p") * 10.0).cast("long"))
    e.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("p").cast("decimal(18,8)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_pred"),
        sum(col("y")).as("n_pos"))
      .withColumn("actual_rate",
        round(col("n_pos").cast("double") / col("n").cast("double"), 4))
      .withColumn("gap", round(col("mean_pred") - col("actual_rate"), 4))
      .orderBy(col("bin"))
  }

  val calibrationOracle: String =
    """WITH e AS (SELECT value/500.0 AS p,
      |    CAST(event_type = 'purchase' AS INT) AS y,
      |    CAST(floor(value/500.0*10.0) AS BIGINT) AS bin
      |  FROM events)
      |SELECT bin, count(*) AS n,
      |  round(CAST(sum(CAST(p AS DECIMAL(18,8))) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 4) AS mean_pred,
      |  CAST(sum(y) AS BIGINT) AS n_pos,
      |  round(CAST(sum(y) AS DOUBLE)/CAST(count(*) AS DOUBLE), 4)
      |    AS actual_rate,
      |  round(round(CAST(sum(CAST(p AS DECIMAL(18,8))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE), 4) -
      |    round(CAST(sum(y) AS DOUBLE)/CAST(count(*) AS DOUBLE), 4), 4) AS gap
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_gains — cumulative gains / lift table: rank events by score
    * (value) into deciles, then per decile the positive count, the
    * cumulative share of all positives captured, and the lift over
    * random targeting — the marketing-analytics counterpart of AUC. */
  def gains(s: SparkSession, d: String): DataFrame = {
    // Scale shape: the per-row decile is ntile(10) reconstructed from
    // a distributed running row-number over (value desc, event_id) —
    // a range-bucketed prefix pass (PrefixOps), not a single-partition
    // sort of the fact table. The 10-row decile relation then gets its
    // cumulative and total counts from a broadcast self-join /
    // broadcast 1-row aggregate instead of global windows.
    import graft.operators.PrefixOps
    import graft.operators.CacheOps.CheckpointSyntax
    val e0 = events(s, d)
      .select(col("value"), col("event_id"),
        (col("event_type") === "purchase").cast("long").as("y"))
      // 3-col projection feeds the row-count probe + the prefix pass
      // — materialize once (round-8 scan gate: was 4 events scans)
      .truncatedCheckpoint()
    val n = e0.agg(count(lit(1)).as("n_rows"))
    val e = PrefixOps.runningSums(e0,
        -col("value"), Seq(col("value").desc, col("event_id")),
        Seq("__rn" -> lit(1L)))
      .crossJoin(broadcast(n))
      .withColumn("decile",
        PrefixOps.ntileFromRowNumber(col("__rn"), col("n_rows"), 10))
    val byDec = e.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val tot = byDec.agg(sum(col("n_pos")).as("tot_pos"),
      sum(col("n")).as("tot_n"))
    val cums = byDec.select(col("decile").as("__d"),
      col("n").as("__n"), col("n_pos").as("__p"))
    byDec
      .join(broadcast(cums), col("__d") <= col("decile"))
      .groupBy(col("decile"), col("n"), col("n_pos"))
      .agg(sum(col("__p")).as("cum_pos"), sum(col("__n")).as("cum_n"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("cum_pos").cast("double") / col("tot_pos").cast("double"), 4)
          .as("cum_gain"),
        round((col("cum_pos").cast("double") / col("tot_pos").cast("double")) /
          (col("cum_n").cast("double") / col("tot_n").cast("double")), 4)
          .as("lift"))
      .orderBy(col("decile"))
  }

  val gainsOracle: String =
    """WITH e AS (SELECT
      |    CAST(event_type = 'purchase' AS BIGINT) AS y,
      |    ntile(10) OVER (ORDER BY value DESC, event_id) AS decile
      |  FROM events),
      |d AS (SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
      |  FROM e GROUP BY 1),
      |c AS (SELECT decile, n, n_pos,
      |    sum(n_pos) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
      |    sum(n) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    sum(n_pos) OVER () AS tot_pos,
      |    sum(n) OVER () AS tot_n
      |  FROM d)
      |SELECT decile, n, n_pos,
      |  round(CAST(cum_pos AS DOUBLE)/CAST(tot_pos AS DOUBLE), 4) AS cum_gain,
      |  round((CAST(cum_pos AS DOUBLE)/CAST(tot_pos AS DOUBLE)) /
      |    (CAST(cum_n AS DOUBLE)/CAST(tot_n AS DOUBLE)), 4) AS lift
      |FROM c ORDER BY decile""".stripMargin

  /** q_psi — population stability index between the morning (hour
    * < 12) and afternoon event populations over value bands:
    * PSI = Σ (pₐ−p_b)·ln(pₐ/p_b). The canonical feature-drift alarm
    * (PSI > 0.2 ⇒ investigate). Per-band terms are 8dp-rounded
    * DECIMAL before the sum (order-free); shares are exact-count
    * ratios so both engines compute identical doubles. */
  def psi(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(floor(col("value") / 50.0).cast("long").as("band"),
        (hour(col("ts2")) < 12).as("is_am"))
    val counts = e.groupBy(col("band"))
      .agg(count(when(col("is_am"), lit(1))).as("n_a"),
        count(when(!col("is_am"), lit(1))).as("n_b"))
    val wAll = Window.partitionBy()
    val pa = col("n_a").cast("double") / sum(col("n_a")).over(wAll).cast("double")
    val pb = col("n_b").cast("double") / sum(col("n_b")).over(wAll).cast("double")
    counts
      .withColumn("p_a", round(pa, 6))
      .withColumn("p_b", round(pb, 6))
      // a band empty on either side has no finite PSI term (ln 0 or
      // /0 — ANSI raises); standard practice drops it (or adds an
      // epsilon) — both engines apply the identical guard
      .withColumn("term",
        when(col("n_a") > 0 && col("n_b") > 0,
          round((pa - pb) * log(pa / pb), 8).cast("decimal(18,8)")))
      .withColumn("psi",
        round(sum(col("term")).over(wAll).cast("double"), 4))
      .select(col("band"), col("n_a"), col("n_b"), col("p_a"), col("p_b"),
        round(col("term").cast("double"), 6).as("band_psi"), col("psi"))
      .orderBy(col("band"))
  }

  val psiOracle: String =
    """WITH e AS (SELECT CAST(floor(value/50.0) AS BIGINT) AS band,
      |    hour(ts) < 12 AS is_am
      |  FROM events),
      |c AS (SELECT band,
      |    count(CASE WHEN is_am THEN 1 END) AS n_a,
      |    count(CASE WHEN NOT is_am THEN 1 END) AS n_b
      |  FROM e GROUP BY 1),
      |t AS (SELECT band, n_a, n_b,
      |    CAST(n_a AS DOUBLE)/CAST(sum(n_a) OVER () AS DOUBLE) AS pa,
      |    CAST(n_b AS DOUBLE)/CAST(sum(n_b) OVER () AS DOUBLE) AS pb
      |  FROM c),
      |u AS (SELECT band, n_a, n_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
      |    CASE WHEN n_a > 0 AND n_b > 0 THEN
      |      CAST(round((pa - pb)*ln(pa/pb), 8) AS DECIMAL(18,8)) END AS term
      |  FROM t)
      |SELECT band, n_a, n_b, p_a, p_b,
      |  round(CAST(term AS DOUBLE), 6) AS band_psi,
      |  round(CAST(sum(term) OVER () AS DOUBLE), 4) AS psi
      |FROM u ORDER BY band""".stripMargin

  /** q_feature_hash — hashing-trick bucketization: every distinct
    * token maps to one of 64 feature buckets via md5 (engine-
    * identical bits); per bucket, the distinct-token (collision)
    * count and total occurrence weight — the fixed-width featurizer
    * for bag-of-words models at corpus scale. */
  def featureHash(s: SparkSession, d: String): DataFrame = {
    val hex6 = (1 to 6).map(j =>
      s"(instr('0123456789abcdef', substr(m, $j, 1)) - 1) * ${math.pow(16, 6 - j).toLong}"
    ).mkString("(", " + ", ")")
    documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("m", md5(col("tok")))
      .withColumn("bucket", expr(s"$hex6 % 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("weight"),
        min(col("tok")).as("sample_tok"))
      .orderBy(col("bucket"))
  }

  val featureHashOracle: String = {
    val hex6 = (1 to 6).map(j =>
      s"(instr('0123456789abcdef', substr(m, $j, 1)) - 1) * ${math.pow(16, 6 - j).toLong}"
    ).mkString("(", " + ", ")")
    s"""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents),
       |f AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
       |h AS (SELECT tok, c, md5(tok) AS m FROM f),
       |b AS (SELECT tok, c, $hex6 % 64 AS bucket FROM h)
       |SELECT bucket, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS weight,
       |  min(tok) AS sample_tok
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_calibration" -> (calibration _),
    "q_gains" -> (gains _),
    "q_psi" -> (psi _),
    "q_feature_hash" -> (featureHash _))

  val oracle: Map[String, String] = Map(
    "q_calibration" -> calibrationOracle,
    "q_gains" -> gainsOracle,
    "q_psi" -> psiOracle,
    "q_feature_hash" -> featureHashOracle)
}
