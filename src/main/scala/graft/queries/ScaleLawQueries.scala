package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #112: scale-law diagnostics — the Clauset-style
  * power-law MLE on the term-frequency tail (the estimator-grade
  * companion to q_zipf's rank-frequency regression slope) and the
  * Haar wavelet energy spectrum of the daily purchase series (which
  * SCALE carries the variance — the multiresolution complement to
  * q_periodogram's frequency view and q_hurst's R/S scaling).
  *
  * Scale notes (100 TB): the MLE is one ln fold over the contracted
  * term-frequency tail; Haar details are block aggregations — the
  * series crosses a 4-row broadcast scale grid and each (scale,
  * block) cell is a conditional half-sum, so the whole dyadic
  * cascade is ONE keyed aggregation, not a sequential transform.
  *
  * Determinism (D1–D5): counts exact; ln on 10dp-rounded ratios;
  * per-term/per-block terms round into exact decimal sums; outputs
  * 4–6dp. */
object ScaleLawQueries extends QueryFamily {

  private val FMIN = 5L

  /** q_powerlaw_mle — α̂ = 1 + n/Σln(f/(fmin−½)) over term
    * frequencies ≥ fmin, with the discrete −½ correction and the
    * asymptotic SE = (α̂−1)/√n. */
  def powerlawMle(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= FMIN)
    val terms = tf.select(round(log(round(col("f").cast("double")
      / lit(FMIN.toDouble - 0.5), 10)), 8).cast("decimal(18,8)")
      .as("lnr"))
    terms.agg(count(lit(1)).as("n_tail"),
        sum(col("lnr")).as("sln"))
      .select(col("n_tail"), lit(FMIN).as("fmin"),
        round(lit(1.0) + col("n_tail").cast("double")
          / col("sln").cast("double"), 6).as("alpha"))
      .select(col("n_tail"), col("fmin"), col("alpha"),
        round((col("alpha") - lit(1.0))
          / sqrt(col("n_tail").cast("double")), 6).as("alpha_se"))
  }

  val powerlawMleOracle: String =
    s"""WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
       |    FROM documents) tok
       |  GROUP BY term HAVING count(*) >= $FMIN),
       |terms AS (SELECT CAST(round(ln(round(CAST(f AS DOUBLE)
       |    /CAST(${FMIN}.0 - 0.5 AS DOUBLE), 10)), 8)
       |    AS DECIMAL(18,8)) AS lnr
       |  FROM tf),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
       |    sum(lnr) AS sln FROM terms),
       |al AS (SELECT n_tail, CAST($FMIN AS BIGINT) AS fmin,
       |    round(1.0 + CAST(n_tail AS DOUBLE)/CAST(sln AS DOUBLE), 6)
       |      AS alpha
       |  FROM agg)
       |SELECT n_tail, fmin, alpha,
       |  round((alpha - 1.0)/sqrt(CAST(n_tail AS DOUBLE)), 6)
       |    AS alpha_se
       |FROM al""".stripMargin

  /** q_haar_energy — Haar detail energy at dyadic scales 2/4/8/16
    * over the daily purchase series (complete blocks only). */
  def haarEnergy(s: SparkSession, d: String): DataFrame = {
    val daily0 = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily0.agg(min(col("day")).as("dmin"))
    val daily = daily0.crossJoin(broadcast(d0))
      .select(datediff(col("day"), col("dmin")).as("i"), col("y"))
    val scales = s.range(1, 5)
      .select(pow(lit(2.0), col("id").cast("double")).cast("long")
        .as("scale"))
    val blocks = daily.crossJoin(broadcast(scales))
      .groupBy(col("scale"), floor(col("i") / col("scale")).as("blk"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("i") % col("scale") < col("scale") / 2, col("y"))
          .otherwise(lit(0L))).as("s1"),
        sum(when(col("i") % col("scale") >= col("scale") / 2, col("y"))
          .otherwise(lit(0L))).as("s2"))
      .filter(col("cnt") === col("scale"))
      .select(col("scale"),
        round((col("s1") - col("s2")).cast("double")
          * lit(2.0) / col("scale").cast("double"), 6).as("dd"))
    blocks.groupBy(col("scale"))
      .agg(count(lit(1)).as("n_blocks"),
        round(sum(round(col("dd") * col("dd"), 8)
          .cast("decimal(27,8)")).cast("double")
          / count(lit(1)).cast("double"), 4).as("energy"))
      .orderBy(col("scale"))
  }

  val haarEnergyOracle: String =
    """WITH daily0 AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d0 AS (SELECT min(day) AS dmin FROM daily0),
      |daily AS (SELECT date_diff('day', dmin, day) AS i, y
      |  FROM daily0, d0),
      |scales AS (SELECT CAST(1 << CAST(i AS INT) AS BIGINT) AS scale
      |  FROM range(1, 5) r(i)),
      |blocks AS (SELECT scale,
      |    CAST(floor(i/scale) AS BIGINT) AS blk,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(CASE WHEN i % scale < scale//2 THEN y ELSE 0 END)
      |      AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN i % scale >= scale//2 THEN y ELSE 0 END)
      |      AS BIGINT) AS s2
      |  FROM daily, scales GROUP BY 1, 2),
      |dets AS (SELECT scale,
      |    round(CAST(s1 - s2 AS DOUBLE)*2.0/CAST(scale AS DOUBLE), 6)
      |      AS dd
      |  FROM blocks WHERE cnt = scale)
      |SELECT scale, CAST(count(*) AS BIGINT) AS n_blocks,
      |  round(CAST(sum(CAST(round(dd*dd, 8) AS DECIMAL(27,8)))
      |    AS DOUBLE)/CAST(count(*) AS DOUBLE), 4) AS energy
      |FROM dets GROUP BY scale ORDER BY scale""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_powerlaw_mle" -> (powerlawMle _),
    "q_haar_energy" -> (haarEnergy _))

  val oracle: Map[String, String] = Map(
    "q_powerlaw_mle" -> powerlawMleOracle,
    "q_haar_energy" -> haarEnergyOracle)
}
