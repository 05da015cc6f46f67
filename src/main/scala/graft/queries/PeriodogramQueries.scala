package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #109: the periodogram — spectral power of the
  * mean-centered daily purchase series at harmonics k=1..10, the
  * frequency-domain companion to q_acf_multi / q_seasonal_strength
  * (is there a weekly line? at which harmonic does the energy
  * live?).
  *
  * Scale notes (100 TB): the series contracts to |days| rows; the
  * DFT terms come from crossing that bounded series with the 10-row
  * broadcast harmonic grid — one map-side-combinable aggregation per
  * harmonic, never an FFT's sequential butterfly (at n=|days| the
  * O(nk) direct form with tiny k beats coordinating an FFT across
  * executors).
  *
  * Determinism (D1–D5): the angle is rounded at 10dp before
  * cos/sin (the ln/exp house protocol extended to the circular
  * functions — both engines call libm on IDENTICAL doubles),
  * cos/sin results re-round at 10dp, per-term products at 6dp into
  * exact decimal sums; power at 4dp. */
object PeriodogramQueries extends QueryFamily {

  /** q_periodogram — power at harmonics k=1..10 with the dominant
    * harmonic flagged. */
  def periodogram(s: SparkSession, d: String): DataFrame = {
    // daily grid feeds the anchor probe + the centered series —
    // materialize once (round-8 scan gate: was 4 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val daily0 = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts2")).as("day"))
      .agg(count(lit(1)).as("y"))
      .truncatedCheckpoint()
    val d0 = daily0.agg(min(col("day")).as("dmin"),
      count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val daily = daily0.crossJoin(broadcast(d0))
      .select(datediff(col("day"), col("dmin")).as("t"),
        round(col("y").cast("double")
          - round(col("sy").cast("double") / col("n").cast("double"), 8),
          8).as("yc"),
        col("n"))
    val ks = s.range(1, 11).select(col("id").cast("int").as("k"))
    val terms = daily.crossJoin(broadcast(ks))
      .withColumn("arg", round(lit(2.0 * math.Pi) * col("k") * col("t")
        / col("n").cast("double"), 10))
      .withColumn("c", round(cos(col("arg")), 10))
      .withColumn("sn", round(sin(col("arg")), 10))
    val agg = terms.groupBy(col("k")).agg(
      first(col("n")).as("n"),
      sum(round(col("yc") * col("c"), 6).cast("decimal(27,6)")).as("cc"),
      sum(round(col("yc") * col("sn"), 6).cast("decimal(27,6)")).as("ss"))
    def f(c: String) = col(c).cast("double")
    val power = agg.select(col("k"),
      round((f("cc") * f("cc") + f("ss") * f("ss")) / f("n"), 4)
        .as("power"))
    val top = power.orderBy(col("power").desc, col("k")).limit(1)
      .select(col("k").as("kd"), lit(true).as("dominant"))
    power.join(broadcast(top), col("k") === col("kd"), "left")
      .select(col("k"), col("power"),
        coalesce(col("dominant"), lit(false)).as("dominant"))
      .orderBy(col("k"))
  }

  val periodogramOracle: String = {
    val twoPi = java.math.BigDecimal.valueOf(2.0 * math.Pi).toPlainString
    s"""WITH daily0 AS (SELECT CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |d0 AS (SELECT min(day) AS dmin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sy FROM daily0),
       |daily AS (SELECT date_diff('day', dmin, day) AS t,
       |    round(CAST(y AS DOUBLE)
       |      - round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8), 8) AS yc,
       |    n
       |  FROM daily0, d0),
       |ks AS (SELECT CAST(i AS INT) AS k FROM range(1, 11) r(i)),
       |terms AS (SELECT k, n, yc,
       |    round(cos(round(CAST($twoPi AS DOUBLE)*k*t
       |      /CAST(n AS DOUBLE), 10)), 10) AS c,
       |    round(sin(round(CAST($twoPi AS DOUBLE)*k*t
       |      /CAST(n AS DOUBLE), 10)), 10) AS sn
       |  FROM daily, ks),
       |agg AS (SELECT k, any_value(n) AS n,
       |    sum(CAST(round(yc*c, 6) AS DECIMAL(27,6))) AS cc,
       |    sum(CAST(round(yc*sn, 6) AS DECIMAL(27,6))) AS ss
       |  FROM terms GROUP BY k),
       |power AS (SELECT k,
       |    round((CAST(cc AS DOUBLE)*CAST(cc AS DOUBLE)
       |      + CAST(ss AS DOUBLE)*CAST(ss AS DOUBLE))
       |      /CAST(n AS DOUBLE), 4) AS power
       |  FROM agg),
       |top AS (SELECT k AS kd FROM power
       |  ORDER BY power DESC, k LIMIT 1)
       |SELECT p.k, p.power,
       |  coalesce(p.k = kd, FALSE) AS dominant
       |FROM power p LEFT JOIN top ON p.k = top.kd
       |ORDER BY p.k""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_periodogram" -> (periodogram _))

  val oracle: Map[String, String] = Map(
    "q_periodogram" -> periodogramOracle)
}
