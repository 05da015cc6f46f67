package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #70: isotonic (monotone) calibration — the PAV
  * fit every probability-calibration stack runs after binning, here
  * in its closed minimax form: on a bounded bin grid the isotonic
  * regression equals iso_i = max_{j≤i} min_{k≥i} wavg(r, j..k),
  * which is pure relational algebra (prefix sums + a bounded
  * interval join) — no sequential pool-adjacent-violators loop.
  *
  * Scale notes (100 TB): events contract to 10 probability bins
  * FIRST (one keyed pass); the minimax then runs on the 10-row grid
  * (≤10³ interval triples, broadcast). The sequential PAVA algorithm
  * is inherently serial; the minimax identity is what makes the
  * operator distributable.
  *
  * Determinism: bin counts are exact integers; predicted
  * probabilities cast straight to DECIMAL(27,10) (dyadic doubles are
  * never decimal rounding ties — pre-rounding at 2dp DID diverge
  * cross-engine on .x15-style values);
  * interval averages are single divisions of exact-decimal-derived
  * doubles; final 6dp. */
object IsotonicQueries extends QueryFamily {

  /** q_isotonic — calibration curve of the pseudo-probability
    * p = value/100 (clipped to [0,1]) against the purchase label over
    * 10 equal-width bins, with the isotonic fit of the empirical rate:
    * per bin the count, mean predicted p, raw rate, and iso rate. */
  def isotonic(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)).as("p"),
      (col("event_type") === "purchase").cast("long").as("y"))
    val binned = e.select(
      least(floor(col("p") * lit(10.0)).cast("int"), lit(9)).as("bin"),
      col("p"), col("y"))
    // 10-row grid referenced by both prefix legs, the spine, and the
    // final join — materialize once (round-8 scan gate: was 6 events
    // scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val bins = binned.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(col("p").cast("decimal(27,10)")).as("sp"),
      sum(col("y")).as("sy"))
      .truncatedCheckpoint()
    // 10-row grid: inclusive prefix sums via a bounded self-join
    // (b ≤ a), carrying each bin's own (n, sy) so the interval sum
    // j..k is (cy_k − cy_j + sy_j) / (cn_k − cn_j + n_j)
    val pre = bins.as("a")
      .join(broadcast(bins.as("b")), col("b.bin") <= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(sum(col("b.n")).as("cn"), sum(col("b.sy")).as("cy"),
        max(when(col("b.bin") === col("a.bin"), col("b.n"))).as("nj"),
        max(when(col("b.bin") === col("a.bin"), col("b.sy"))).as("syj"))
    // interval average A(j,k) for every j ≤ k from the prefix rows
    val ivals = pre.as("j")
      .join(broadcast(pre.as("k")), col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("j"), col("k.bin").as("k"),
        round((col("k.cy").cast("double") - col("j.cy").cast("double")
            + col("j.syj").cast("double"))
          / (col("k.cn").cast("double") - col("j.cn").cast("double")
            + col("j.nj").cast("double")), 8).as("a"))
    // iso_i = max over j ≤ i of (min over k ≥ i of A(j,k))
    val grid = bins.select(col("bin").as("i"))
    val inner = broadcast(grid)
      .join(ivals, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("a")).as("mn"))
    val iso = inner.groupBy(col("i")).agg(max(col("mn")).as("iso_rate"))
    bins.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"),
        round(col("sp").cast("double") / col("n").cast("double"), 6)
          .as("mean_pred"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("emp_rate"),
        round(col("iso_rate"), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  val isotonicOracle: String =
    """WITH e AS (SELECT
      |    least(greatest(value/100.0, 0.0), 1.0) AS p,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |binned AS (SELECT
      |    least(CAST(floor(p*10.0) AS INT), 9) AS bin, p, y
      |  FROM e),
      |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(p AS DECIMAL(27,10))) AS sp,
      |    CAST(sum(y) AS BIGINT) AS sy
      |  FROM binned GROUP BY 1),
      |pre AS (SELECT a.bin, CAST(sum(b.n) AS BIGINT) AS cn,
      |    CAST(sum(b.sy) AS BIGINT) AS cy,
      |    CAST(max(CASE WHEN b.bin = a.bin THEN b.n END) AS BIGINT) AS nj,
      |    CAST(max(CASE WHEN b.bin = a.bin THEN b.sy END) AS BIGINT) AS syj
      |  FROM bins a JOIN bins b ON b.bin <= a.bin
      |  GROUP BY 1),
      |ivals AS (SELECT j.bin AS j, k.bin AS k,
      |    round((CAST(k.cy AS DOUBLE) - CAST(j.cy AS DOUBLE)
      |        + CAST(j.syj AS DOUBLE))
      |      /(CAST(k.cn AS DOUBLE) - CAST(j.cn AS DOUBLE)
      |        + CAST(j.nj AS DOUBLE)), 8) AS a
      |  FROM pre j JOIN pre k ON j.bin <= k.bin),
      |inner_mm AS (SELECT g.bin AS i, iv.j, min(iv.a) AS mn
      |  FROM bins g JOIN ivals iv ON iv.j <= g.bin AND iv.k >= g.bin
      |  GROUP BY 1, 2),
      |iso AS (SELECT i, max(mn) AS iso_rate FROM inner_mm GROUP BY 1)
      |SELECT bin, n,
      |  round(CAST(sp AS DOUBLE)/CAST(n AS DOUBLE), 6) AS mean_pred,
      |  round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 6) AS emp_rate,
      |  round(iso_rate, 6) AS iso_rate
      |FROM bins JOIN iso ON iso.i = bins.bin
      |ORDER BY bin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_isotonic" -> (isotonic _))

  val oracle: Map[String, String] = Map(
    "q_isotonic" -> isotonicOracle)
}
