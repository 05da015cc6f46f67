package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Round-4 widening #56: matched-measurement agreement statistics —
  * the Friedman test (the matched-blocks counterpart of
  * q_kruskal_wallis), one-way random-effects intraclass correlation
  * ICC(1) (reliability of repeated measurements within a group), and
  * linear-weighted Cohen's kappa (ordinal agreement, the weighted
  * sibling of q_lang_kappa).
  *
  * Scale notes (100 TB): friedman contracts events to the bounded
  * (day × type) grid FIRST — its in-day rank windows see exactly
  * |types| rows per partition; icc is per-order DECIMAL moments
  * re-contracted to one scalar row (two keyed shuffles, no windows);
  * kappa_w folds the fact table into a ≤25-cell confusion grid and
  * finishes with broadcast marginal joins.
  *
  * Determinism: daily means round at 8dp before ranking, rank ties
  * break on the type name (documented — exact ties are measure-zero
  * on 8dp means); ICC per-group terms round at 6dp into DECIMAL
  * sums; kappa cell shares at 8dp; D2 output rounding.
  */
object MatchedRanksQueries extends QueryFamily {

  /** q_friedman — Friedman χ² across the k=5 event types over
    * complete calendar-day blocks: within-day ranks of the 8dp daily
    * mean value, χ²_F = 12/(n·k·(k+1)) · ΣR_j² − 3n(k+1), plus
    * Kendall's W = χ²_F / (n·(k−1)). */
  def friedman(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val cell = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"), col("event_type"))
      .agg(round(avg(col("value")), 8).as("mval"))
    val complete = cell.groupBy(col("day")).agg(count(lit(1)).as("nt"))
      .filter(col("nt") === k).select(col("day"))
    val ranked = cell.join(complete, "day")
      .withColumn("r", row_number().over(Window.partitionBy(col("day"))
        .orderBy(col("mval"), col("event_type"))))
    val rj = ranked.groupBy(col("event_type"))
      .agg(sum(col("r")).as("r_j"), count(lit(1)).as("n"))
    val tot = rj.agg(max(col("n")).as("n"),
      sum(col("r_j") * col("r_j")).as("sr2"))
    val nD = col("n").cast("double")
    tot.select(col("n"),
      round(lit(12.0) / (nD * k * (k + 1)) * col("sr2").cast("double")
        - lit(3.0) * nD * (k + 1), 4).as("friedman_chi2"),
      round((lit(12.0) / (nD * k * (k + 1)) * col("sr2").cast("double")
        - lit(3.0) * nD * (k + 1)) / (nD * (k - 1)), 6).as("kendalls_w"))
  }

  val friedmanOracle: String =
    """WITH cell AS (SELECT CAST(ts AS DATE) AS day, event_type,
      |    round(avg(value), 8) AS mval
      |  FROM events GROUP BY 1, 2),
      |complete AS (SELECT day FROM cell GROUP BY day
      |  HAVING count(*) = 5),
      |ranked AS (SELECT c.day, c.event_type,
      |    row_number() OVER (PARTITION BY c.day
      |      ORDER BY c.mval, c.event_type) AS r
      |  FROM cell c JOIN complete USING (day)),
      |rj AS (SELECT event_type, sum(r) AS r_j,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM ranked GROUP BY 1),
      |t AS (SELECT max(n) AS n, sum(r_j*r_j) AS sr2 FROM rj)
      |SELECT n,
      |  round(12.0/(CAST(n AS DOUBLE)*5*6) * CAST(sr2 AS DOUBLE)
      |    - 3.0*CAST(n AS DOUBLE)*6, 4) AS friedman_chi2,
      |  round((12.0/(CAST(n AS DOUBLE)*5*6) * CAST(sr2 AS DOUBLE)
      |    - 3.0*CAST(n AS DOUBLE)*6)/(CAST(n AS DOUBLE)*4), 6)
      |    AS kendalls_w
      |FROM t""".stripMargin

  /** q_icc — one-way random-effects ICC(1) of lineitem quantities
    * within orders (are lines of one order more alike than lines of
    * different orders?): MSB/MSW from per-order DECIMAL moments,
    * unequal group sizes via k₀ = (N − Σn_i²/N)/(g−1). */
  def icc(s: SparkSession, d: String): DataFrame = {
    val g = lineitem(s, d).groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("n_i"),
      sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("s_i"),
      sum(round(col("l_quantity") * col("l_quantity"), 6)
        .cast("decimal(27,6)")).cast("double").as("ss_i"))
      .filter(col("n_i") >= 2)
    val nI = col("n_i").cast("double")
    val terms = g.select(col("n_i"),
      round(col("ss_i") - col("s_i") * col("s_i") / nI, 6).as("ssw_i"),
      round(col("s_i") * col("s_i") / nI, 6).as("sb_i"),
      col("s_i"))
    val tot = terms.agg(
      count(lit(1)).cast("long").as("g"),
      sum(col("n_i")).cast("long").as("n"),
      sum(col("n_i") * col("n_i")).cast("long").as("sn2"),
      sum(col("ssw_i").cast("decimal(27,6)")).cast("double").as("ssw"),
      sum(col("sb_i").cast("decimal(27,6)")).cast("double").as("sb"),
      sum(col("s_i").cast("decimal(18,6)")).cast("double").as("s"))
    val nD = col("n").cast("double"); val gD = col("g").cast("double")
    val ssb = col("sb") - col("s") * col("s") / nD
    val msw = round(col("ssw") / (nD - gD), 8)
    val msb = round(ssb / (gD - 1), 8)
    val k0 = round((nD - col("sn2").cast("double") / nD) / (gD - 1), 8)
    tot.select(col("g"), col("n"), msb.as("msb"), msw.as("msw"),
      round((msb - msw) / (msb + (k0 - 1) * msw), 6).as("icc1"))
  }

  val iccOracle: String =
    """WITH g AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_i,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s_i,
      |    CAST(sum(CAST(round(l_quantity*l_quantity, 6) AS DECIMAL(27,6)))
      |      AS DOUBLE) AS ss_i
      |  FROM lineitem GROUP BY 1 HAVING count(*) >= 2),
      |terms AS (SELECT n_i,
      |    round(ss_i - s_i*s_i/CAST(n_i AS DOUBLE), 6) AS ssw_i,
      |    round(s_i*s_i/CAST(n_i AS DOUBLE), 6) AS sb_i, s_i
      |  FROM g),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS g,
      |    CAST(sum(n_i) AS BIGINT) AS n,
      |    CAST(sum(n_i*n_i) AS BIGINT) AS sn2,
      |    CAST(sum(CAST(ssw_i AS DECIMAL(27,6))) AS DOUBLE) AS ssw,
      |    CAST(sum(CAST(sb_i AS DECIMAL(27,6))) AS DOUBLE) AS sb,
      |    CAST(sum(CAST(s_i AS DECIMAL(18,6))) AS DOUBLE) AS s
      |  FROM terms),
      |m AS (SELECT g, n,
      |    round((sb - s*s/CAST(n AS DOUBLE))/(CAST(g AS DOUBLE) - 1), 8)
      |      AS msb,
      |    round(ssw/(CAST(n AS DOUBLE) - CAST(g AS DOUBLE)), 8) AS msw,
      |    round((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)/CAST(n AS DOUBLE))
      |      /(CAST(g AS DOUBLE) - 1), 8) AS k0
      |  FROM t)
      |SELECT g, n, msb, msw,
      |  round((msb - msw)/(msb + (k0 - 1)*msw), 6) AS icc1
      |FROM m""".stripMargin

  /** q_kappa_weighted — linear-weighted Cohen's kappa between the
    * ordinal order-priority digit (1–5) and a price-band "predictor"
    * (five fixed totalprice thresholds): w_ij = 1 − |i−j|/4 over the
    * 25-cell confusion grid, κ_w = (p_o − p_e)/(1 − p_e). */
  def kappaWeighted(s: SparkSession, d: String): DataFrame = {
    val t = orders(s, d).select(
      substring(col("o_orderpriority"), 1, 1).cast("int").as("a"),
      when(col("o_totalprice") < 100000.0, 1)
        .when(col("o_totalprice") < 200000.0, 2)
        .when(col("o_totalprice") < 300000.0, 3)
        .when(col("o_totalprice") < 400000.0, 4).otherwise(5).as("p"))
    // 25-cell contingency grid feeds the total/margin/observed folds —
    // materialize once (round-8 scan gate: was 5 orders scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val cells = t.groupBy(col("a"), col("p")).agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val n = cells.agg(sum(col("c")).as("n"))
    val rowM = cells.groupBy(col("a")).agg(sum(col("c")).as("ra"))
    val colM = cells.groupBy(col("p")).agg(sum(col("c")).as("cp"))
    val w = lit(1.0) - abs(col("a") - col("p")).cast("double") / 4.0
    val po = cells.crossJoin(broadcast(n))
      .select(round(w * col("c").cast("double") / col("n").cast("double"), 10)
        .as("t"))
      .agg(sum(col("t").cast("decimal(18,10)")).cast("double").as("po"))
    val pe = broadcast(rowM).crossJoin(broadcast(colM))
      .crossJoin(broadcast(n))
      .select(round(w * col("ra").cast("double") * col("cp").cast("double")
        / (col("n") * col("n")).cast("double"), 10).as("t"))
      .agg(sum(col("t").cast("decimal(18,10)")).cast("double").as("pe"))
    po.crossJoin(pe).select(
      round(col("po"), 6).as("po_w"), round(col("pe"), 6).as("pe_w"),
      round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)
        .as("kappa_w"))
  }

  val kappaWeightedOracle: String =
    """WITH t AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS a,
      |    CASE WHEN o_totalprice < 100000.0 THEN 1
      |      WHEN o_totalprice < 200000.0 THEN 2
      |      WHEN o_totalprice < 300000.0 THEN 3
      |      WHEN o_totalprice < 400000.0 THEN 4 ELSE 5 END AS p
      |  FROM orders),
      |cells AS (SELECT a, p, CAST(count(*) AS BIGINT) AS c
      |  FROM t GROUP BY 1, 2),
      |nn AS (SELECT sum(c) AS n FROM cells),
      |rm AS (SELECT a, sum(c) AS ra FROM cells GROUP BY 1),
      |cm AS (SELECT p, sum(c) AS cp FROM cells GROUP BY 1),
      |po AS (SELECT CAST(sum(CAST(round(
      |      (1.0 - abs(a - p)/4.0) * CAST(c AS DOUBLE)/CAST(n AS DOUBLE),
      |      10) AS DECIMAL(18,10))) AS DOUBLE) AS po
      |  FROM cells CROSS JOIN nn),
      |pe AS (SELECT CAST(sum(CAST(round(
      |      (1.0 - abs(a - p)/4.0) * CAST(ra AS DOUBLE) * CAST(cp AS DOUBLE)
      |      /(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)),
      |      10) AS DECIMAL(18,10))) AS DOUBLE) AS pe
      |  FROM rm CROSS JOIN cm CROSS JOIN nn)
      |SELECT round(po, 6) AS po_w, round(pe, 6) AS pe_w,
      |  round((po - pe)/(1.0 - pe), 6) AS kappa_w
      |FROM po CROSS JOIN pe""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_friedman" -> (friedman _),
    "q_icc" -> (icc _),
    "q_kappa_weighted" -> (kappaWeighted _))

  val oracle: Map[String, String] = Map(
    "q_friedman" -> friedmanOracle,
    "q_icc" -> iccOracle,
    "q_kappa_weighted" -> kappaWeightedOracle)
}
