package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #52: paired / matched-sample categorical tests —
  * the within-subject counterparts of the independent-sample suite
  * (q_chi2, q_welch_t): McNemar's discordance test, Cochran's Q for
  * k matched binary treatments, and the 2×2 odds ratio with its Wald
  * interval in log space.
  *
  * Subjects are orders; the paired binary outcomes are deterministic
  * rules over each order's own columns (two "classifiers" of
  * high-value status, three fulfillment flags), so pairing is exact
  * row identity — no join needed, every test is one conditional-count
  * scan over the fact table.
  *
  * Scale notes (100 TB): all three queries contract in a single
  * pass — per-row 0/1 flags fold into global integer counts
  * (map-side combined longs), the test statistic is scalar arithmetic
  * on the 1-row result. Nothing shuffles more than the count partials.
  *
  * Determinism: counts are exact longs; divisions round at 6dp; ln
  * takes 8dp-rounded ratio arguments and the interval stays in log
  * space (no exp), D2 rounding at 4dp on statistics.
  */
object PairedTestQueries extends QueryFamily {

  /** q_mcnemar — McNemar's test on paired classifiers of high-value
    * orders: A = totalprice above 250k, B = urgent-or-high priority.
    * Only the discordant cells drive the statistic:
    * χ² = (|b−c|−1)² / (b+c), continuity-corrected. */
  def mcnemar(s: SparkSession, d: String): DataFrame = {
    val flags = orders(s, d).select(
      (col("o_totalprice") > 250000.0).as("a"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("b"))
    val m = flags.agg(
      count(when(col("a") && col("b"), lit(1))).as("n11"),
      count(when(col("a") && !col("b"), lit(1))).as("n10"),
      count(when(!col("a") && col("b"), lit(1))).as("n01"),
      count(when(!col("a") && !col("b"), lit(1))).as("n00"))
    val b = col("n10").cast("double"); val c = col("n01").cast("double")
    m.select(col("n11"), col("n10"), col("n01"), col("n00"),
      round(pow(abs(b - c) - 1.0, 2) / (b + c), 4).as("mcnemar_chi2"))
  }

  val mcnemarOracle: String =
    """WITH f AS (SELECT o_totalprice > 250000.0 AS a,
      |    o_orderpriority IN ('1-URGENT','2-HIGH') AS b FROM orders),
      |m AS (SELECT
      |    CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS n11,
      |    CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n10,
      |    CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n01,
      |    CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT) AS n00
      |  FROM f)
      |SELECT n11, n10, n01, n00,
      |  round(pow(abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0, 2)
      |    / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE)), 4) AS mcnemar_chi2
      |FROM m""".stripMargin

  /** q_cochran_q — Cochran's Q across k=3 matched binary treatments
    * per order (open status, above-median price, medium-or-better
    * priority): Q = (k−1)·(k·ΣG_j² − (ΣG_j)²) / (k·ΣL_i − ΣL_i²)
    * with column totals G_j and per-subject row totals L_i — every
    * term an exact integer sum off one scan. */
  def cochranQ(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val t = orders(s, d).select(
      (col("o_orderstatus") === "O").cast("long").as("x1"),
      (col("o_totalprice") > 250000.0).cast("long").as("x2"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
        .cast("long").as("x3"))
      .withColumn("l", col("x1") + col("x2") + col("x3"))
    val m = t.agg(
      sum(col("x1")).as("g1"), sum(col("x2")).as("g2"),
      sum(col("x3")).as("g3"),
      sum(col("l")).as("sl"), sum(col("l") * col("l")).as("sl2"))
    val gSum = col("g1") + col("g2") + col("g3")
    val gSq = col("g1") * col("g1") + col("g2") * col("g2") +
      col("g3") * col("g3")
    val num = (lit(k - 1) * (lit(k) * gSq - gSum * gSum)).cast("double")
    val den = (lit(k) * col("sl") - col("sl2")).cast("double")
    m.select(col("g1"), col("g2"), col("g3"),
      round(num / den, 4).as("cochran_q"))
  }

  val cochranQOracle: String =
    """WITH t AS (SELECT
      |    CAST(o_orderstatus = 'O' AS BIGINT) AS x1,
      |    CAST(o_totalprice > 250000.0 AS BIGINT) AS x2,
      |    CAST(o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
      |      AS BIGINT) AS x3
      |  FROM orders),
      |t2 AS (SELECT x1, x2, x3, x1 + x2 + x3 AS l FROM t),
      |m AS (SELECT CAST(sum(x1) AS BIGINT) AS g1,
      |    CAST(sum(x2) AS BIGINT) AS g2,
      |    CAST(sum(x3) AS BIGINT) AS g3,
      |    CAST(sum(l) AS BIGINT) AS sl,
      |    CAST(sum(l*l) AS BIGINT) AS sl2 FROM t2)
      |SELECT g1, g2, g3,
      |  round(CAST(2 * (3 * (g1*g1 + g2*g2 + g3*g3)
      |      - (g1+g2+g3)*(g1+g2+g3)) AS DOUBLE)
      |    / CAST(3 * sl - sl2 AS DOUBLE), 4) AS cochran_q
      |FROM m""".stripMargin

  /** q_odds_ratio — 2×2 association between the same two rules as
    * q_mcnemar: OR = (n11·n00)/(n10·n01), reported as ln OR with the
    * Wald 95% interval kept in log space (ln of an 8dp-rounded ratio;
    * SE from exact reciprocal sums rounded at 8dp). */
  def oddsRatio(s: SparkSession, d: String): DataFrame = {
    val flags = orders(s, d).select(
      (col("o_totalprice") > 250000.0).as("a"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("b"))
    val m = flags.agg(
      count(when(col("a") && col("b"), lit(1))).as("n11"),
      count(when(col("a") && !col("b"), lit(1))).as("n10"),
      count(when(!col("a") && col("b"), lit(1))).as("n01"),
      count(when(!col("a") && !col("b"), lit(1))).as("n00"))
    val or = round(
      (col("n11") * col("n00")).cast("double") /
        (col("n10") * col("n01")).cast("double"), 8)
    val lnOr = log(or)
    val se = round(sqrt(
      lit(1.0) / col("n11") + lit(1.0) / col("n10") +
        lit(1.0) / col("n01") + lit(1.0) / col("n00")), 8)
    m.select(col("n11"), col("n10"), col("n01"), col("n00"),
      round(lnOr, 4).as("ln_or"),
      round(lnOr - lit(1.959964) * se, 4).as("ci_lo_ln"),
      round(lnOr + lit(1.959964) * se, 4).as("ci_hi_ln"))
  }

  val oddsRatioOracle: String =
    """WITH f AS (SELECT o_totalprice > 250000.0 AS a,
      |    o_orderpriority IN ('1-URGENT','2-HIGH') AS b FROM orders),
      |m AS (SELECT
      |    CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS n11,
      |    CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n10,
      |    CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n01,
      |    CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT) AS n00
      |  FROM f),
      |d AS (SELECT n11, n10, n01, n00,
      |    ln(round(CAST(n11*n00 AS DOUBLE)/CAST(n10*n01 AS DOUBLE), 8))
      |      AS ln_or_raw,
      |    round(sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00), 8) AS se
      |  FROM m)
      |SELECT n11, n10, n01, n00,
      |  round(ln_or_raw, 4) AS ln_or,
      |  round(ln_or_raw - 1.959964*se, 4) AS ci_lo_ln,
      |  round(ln_or_raw + 1.959964*se, 4) AS ci_hi_ln
      |FROM d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mcnemar" -> (mcnemar _),
    "q_cochran_q" -> (cochranQ _),
    "q_odds_ratio" -> (oddsRatio _))

  val oracle: Map[String, String] = Map(
    "q_mcnemar" -> mcnemarOracle,
    "q_cochran_q" -> cochranQOracle,
    "q_odds_ratio" -> oddsRatioOracle)
}
