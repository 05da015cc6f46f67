package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism.hexval

/** Round-4 widening: HyperLogLog graded EXACTLY — the last member of
  * the deterministic-sketch shelf (count-min + Bloom live in
  * [[SketchExactQueries]], KMV in CapabilityQueries' graded row).
  * The no-oracle `q_agg_approx` capability row wraps Spark's own
  * `approx_count_distinct` (whose xxHash64 seeding DuckDB cannot
  * replay); THIS query builds the HLL from content-addressed md5
  * bits, so the oracle reconstructs the identical 64 registers and
  * the driver hash-grades the estimate like any relational query.
  *
  * Construction (Flajolet et al., the standard HLL):
  *   - register index = top 24 md5 bits mod 64 (the repo's shared
  *     md5-bucket convention, portable instr/substr spelling in SQL);
  *   - rank = leading-zero count of md5 hex chars 7-12 (an
  *     independent 24-bit field) + 1, in [1, 25], computed by exact
  *     integer threshold comparisons (no float log2);
  *   - estimate = alpha_64 * 64^2 / sum_j 2^-M_j with empty registers
  *     contributing 2^0; linear-counting small-range correction when
  *     E <= 2.5m and zero registers exist.
  *
  * Determinism: 2^-M_j is an exact power of two — `1.0 / (1L << M)`
  * is exact IEEE division and the value fits DECIMAL(38,30) exactly
  * (M <= 25 needs 25 decimal places), so the 64-term reduction is
  * order-free; the final alpha*m^2/sum division is one double op,
  * rounded to 4dp. ln() appears only in the linear-counting branch
  * on small integer ratios, rounded to 4dp (established convention:
  * q_gmean/q_benford).
  *
  * Scale (100 TB): one keyed DISTINCT contraction of (group, key)
  * feeds a 64-row-per-group register aggregation (map-side combine);
  * the register frame (groups x 64 rows) is dimension-sized, then a
  * broadcast-joined scaffold guarantees empty registers. No windows,
  * no driver loops — the identical plan shape runs at any scale.
  */
object ExactHllQueries extends QueryFamily {

  private val M = 64 // registers

  /** rank = leading zeros of the 24-bit value + 1, via exact integer
    * thresholds: v = 0 -> 25, v >= 2^23 -> 1, v >= 2^22 -> 2, ... */
  private def rankSql(v: String): String = {
    val cases = (1 to 24).map(r =>
      s"WHEN $v >= ${1L << (24 - r)} THEN $r").mkString(" ")
    s"(CASE $cases ELSE 25 END)"
  }

  private def rankCol(v: Column): Column =
    (1 to 24).foldLeft(when(lit(false), lit(0))) { (acc, r) =>
      acc.when(v >= (1L << (24 - r)), lit(r))
    }.otherwise(lit(25))

  /** q_hll_exact — HLL distinct-count estimate of `l_partkey` per
    * return flag, graded against the exact count it approximates:
    * per-flag registers, zero-register count, raw and corrected
    * estimates, relative error. */
  def hllExact(s: SparkSession, d: String): DataFrame = {
    val keys = lineitem(s, d)
      .select(col("l_returnflag").as("grp"),
        col("l_partkey").cast("string").as("k"))
      .distinct()
    val hexed = keys.withColumn("h", md5(concat(lit("hll:"), col("k"))))
      .select(col("grp"),
        (conv(substring(col("h"), 1, 6), 16, 10).cast("long") % M).as("reg"),
        rankCol(conv(substring(col("h"), 7, 6), 16, 10).cast("long")).as("rank"))
    val regs = hexed.groupBy(col("grp"), col("reg"))
      .agg(max(col("rank")).as("mx"))
    // scaffold: every (group, register) cell, empty registers -> M_j = 0
    val scaffold = keys.select(col("grp")).distinct()
      .crossJoin(broadcast(s.range(M).select(col("id").cast("long").as("reg"))))
    val full = scaffold.join(regs, Seq("grp", "reg"), "left")
      .withColumn("mj", coalesce(col("mx"), lit(0)))
      .withColumn("term",
        expr("CAST(1.0 / CAST(shiftleft(1L, mj) AS DOUBLE) AS DECIMAL(38,30))"))
    val alpha = 0.7213 / (1.0 + 1.079 / M) // exact same doubles in SQL
    val est = full.groupBy(col("grp"))
      .agg(sum(col("term")).as("ssum"),
        count(when(col("mj") === 0, lit(1))).as("zero_regs"))
      .withColumn("e_raw",
        lit(alpha) * lit(M.toDouble * M) / col("ssum").cast("double"))
      .withColumn("hll_est",
        when(col("e_raw") <= lit(2.5 * M) && col("zero_regs") > 0,
          lit(M.toDouble) * log(lit(M.toDouble) / col("zero_regs").cast("double")))
          .otherwise(col("e_raw")))
    val truth = keys.groupBy(col("grp")).agg(count(lit(1)).as("n_true"))
    est.join(truth, "grp")
      .select(col("grp"), col("n_true"), col("zero_regs"),
        round(col("e_raw"), 4).as("e_raw"),
        round(col("hll_est"), 4).as("hll_est"),
        round((col("hll_est") - col("n_true").cast("double")).cast("double") /
          col("n_true").cast("double"), 4).as("rel_err"))
      .orderBy(col("grp"))
  }

  val hllExactOracle: String = {
    val bucket = s"${hexval("h")} % $M"
    val rank = rankSql(hexval("h", 7))
    s"""WITH keys AS (SELECT DISTINCT l_returnflag AS grp,
      |    CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
      |hexed AS (SELECT grp, $bucket AS reg, $rank AS rank
      |  FROM (SELECT grp, md5('hll:' || k) AS h FROM keys)),
      |regs AS (SELECT grp, reg, max(rank) AS mx FROM hexed GROUP BY 1, 2),
      |scaffold AS (SELECT DISTINCT grp FROM keys CROSS JOIN range($M) r),
      |full_regs AS (SELECT s.grp,
      |    CAST(1.0 AS DOUBLE) / CAST(1 << COALESCE(regs.mx, 0) AS DOUBLE)
      |      AS term_d,
      |    COALESCE(regs.mx, 0) AS mj
      |  FROM (SELECT DISTINCT grp, CAST(r.range AS BIGINT) AS reg
      |        FROM keys CROSS JOIN range($M) r) s
      |  LEFT JOIN regs ON regs.grp = s.grp AND regs.reg = s.reg),
      |est AS (SELECT grp,
      |    sum(CAST(term_d AS DECIMAL(38,30))) AS ssum,
      |    count(CASE WHEN mj = 0 THEN 1 END) AS zero_regs
      |  FROM full_regs GROUP BY 1),
      |e AS (SELECT grp, zero_regs,
      |    (0.7213 / (1.0 + 1.079 / $M)) * ${M.toDouble * M} /
      |      CAST(ssum AS DOUBLE) AS e_raw
      |  FROM est),
      |corrected AS (SELECT grp, zero_regs, e_raw,
      |    CASE WHEN e_raw <= ${2.5 * M} AND zero_regs > 0
      |      THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zero_regs AS DOUBLE))
      |      ELSE e_raw END AS hll_est
      |  FROM e),
      |truth AS (SELECT grp, count(*) AS n_true FROM keys GROUP BY 1)
      |SELECT c.grp, t.n_true, CAST(c.zero_regs AS BIGINT) AS zero_regs,
      |  round(c.e_raw, 4) AS e_raw,
      |  round(c.hll_est, 4) AS hll_est,
      |  round((c.hll_est - t.n_true) / t.n_true, 4) AS rel_err
      |FROM corrected c JOIN truth t ON t.grp = c.grp
      |ORDER BY c.grp""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_exact" -> (hllExact _))

  val oracle: Map[String, String] = Map(
    "q_hll_exact" -> hllExactOracle)
}
