package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #17: classical inference at scale — Welch's
  * unequal-variance t (the robust default over Student's t), one-way
  * ANOVA with effect size, and closed-form two-regressor OLS.
  *
  * Scale notes (100 TB): every statistic here reduces to a handful of
  * keyed DECIMAL moment aggregates (n, Σx, Σx², Σxy) — one shuffle on
  * the group key, partial map-side combine, then O(|groups|)
  * driver-free arithmetic on the contracted rows; grand totals travel
  * as broadcast 1-row aggregates (no global windows anywhere).
  *
  * Determinism (SURVEY §2 D2): raw doubles are never summed — every
  * Σ goes through an exact DECIMAL cast; downstream +,−,×,÷,sqrt on
  * the resulting doubles are IEEE-exact single operations, so both
  * engines compute bit-identical statistics; outputs rounded. The
  * one cross-group Σ (ANOVA's between-group term) re-enters DECIMAL
  * after a fixed 4dp round so the k-row reduction stays
  * order-independent.
  */
object StatTestQueries extends QueryFamily {

  private def dsq(c: Column): Column = (c * c).cast("decimal(27,6)")

  /** q_welch_t — Welch's unequal-variance t-test of `value`,
    * weekend vs weekday, per event type: exact DECIMAL moments per
    * cell, t = (m1−m2)/√(v1/n1+v2/n2) and the Welch–Satterthwaite
    * degrees of freedom. Day NAMES (not dow indices — the engines
    * disagree on week start) decide the split. */
  def welchT(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"),
      col("value"))
    val g = e.groupBy(col("event_type")).agg(
      count(when(col("we"), lit(1))).as("n1"),
      count(when(!col("we"), lit(1))).as("n2"),
      sum(when(col("we"), col("value").cast("decimal(18,6)"))).cast("double").as("s1"),
      sum(when(!col("we"), col("value").cast("decimal(18,6)"))).cast("double").as("s2"),
      sum(when(col("we"), dsq(col("value")))).cast("double").as("q1"),
      sum(when(!col("we"), dsq(col("value")))).cast("double").as("q2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val m1 = col("s1") / n1; val m2 = col("s2") / n2
    val v1 = (col("q1") - col("s1") * col("s1") / n1) / (n1 - 1.0)
    val v2 = (col("q2") - col("s2") * col("s2") / n2) / (n2 - 1.0)
    val se2 = v1 / n1 + v2 / n2
    val dfw = se2 * se2 /
      ((v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v2 / n2) * (v2 / n2) / (n2 - 1.0))
    g.select(col("event_type"), col("n1"), col("n2"),
        round(m1, 4).as("mean_we"), round(m2, 4).as("mean_wd"),
        round((m1 - m2) / sqrt(se2), 6).as("t_stat"),
        round(dfw, 2).as("df"))
      .orderBy(col("event_type"))
  }

  val welchTOracle: String =
    """WITH e AS (SELECT event_type,
      |    dayname(ts) IN ('Saturday','Sunday') AS we, value FROM events),
      |g AS (SELECT event_type,
      |    count(CASE WHEN we THEN 1 END) AS n1,
      |    count(CASE WHEN NOT we THEN 1 END) AS n2,
      |    CAST(sum(CASE WHEN we THEN CAST(value AS DECIMAL(18,6)) END)
      |      AS DOUBLE) AS s1,
      |    CAST(sum(CASE WHEN NOT we THEN CAST(value AS DECIMAL(18,6)) END)
      |      AS DOUBLE) AS s2,
      |    CAST(sum(CASE WHEN we THEN CAST(value*value AS DECIMAL(27,6)) END)
      |      AS DOUBLE) AS q1,
      |    CAST(sum(CASE WHEN NOT we THEN CAST(value*value AS DECIMAL(27,6)) END)
      |      AS DOUBLE) AS q2
      |  FROM e GROUP BY 1)
      |SELECT event_type, n1, n2,
      |  round(s1/n1, 4) AS mean_we,
      |  round(s2/n2, 4) AS mean_wd,
      |  round((s1/CAST(n1 AS DOUBLE) - s2/CAST(n2 AS DOUBLE)) /
      |    sqrt((q1 - s1*s1/CAST(n1 AS DOUBLE))/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE) +
      |         (q2 - s2*s2/CAST(n2 AS DOUBLE))/(CAST(n2 AS DOUBLE)-1.0)/CAST(n2 AS DOUBLE)), 6)
      |    AS t_stat,
      |  round(
      |    ((q1 - s1*s1/CAST(n1 AS DOUBLE))/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE) +
      |     (q2 - s2*s2/CAST(n2 AS DOUBLE))/(CAST(n2 AS DOUBLE)-1.0)/CAST(n2 AS DOUBLE)) *
      |    ((q1 - s1*s1/CAST(n1 AS DOUBLE))/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE) +
      |     (q2 - s2*s2/CAST(n2 AS DOUBLE))/(CAST(n2 AS DOUBLE)-1.0)/CAST(n2 AS DOUBLE)) /
      |    (((q1 - s1*s1/CAST(n1 AS DOUBLE))/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE)) *
      |     ((q1 - s1*s1/CAST(n1 AS DOUBLE))/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE)) /
      |     (CAST(n1 AS DOUBLE)-1.0) +
      |     ((q2 - s2*s2/CAST(n2 AS DOUBLE))/(CAST(n2 AS DOUBLE)-1.0)/CAST(n2 AS DOUBLE)) *
      |     ((q2 - s2*s2/CAST(n2 AS DOUBLE))/(CAST(n2 AS DOUBLE)-1.0)/CAST(n2 AS DOUBLE)) /
      |     (CAST(n2 AS DOUBLE)-1.0)), 2) AS df
      |FROM g ORDER BY event_type""".stripMargin

  /** q_anova — one-way ANOVA of `value` across event types: SSB from
    * per-group (Σx)²/n terms (4dp-rounded back into DECIMAL so the
    * k-row reduction is order-independent), SSW from the exact global
    * Σx² minus the same terms, F = (SSB/(k−1))/(SSW/(N−k)) with
    * η² effect size. */
  def anova(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"), col("value"))
    val g = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_g"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sx_g"))
    val terms = g.agg(
      count(lit(1)).as("k"),
      sum(col("n_g")).as("n"),
      sum(round(col("sx_g") * col("sx_g") / col("n_g").cast("double"), 4)
        .cast("decimal(27,4)")).cast("double").as("t_sum"))
    val tot = e.agg(
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sx"),
      sum(dsq(col("value"))).cast("double").as("sxx"))
    val kD = col("k").cast("double"); val nD = col("n").cast("double")
    val ssb = col("t_sum") - col("sx") * col("sx") / nD
    val ssw = col("sxx") - col("t_sum")
    terms.crossJoin(broadcast(tot)).select(
      col("k"), col("n"),
      round(ssb, 2).as("ssb"), round(ssw, 2).as("ssw"),
      round((ssb / (kD - 1.0)) / (ssw / (nD - kD)), 6).as("f_stat"),
      round(ssb / (ssb + ssw), 6).as("eta_sq"))
  }

  val anovaOracle: String =
    """WITH g AS (SELECT event_type, count(*) AS n_g,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx_g
      |  FROM events GROUP BY 1),
      |terms AS (SELECT count(*) AS k, sum(n_g) AS n,
      |    CAST(sum(CAST(round(sx_g*sx_g/CAST(n_g AS DOUBLE), 4)
      |      AS DECIMAL(27,4))) AS DOUBLE) AS t_sum
      |  FROM g),
      |tot AS (SELECT
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value*value AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      |  FROM events)
      |SELECT k, CAST(n AS BIGINT) AS n,
      |  round(t_sum - sx*sx/CAST(n AS DOUBLE), 2) AS ssb,
      |  round(sxx - t_sum, 2) AS ssw,
      |  round(((t_sum - sx*sx/CAST(n AS DOUBLE))/(CAST(k AS DOUBLE)-1.0)) /
      |        ((sxx - t_sum)/(CAST(n AS DOUBLE)-CAST(k AS DOUBLE))), 6)
      |    AS f_stat,
      |  round((t_sum - sx*sx/CAST(n AS DOUBLE)) /
      |        ((t_sum - sx*sx/CAST(n AS DOUBLE)) + (sxx - t_sum)), 6)
      |    AS eta_sq
      |FROM terms CROSS JOIN tot""".stripMargin

  /** q_linreg2 — two-regressor OLS per return flag (extendedprice on
    * quantity and discount) solved in closed form from the centered
    * 2×2 normal equations — the multivariable sibling of q_regr's
    * simple fit. Ten DECIMAL moments per group; determinant, slopes,
    * intercept and R² are scalar double arithmetic on the contracted
    * rows. */
  def linreg2(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
      col("l_quantity").as("x"), col("l_discount").as("y"),
      col("l_extendedprice").as("z"))
    val g = li.groupBy(col("flag")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
      sum(col("z").cast("decimal(18,6)")).cast("double").as("sz"),
      sum(dsq(col("x"))).cast("double").as("sxx"),
      sum(dsq(col("y"))).cast("double").as("syy"),
      sum(dsq(col("z"))).cast("double").as("szz"),
      sum((col("x") * col("y")).cast("decimal(27,6)")).cast("double").as("sxy"),
      sum((col("x") * col("z")).cast("decimal(27,6)")).cast("double").as("sxz"),
      sum((col("y") * col("z")).cast("decimal(27,6)")).cast("double").as("syz"))
    val nD = col("n").cast("double")
    val cxx = col("sxx") - col("sx") * col("sx") / nD
    val cyy = col("syy") - col("sy") * col("sy") / nD
    val czz = col("szz") - col("sz") * col("sz") / nD
    val cxy = col("sxy") - col("sx") * col("sy") / nD
    val cxz = col("sxz") - col("sx") * col("sz") / nD
    val cyz = col("syz") - col("sy") * col("sz") / nD
    val det = cxx * cyy - cxy * cxy
    val b1 = (cyy * cxz - cxy * cyz) / det
    val b2 = (cxx * cyz - cxy * cxz) / det
    val b0 = col("sz") / nD - b1 * col("sx") / nD - b2 * col("sy") / nD
    val r2 = (b1 * cxz + b2 * cyz) / czz
    g.select(col("flag"), col("n"),
        round(b0, 4).as("b0"), round(b1, 6).as("b_qty"),
        round(b2, 6).as("b_disc"), round(r2, 6).as("r2"))
      .orderBy(col("flag"))
  }

  val linreg2Oracle: String =
    """WITH g AS (SELECT l_returnflag AS flag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sz,
      |    CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_discount*l_discount AS DECIMAL(27,6))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS szz,
      |    CAST(sum(CAST(l_quantity*l_discount AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxz,
      |    CAST(sum(CAST(l_discount*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS syz
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT flag, n,
      |    sxx - sx*sx/CAST(n AS DOUBLE) AS cxx,
      |    syy - sy*sy/CAST(n AS DOUBLE) AS cyy,
      |    szz - sz*sz/CAST(n AS DOUBLE) AS czz,
      |    sxy - sx*sy/CAST(n AS DOUBLE) AS cxy,
      |    sxz - sx*sz/CAST(n AS DOUBLE) AS cxz,
      |    syz - sy*sz/CAST(n AS DOUBLE) AS cyz,
      |    sx, sy, sz
      |  FROM g),
      |b AS (SELECT flag, n, sx, sy, sz, cxz, cyz, czz,
      |    (cyy*cxz - cxy*cyz)/(cxx*cyy - cxy*cxy) AS b1,
      |    (cxx*cyz - cxy*cxz)/(cxx*cyy - cxy*cxy) AS b2
      |  FROM c)
      |SELECT flag, n,
      |  round(sz/CAST(n AS DOUBLE) - b1*sx/CAST(n AS DOUBLE)
      |    - b2*sy/CAST(n AS DOUBLE), 4) AS b0,
      |  round(b1, 6) AS b_qty,
      |  round(b2, 6) AS b_disc,
      |  round((b1*cxz + b2*cyz)/czz, 6) AS r2
      |FROM b ORDER BY flag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_welch_t" -> (welchT _),
    "q_anova" -> (anova _),
    "q_linreg2" -> (linreg2 _))

  val oracle: Map[String, String] = Map(
    "q_welch_t" -> welchTOracle,
    "q_anova" -> anovaOracle,
    "q_linreg2" -> linreg2Oracle)
}
