package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #50: variance-homogeneity tests — the
  * heteroscedasticity gate every pooled analysis (q_anova, q_welch_t)
  * should run first: Brown–Forsythe/Levene (robust, median-centered),
  * Bartlett (the likelihood-ratio form), and the plain two-sample F
  * ratio on the weekend split.
  *
  * Scale notes (100 TB): all three contract to per-group DECIMAL
  * moment rows (one keyed shuffle each), with per-group scalar terms
  * rounded then DECIMAL-summed across the bounded group domain;
  * group medians travel back through a broadcast |groups|-row join.
  * No windows.
  *
  * Determinism: |deviation| values round to 6dp before products;
  * ln() takes 8dp-rounded variance arguments (q_perplexity
  * convention); outputs round at 4–6dp (D2).
  */
object VarTestQueries extends QueryFamily {

  /** q_levene — Brown–Forsythe test across event types: z = |value −
    * group median|, then the one-way ANOVA F statistic on z:
    * F = (N−k)/(k−1) · SSB/SSW with SSB/SSW from per-group DECIMAL
    * moments (Σz, Σz², n). */
  def levene(s: SparkSession, d: String): DataFrame = {
    // contracted-grid median, not the buffering `median` aggregate
    // (~n/|types| map entries in one task at scale) — same
    // interpolation arithmetic via OrderStats, value unchanged
    val med = graft.operators.OrderStats.interpolatedPercentiles(
      events(s, d), Seq("event_type"), "value", Seq("med" -> 0.5))
      .select(col("event_type"), col("med"))
    val z = events(s, d).join(broadcast(med), "event_type")
      .select(col("event_type"),
        round(abs(col("value") - col("med")), 6).as("z"))
    val g = z.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_i"),
      sum(col("z").cast("decimal(18,6)")).cast("double").as("s_i"),
      sum(round(col("z") * col("z"), 6).cast("decimal(27,6)"))
        .cast("double").as("ss_i"))
    val tot = g.agg(
      count(lit(1)).cast("long").as("k"),
      sum(col("n_i")).cast("long").as("n"),
      sum(col("s_i").cast("decimal(18,6)")).cast("double").as("s"),
      sum(col("ss_i").cast("decimal(27,6)")).cast("double").as("ss"),
      sum(round(col("s_i") * col("s_i") / col("n_i").cast("double"), 6)
        .cast("decimal(27,6)")).cast("double").as("sb"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val ssb = col("sb") - col("s") * col("s") / nD
    val ssw = col("ss") - col("sb")
    tot.select(col("k"), col("n"),
      round((nD - kD) / (kD - 1) * ssb / ssw, 6).as("f_bf"))
  }

  val leveneOracle: String =
    """WITH med AS (SELECT event_type, median(value) AS med
      |  FROM events GROUP BY 1),
      |z AS (SELECT e.event_type, round(abs(e.value - m.med), 6) AS z
      |  FROM events e JOIN med m ON m.event_type = e.event_type),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
      |    CAST(sum(CAST(z AS DECIMAL(18,6))) AS DOUBLE) AS s_i,
      |    CAST(sum(CAST(round(z*z, 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss_i
      |  FROM z GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n_i) AS BIGINT) AS n,
      |    CAST(sum(CAST(s_i AS DECIMAL(18,6))) AS DOUBLE) AS s,
      |    CAST(sum(CAST(ss_i AS DECIMAL(27,6))) AS DOUBLE) AS ss,
      |    CAST(sum(CAST(round(s_i*s_i/CAST(n_i AS DOUBLE), 6)
      |      AS DECIMAL(27,6))) AS DOUBLE) AS sb
      |  FROM g)
      |SELECT k, n,
      |  round((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))/(CAST(k AS DOUBLE) - 1) *
      |    (sb - s*s/CAST(n AS DOUBLE))/(ss - sb), 6) AS f_bf
      |FROM t""".stripMargin

  /** q_bartlett — Bartlett's likelihood-ratio test across event
    * types: X² = [(N−k)·ln(s_p²) − Σ(n_i−1)·ln(s_i²)] / C with
    * C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)); every variance is
    * 8dp-rounded before ln, per-group terms DECIMAL-summed. */
  def bartlett(s: SparkSession, d: String): DataFrame = {
    val g = events(s, d).groupBy(col("event_type")).agg(
      count(lit(1)).as("n_i"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("s_i"),
      sum(round(col("value") * col("value"), 6).cast("decimal(27,6)"))
        .cast("double").as("ss_i"))
    val nI = col("n_i").cast("double")
    val vI = round((col("ss_i") - col("s_i") * col("s_i") / nI) / (nI - 1), 8)
    val terms = g.select(col("n_i"),
      round((nI - 1) * log(vI), 8).as("nlnv"),
      round((nI - 1) * vI, 6).as("wvar"),
      round(lit(1.0) / (nI - 1), 10).as("inv"))
    val tot = terms.agg(
      count(lit(1)).cast("long").as("k"),
      sum(col("n_i")).cast("long").as("n"),
      sum(col("nlnv").cast("decimal(18,8)")).cast("double").as("s_nlnv"),
      sum(col("wvar").cast("decimal(27,6)")).cast("double").as("s_wvar"),
      sum(col("inv").cast("decimal(18,10)")).cast("double").as("s_inv"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val sp2 = round(col("s_wvar") / (nD - kD), 8)
    val c = lit(1.0) + (col("s_inv") - lit(1.0) / (nD - kD)) / (lit(3.0) * (kD - 1))
    tot.select(col("k"), col("n"),
      round(((nD - kD) * log(sp2) - col("s_nlnv")) / c, 4).as("bartlett"))
  }

  val bartlettOracle: String =
    """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_i,
      |    CAST(sum(CAST(round(value*value, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      AS ss_i
      |  FROM events GROUP BY 1),
      |terms AS (SELECT n_i,
      |    round((CAST(n_i AS DOUBLE) - 1) *
      |      ln(round((ss_i - s_i*s_i/CAST(n_i AS DOUBLE)) /
      |        (CAST(n_i AS DOUBLE) - 1), 8)), 8) AS nlnv,
      |    round((CAST(n_i AS DOUBLE) - 1) *
      |      round((ss_i - s_i*s_i/CAST(n_i AS DOUBLE)) /
      |        (CAST(n_i AS DOUBLE) - 1), 8), 6) AS wvar,
      |    round(1.0/(CAST(n_i AS DOUBLE) - 1), 10) AS inv
      |  FROM g),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n_i) AS BIGINT) AS n,
      |    CAST(sum(CAST(nlnv AS DECIMAL(18,8))) AS DOUBLE) AS s_nlnv,
      |    CAST(sum(CAST(wvar AS DECIMAL(27,6))) AS DOUBLE) AS s_wvar,
      |    CAST(sum(CAST(inv AS DECIMAL(18,10))) AS DOUBLE) AS s_inv
      |  FROM terms)
      |SELECT k, n,
      |  round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) *
      |      ln(round(s_wvar/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 8)) -
      |      s_nlnv) /
      |    (1.0 + (s_inv - 1.0/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) /
      |      (3*(CAST(k AS DOUBLE) - 1))), 4) AS bartlett
      |FROM t""".stripMargin

  /** q_f_test — two-sample variance-ratio F between weekend and
    * weekday values (q_welch_t's split): F = s²_we/s²_wd with both
    * sample variances from one scan's conditional DECIMAL moments. */
  def fTest(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("value"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val m = e.agg(
      count(when(col("we"), lit(1))).as("n_we"),
      count(when(!col("we"), lit(1))).as("n_wd"),
      sum(when(col("we"), col("value")).cast("decimal(18,6)"))
        .cast("double").as("s_we"),
      sum(when(!col("we"), col("value")).cast("decimal(18,6)"))
        .cast("double").as("s_wd"),
      sum(when(col("we"), round(col("value") * col("value"), 6))
        .cast("decimal(27,6)")).cast("double").as("ss_we"),
      sum(when(!col("we"), round(col("value") * col("value"), 6))
        .cast("decimal(27,6)")).cast("double").as("ss_wd"))
    def v(n: String, sx: String, ss: String) = {
      val nD = col(n).cast("double")
      round((col(ss) - col(sx) * col(sx) / nD) / (nD - 1), 8)
    }
    m.select(col("n_we"), col("n_wd"),
      v("n_we", "s_we", "ss_we").as("var_we"),
      v("n_wd", "s_wd", "ss_wd").as("var_wd"),
      round(v("n_we", "s_we", "ss_we") / v("n_wd", "s_wd", "ss_wd"), 6)
        .as("f_ratio"))
  }

  val fTestOracle: String =
    """WITH e AS (SELECT value,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |m AS (SELECT
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS n_we,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS n_wd,
      |    CAST(sum(CAST(CASE WHEN we THEN value END AS DECIMAL(18,6)))
      |      AS DOUBLE) AS s_we,
      |    CAST(sum(CAST(CASE WHEN NOT we THEN value END AS DECIMAL(18,6)))
      |      AS DOUBLE) AS s_wd,
      |    CAST(sum(CAST(CASE WHEN we THEN round(value*value, 6) END
      |      AS DECIMAL(27,6))) AS DOUBLE) AS ss_we,
      |    CAST(sum(CAST(CASE WHEN NOT we THEN round(value*value, 6) END
      |      AS DECIMAL(27,6))) AS DOUBLE) AS ss_wd
      |  FROM e)
      |SELECT n_we, n_wd,
      |  round((ss_we - s_we*s_we/CAST(n_we AS DOUBLE))/(CAST(n_we AS DOUBLE) - 1),
      |    8) AS var_we,
      |  round((ss_wd - s_wd*s_wd/CAST(n_wd AS DOUBLE))/(CAST(n_wd AS DOUBLE) - 1),
      |    8) AS var_wd,
      |  round(round((ss_we - s_we*s_we/CAST(n_we AS DOUBLE)) /
      |      (CAST(n_we AS DOUBLE) - 1), 8) /
      |    round((ss_wd - s_wd*s_wd/CAST(n_wd AS DOUBLE)) /
      |      (CAST(n_wd AS DOUBLE) - 1), 8), 6) AS f_ratio
      |FROM m""".stripMargin

  /** q_var_outlier — the variance-outlier pair beside Levene/
    * Bartlett's omnibus tests: Cochran's C (largest variance's share
    * of the total — is ONE group driving the heterogeneity?) and
    * Hartley's Fmax (max/min variance ratio), both pure algebra over
    * the per-type variance contraction with the offending types
    * named. */
  def varOutlier(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val v = events(s, d).groupBy(col("event_type").as("t")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,2)")).as("sv"),
      sum((col("value") * col("value")).cast("decimal(27,4)")).as("svv"))
      .select(col("t"), col("n"),
        round((f("n") * f("svv") - f("sv") * f("sv"))
          / (f("n") * (f("n") - lit(1.0))), 8).as("s2"))
    val agg = v.agg(count(lit(1)).as("k"),
      sum(col("s2").cast("decimal(27,8)")).as("ssum"),
      max(col("s2")).as("smax"), min(col("s2")).as("smin"),
      expr("max_by(t, s2)").as("t_max"), expr("min_by(t, s2)").as("t_min"))
    agg.select(col("k"), col("t_max"), col("t_min"),
      round(col("smax") / col("ssum").cast("double"), 6).as("cochran_c"),
      round(col("smax") / col("smin"), 6).as("hartley_fmax"))
  }

  val varOutlierOracle: String =
    """WITH v AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(value*value AS DECIMAL(27,4))) AS svv
      |  FROM events GROUP BY 1),
      |s AS (SELECT t, n,
      |    round((CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
      |      - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
      |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8) AS s2
      |  FROM v),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(s2 AS DECIMAL(27,8))) AS ssum,
      |    max(s2) AS smax, min(s2) AS smin,
      |    max_by(t, s2) AS t_max, min_by(t, s2) AS t_min
      |  FROM s)
      |SELECT k, t_max, t_min,
      |  round(smax/CAST(ssum AS DOUBLE), 6) AS cochran_c,
      |  round(smax/smin, 6) AS hartley_fmax
      |FROM agg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_levene" -> (levene _),
    "q_bartlett" -> (bartlett _),
    "q_f_test" -> (fTest _),
    "q_var_outlier" -> (varOutlier _))

  val oracle: Map[String, String] = Map(
    "q_levene" -> leveneOracle,
    "q_bartlett" -> bartlettOracle,
    "q_f_test" -> fTestOracle,
    "q_var_outlier" -> varOutlierOracle)
}
