package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #53: measurement-reliability and
  * distribution-distance statistics — Cronbach's alpha (internal
  * consistency of a k-item scale), the first-order partial
  * correlation (the controlled-for version of q_corr), and the
  * f-divergence panel (total variation, Bhattacharyya coefficient/
  * distance, Hellinger) between two categorical distributions.
  *
  * Scale notes (100 TB): cronbach and partial-corr are single-scan
  * moment contractions on lineitem (one map-side-combined aggregate
  * row, scalar algebra after); the divergence panel contracts events
  * to a |event_type|-row count table (one keyed shuffle), computes
  * 8dp shares against broadcast 1-row totals, and folds five term
  * rows into the scalar panel. Nothing retains raw rows.
  *
  * Determinism: product moments travel as direct DECIMAL(27,6) casts
  * (half-up at 6dp — no per-row round() first; the q_linreg2 form,
  * D1); variances/shares/ratios round at 8dp before sqrt or ln;
  * outputs at 4–6dp (D2).
  */
object ReliabilityQueries extends QueryFamily {

  /** q_cronbach — Cronbach's alpha over the k=3 item scale
    * (l_quantity, l_discount, l_tax): α = k/(k−1) · (1 − Σs²_i/s²_t)
    * with every variance from one scan's DECIMAL moments (items and
    * their row-total measured in the same pass). */
  def cronbach(s: SparkSession, d: String): DataFrame = {
    val t = lineitem(s, d).select(
      col("l_quantity").as("x1"), col("l_discount").as("x2"),
      col("l_tax").as("x3"),
      (col("l_quantity") + col("l_discount") + col("l_tax")).as("xt"))
    // Direct decimal cast: cast(decimal(27,6)) already half-up rounds
    // at 6dp, so a per-row round(x, 6) first is a redundant BigDecimal
    // trip (the q_linreg2 form, proven hash-identical cross-engine).
    def mom(c: String) = Seq(
      sum(col(c).cast("decimal(18,6)")).cast("double").as(s"s_$c"),
      sum((col(c) * col(c)).cast("decimal(27,6)"))
        .cast("double").as(s"ss_$c"))
    val mm = t.agg(count(lit(1)).as("n"),
      mom("x1")(0), mom("x1")(1), mom("x2")(0), mom("x2")(1),
      mom("x3")(0), mom("x3")(1), mom("xt")(0), mom("xt")(1))
    val nD = col("n").cast("double")
    def v(c: String) =
      round((col(s"ss_$c") - col(s"s_$c") * col(s"s_$c") / nD) / (nD - 1), 8)
    val itemVar = v("x1") + v("x2") + v("x3")
    mm.select(col("n"),
      round(itemVar, 6).as("sum_item_var"),
      v("xt").as("total_var"),
      // + 0.0 normalizes IEEE −0.0 (sf0.1 rounds alpha to exactly
      // zero from below; DuckDB renders −0.0, Spark 0.0)
      (round(lit(1.5) * (lit(1.0) - itemVar / v("xt")), 4) + lit(0.0))
        .as("alpha"))
  }

  val cronbachOracle: String =
    """WITH t AS (SELECT l_quantity AS x1, l_discount AS x2, l_tax AS x3,
      |    l_quantity + l_discount + l_tax AS xt FROM lineitem),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x1 AS DECIMAL(18,6))) AS DOUBLE) AS s_x1,
      |    CAST(sum(CAST(x1*x1 AS DECIMAL(27,6))) AS DOUBLE) AS ss_x1,
      |    CAST(sum(CAST(x2 AS DECIMAL(18,6))) AS DOUBLE) AS s_x2,
      |    CAST(sum(CAST(x2*x2 AS DECIMAL(27,6))) AS DOUBLE) AS ss_x2,
      |    CAST(sum(CAST(x3 AS DECIMAL(18,6))) AS DOUBLE) AS s_x3,
      |    CAST(sum(CAST(x3*x3 AS DECIMAL(27,6))) AS DOUBLE) AS ss_x3,
      |    CAST(sum(CAST(xt AS DECIMAL(18,6))) AS DOUBLE) AS s_xt,
      |    CAST(sum(CAST(xt*xt AS DECIMAL(27,6))) AS DOUBLE) AS ss_xt
      |  FROM t),
      |v AS (SELECT n,
      |    round((ss_x1 - s_x1*s_x1/n)/(n - 1.0), 8) AS v1,
      |    round((ss_x2 - s_x2*s_x2/n)/(n - 1.0), 8) AS v2,
      |    round((ss_x3 - s_x3*s_x3/n)/(n - 1.0), 8) AS v3,
      |    round((ss_xt - s_xt*s_xt/n)/(n - 1.0), 8) AS vt
      |  FROM m)
      |SELECT n, round(v1 + v2 + v3, 6) AS sum_item_var, vt AS total_var,
      |  round(1.5 * (1.0 - (v1 + v2 + v3)/vt), 4) + 0.0 AS alpha
      |FROM v""".stripMargin

  /** q_partial_corr — first-order partial correlation of quantity and
    * extended price controlling for discount:
    * r_xy.z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)), each
    * pairwise r from the same single-scan DECIMAL moment row,
    * 8dp-rounded before composition. */
  def partialCorr(s: SparkSession, d: String): DataFrame = {
    val t = lineitem(s, d).select(col("l_quantity").as("x"),
      col("l_extendedprice").as("y"), col("l_discount").as("z"))
    val m = t.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
      sum(col("z").cast("decimal(18,6)")).cast("double").as("sz"),
      // Direct decimal cast (no per-row round first) — see cronbach.
      sum((col("x") * col("x")).cast("decimal(27,6)"))
        .cast("double").as("sxx"),
      sum((col("y") * col("y")).cast("decimal(27,6)"))
        .cast("double").as("syy"),
      sum((col("z") * col("z")).cast("decimal(27,6)"))
        .cast("double").as("szz"),
      sum((col("x") * col("y")).cast("decimal(27,6)"))
        .cast("double").as("sxy"),
      sum((col("x") * col("z")).cast("decimal(27,6)"))
        .cast("double").as("sxz"),
      sum((col("y") * col("z")).cast("decimal(27,6)"))
        .cast("double").as("syz"))
    val nD = col("n").cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      round((nD * col(sab) - col(sa) * col(sb)) /
        sqrt((nD * col(saa) - col(sa) * col(sa)) *
          (nD * col(sbb) - col(sb) * col(sb))), 8)
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    m.select(col("n"), rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
      round((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 4)
        .as("r_xy_z"))
  }

  val partialCorrOracle: String =
    """WITH t AS (SELECT l_quantity AS x, l_extendedprice AS y,
      |    l_discount AS z FROM lineitem),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(z AS DECIMAL(18,6))) AS DOUBLE) AS sz,
      |    CAST(sum(CAST(x*x AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(y*y AS DECIMAL(27,6))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(z*z AS DECIMAL(27,6))) AS DOUBLE) AS szz,
      |    CAST(sum(CAST(x*y AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x*z AS DECIMAL(27,6))) AS DOUBLE) AS sxz,
      |    CAST(sum(CAST(y*z AS DECIMAL(27,6))) AS DOUBLE) AS syz
      |  FROM t),
      |r AS (SELECT n,
      |    round((n*sxy - sx*sy)/sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)), 8)
      |      AS r_xy,
      |    round((n*sxz - sx*sz)/sqrt((n*sxx - sx*sx)*(n*szz - sz*sz)), 8)
      |      AS r_xz,
      |    round((n*syz - sy*sz)/sqrt((n*syy - sy*sy)*(n*szz - sz*sz)), 8)
      |      AS r_yz
      |  FROM m)
      |SELECT n, r_xy, r_xz, r_yz,
      |  round((r_xy - r_xz*r_yz)/sqrt((1.0 - r_xz*r_xz)*(1.0 - r_yz*r_yz)), 4)
      |    AS r_xy_z
      |FROM r""".stripMargin

  /** q_hellinger — the f-divergence panel between weekend and weekday
    * event-type distributions: total variation ½Σ|p−q|, Bhattacharyya
    * coefficient Σ√(p·q) and distance −ln BC, Hellinger √(1−BC) —
    * per-type terms on the contracted |event_type|-row table,
    * DECIMAL-summed across the bounded type domain. */
  def hellinger(s: SparkSession, d: String): DataFrame = {
    val typed = events(s, d).select(col("event_type"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val counts = typed.groupBy(col("event_type")).agg(
      count(when(col("we"), lit(1))).as("c_we"),
      count(when(!col("we"), lit(1))).as("c_wd"))
    val tot = counts.agg(sum(col("c_we")).as("t_we"),
      sum(col("c_wd")).as("t_wd"))
    val terms = counts.crossJoin(broadcast(tot)).select(
      round(col("c_we").cast("double") / col("t_we").cast("double"), 8)
        .as("p"),
      round(col("c_wd").cast("double") / col("t_wd").cast("double"), 8)
        .as("q"))
      .select(round(abs(col("p") - col("q")), 8).as("ad"),
        round(sqrt(round(col("p") * col("q"), 10)), 8).as("sq"))
    val panel = terms.agg(
      sum(col("ad").cast("decimal(18,8)")).cast("double").as("s_ad"),
      sum(col("sq").cast("decimal(18,8)")).cast("double").as("bc_raw"))
    panel.select(
      round(col("s_ad") / 2, 6).as("tvd"),
      round(col("bc_raw"), 6).as("bc"),
      round(-log(round(col("bc_raw"), 8)), 6).as("bhattacharyya"),
      round(sqrt(round(lit(1.0) - col("bc_raw"), 8)), 6).as("hellinger"))
  }

  val hellingerOracle: String =
    """WITH typed AS (SELECT event_type,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |counts AS (SELECT event_type,
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS c_we,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS c_wd
      |  FROM typed GROUP BY 1),
      |tot AS (SELECT sum(c_we) AS t_we, sum(c_wd) AS t_wd FROM counts),
      |terms AS (SELECT
      |    round(abs(round(CAST(c_we AS DOUBLE)/t_we, 8)
      |      - round(CAST(c_wd AS DOUBLE)/t_wd, 8)), 8) AS ad,
      |    round(sqrt(round(round(CAST(c_we AS DOUBLE)/t_we, 8)
      |      * round(CAST(c_wd AS DOUBLE)/t_wd, 8), 10)), 8) AS sq
      |  FROM counts CROSS JOIN tot),
      |panel AS (SELECT
      |    CAST(sum(CAST(ad AS DECIMAL(18,8))) AS DOUBLE) AS s_ad,
      |    CAST(sum(CAST(sq AS DECIMAL(18,8))) AS DOUBLE) AS bc_raw
      |  FROM terms)
      |SELECT round(s_ad/2, 6) AS tvd, round(bc_raw, 6) AS bc,
      |  round(-ln(round(bc_raw, 8)), 6) AS bhattacharyya,
      |  round(sqrt(round(1.0 - bc_raw, 8)), 6) AS hellinger
      |FROM panel""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cronbach" -> (cronbach _),
    "q_partial_corr" -> (partialCorr _),
    "q_hellinger" -> (hellinger _))

  val oracle: Map[String, String] = Map(
    "q_cronbach" -> cronbachOracle,
    "q_partial_corr" -> partialCorrOracle,
    "q_hellinger" -> hellingerOracle)
}
