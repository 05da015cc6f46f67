package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #100: stratified 2×2 categorical inference — the
  * Cochran–Mantel–Haenszel common-association test, the
  * Mantel–Haenszel pooled odds ratio, and Woolf's heterogeneity test
  * across strata (does the association differ BY stratum?) — the
  * confounder-adjusted counterpart to q_chi2 / q_odds_ratio.
  *
  * Setup: region-stratified association between weekend ordering and
  * urgent priority. Five strata, each a 2×2 of exact counts.
  *
  * Scale notes (100 TB): one pass contracts orders (through the
  * broadcast customer→nation→region dimension chain) to the
  * |regions|×4 cell grid; every statistic is scalar algebra over
  * that bounded grid — the expensive part is a single
  * map-side-combinable keyed aggregation no matter the fact size.
  *
  * Determinism (D1–D5): cell counts exact BIGINT; per-stratum terms
  * evaluate as doubles in one spelled-out expression order, round at
  * 8–10dp, and fold as exact decimal sums; Haldane +0.5 keeps
  * Woolf's ln finite on zero cells; final statistics at 6dp. */
object StrataTestQueries extends QueryFamily {

  /** (region, a, b, c, d, n): a=weekend∧urgent, b=weekend∧other,
    * c=weekday∧urgent, d=weekday∧other. */
  private def cells(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .join(broadcast(nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    orders(s, d)
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("r_name"),
        dayofweek(to_date(col("o_orderdate"))).isin(1, 7).as("wknd"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("urg"))
      .groupBy(col("r_name")).agg(
        count(when(col("wknd") && col("urg"), lit(1))).as("a"),
        count(when(col("wknd") && !col("urg"), lit(1))).as("b"),
        count(when(!col("wknd") && col("urg"), lit(1))).as("c"),
        count(when(!col("wknd") && !col("urg"), lit(1))).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
  }

  private val cellsSql: String =
    """cells AS (SELECT r_name,
      |    CAST(count(CASE WHEN wknd AND urg THEN 1 END) AS BIGINT) AS a,
      |    CAST(count(CASE WHEN wknd AND NOT urg THEN 1 END) AS BIGINT)
      |      AS b,
      |    CAST(count(CASE WHEN NOT wknd AND urg THEN 1 END) AS BIGINT)
      |      AS c,
      |    CAST(count(CASE WHEN NOT wknd AND NOT urg THEN 1 END)
      |      AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT r_name,
      |      (dayofweek(CAST(o_orderdate AS DATE)) + 1) IN (1, 7) AS wknd,
      |      o_orderpriority IN ('1-URGENT', '2-HIGH') AS urg
      |    FROM orders
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey) x
      |  GROUP BY r_name)""".stripMargin

  /** q_cmh — the CMH common-association statistic:
    * (Σ(a − E[a]))² / ΣVar(a) over the region strata. */
  def cmh(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val e = round(f("a") - (f("a") + f("b")) * (f("a") + f("c")) / f("n"), 10)
    val v = round((f("a") + f("b")) * (f("c") + f("d"))
      * (f("a") + f("c")) * (f("b") + f("d"))
      / (f("n") * f("n") * (f("n") - lit(1.0))), 10)
    cells(s, d)
      .select(e.cast("decimal(27,10)").as("et"),
        v.cast("decimal(27,10)").as("vt"))
      .agg(count(lit(1)).as("k"),
        round(sum(col("et")).cast("double"), 8).as("sum_dev"),
        round(sum(col("vt")).cast("double"), 8).as("sum_var"))
      .select(col("k"), col("sum_dev"), col("sum_var"),
        round(col("sum_dev") * col("sum_dev") / col("sum_var"), 6)
          .as("cmh_stat"))
  }

  val cmhOracle: String =
    s"""WITH $cellsSql,
       |terms AS (SELECT
       |    CAST(round(CAST(a AS DOUBLE)
       |      - (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
       |        *(CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
       |        /CAST(n AS DOUBLE), 10) AS DECIMAL(27,10)) AS et,
       |    CAST(round((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
       |      *(CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
       |      *(CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
       |      *(CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
       |      /(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)
       |        *(CAST(n AS DOUBLE) - 1.0)), 10) AS DECIMAL(27,10)) AS vt
       |  FROM cells),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    round(CAST(sum(et) AS DOUBLE), 8) AS sum_dev,
       |    round(CAST(sum(vt) AS DOUBLE), 8) AS sum_var
       |  FROM terms)
       |SELECT k, sum_dev, sum_var,
       |  round(sum_dev*sum_dev/sum_var, 6) AS cmh_stat
       |FROM agg""".stripMargin

  /** q_mh_odds — Mantel–Haenszel pooled odds ratio:
    * Σ(ad/n) / Σ(bc/n), with its log beside it. */
  def mhOdds(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    cells(s, d)
      .select(round(f("a") * f("d") / f("n"), 10)
          .cast("decimal(27,10)").as("rt"),
        round(f("b") * f("c") / f("n"), 10)
          .cast("decimal(27,10)").as("st"))
      .agg(round(sum(col("rt")).cast("double"), 8).as("sum_r"),
        round(sum(col("st")).cast("double"), 8).as("sum_s"))
      .select(col("sum_r"), col("sum_s"),
        round(col("sum_r") / col("sum_s"), 6).as("or_mh"),
        round(log(round(col("sum_r") / col("sum_s"), 10)), 6)
          .as("ln_or_mh"))
  }

  val mhOddsOracle: String =
    s"""WITH $cellsSql,
       |terms AS (SELECT
       |    CAST(round(CAST(a AS DOUBLE)*CAST(d AS DOUBLE)
       |      /CAST(n AS DOUBLE), 10) AS DECIMAL(27,10)) AS rt,
       |    CAST(round(CAST(b AS DOUBLE)*CAST(c AS DOUBLE)
       |      /CAST(n AS DOUBLE), 10) AS DECIMAL(27,10)) AS st
       |  FROM cells),
       |agg AS (SELECT round(CAST(sum(rt) AS DOUBLE), 8) AS sum_r,
       |    round(CAST(sum(st) AS DOUBLE), 8) AS sum_s
       |  FROM terms)
       |SELECT sum_r, sum_s,
       |  round(sum_r/sum_s, 6) AS or_mh,
       |  round(ln(round(sum_r/sum_s, 10)), 6) AS ln_or_mh
       |FROM agg""".stripMargin

  /** q_woolf — Woolf's heterogeneity test with Haldane +0.5:
    * X² = Σw·lnOR² − (Σw·lnOR)²/Σw over per-stratum log odds. */
  def woolf(s: SparkSession, d: String): DataFrame = {
    def h(c: String) = col(c).cast("double") + lit(0.5)
    val lor = round(log(round(h("a") * h("d") / (h("b") * h("c")), 10)), 8)
    val wgt = round(lit(1.0) / (lit(1.0) / h("a") + lit(1.0) / h("b")
      + lit(1.0) / h("c") + lit(1.0) / h("d")), 8)
    cells(s, d)
      .select(round(wgt, 8).cast("decimal(27,8)").as("w"),
        round(wgt * lor, 8).cast("decimal(27,8)").as("wl"),
        round(wgt * lor * lor, 8).cast("decimal(27,8)").as("wll"))
      .agg(count(lit(1)).as("k"),
        round(sum(col("w")).cast("double"), 8).as("sw"),
        round(sum(col("wl")).cast("double"), 8).as("swl"),
        round(sum(col("wll")).cast("double"), 8).as("swll"))
      .select(col("k"),
        round(col("swl") / col("sw"), 6).as("pooled_lnor"),
        round(col("swll") - col("swl") * col("swl") / col("sw"), 6)
          .as("x2_woolf"))
  }

  val woolfOracle: String =
    s"""WITH $cellsSql,
       |lo AS (SELECT
       |    round(ln(round((CAST(a AS DOUBLE) + 0.5)
       |      *(CAST(d AS DOUBLE) + 0.5)
       |      /((CAST(b AS DOUBLE) + 0.5)*(CAST(c AS DOUBLE) + 0.5)),
       |      10)), 8) AS lor,
       |    round(1.0/(1.0/(CAST(a AS DOUBLE) + 0.5)
       |      + 1.0/(CAST(b AS DOUBLE) + 0.5)
       |      + 1.0/(CAST(c AS DOUBLE) + 0.5)
       |      + 1.0/(CAST(d AS DOUBLE) + 0.5)), 8) AS wgt
       |  FROM cells),
       |terms AS (SELECT
       |    CAST(round(wgt, 8) AS DECIMAL(27,8)) AS w,
       |    CAST(round(wgt*lor, 8) AS DECIMAL(27,8)) AS wl,
       |    CAST(round(wgt*lor*lor, 8) AS DECIMAL(27,8)) AS wll
       |  FROM lo),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    round(CAST(sum(w) AS DOUBLE), 8) AS sw,
       |    round(CAST(sum(wl) AS DOUBLE), 8) AS swl,
       |    round(CAST(sum(wll) AS DOUBLE), 8) AS swll
       |  FROM terms)
       |SELECT k,
       |  round(swl/sw, 6) AS pooled_lnor,
       |  round(swll - swl*swl/sw, 6) AS x2_woolf
       |FROM agg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cmh" -> (cmh _),
    "q_mh_odds" -> (mhOdds _),
    "q_woolf" -> (woolf _))

  val oracle: Map[String, String] = Map(
    "q_cmh" -> cmhOracle,
    "q_mh_odds" -> mhOddsOracle,
    "q_woolf" -> woolfOracle)
}
