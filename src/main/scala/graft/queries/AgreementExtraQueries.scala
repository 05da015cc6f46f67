package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #89: measurement-agreement completions beside
  * MatchedRanksQueries' ICC / weighted-kappa shelf — Fleiss' kappa
  * for n>2 raters, Lin's concordance correlation coefficient, and
  * Bland–Altman limits of agreement.
  *
  * Framing on this schema: Fleiss treats each calendar day as a
  * subject and the day's first 20 events (by event_id) as 20 raters
  * assigning one of the event-type categories; Lin/Bland–Altman pair
  * the order header's `o_totalprice` with the order's summed line
  * revenue — two measurements of the same order's value.
  *
  * Scale notes (100 TB): the Fleiss rater window partitions by day
  * (bounded ≤ the day's arrival count, rank-limited to 20 — Spark
  * inserts WindowGroupLimit, no global funnel); everything after is
  * a chain of keyed contractions over the tiny (day × type) grid.
  * Lin/BA are single-scan decimal moment folds over the order join
  * (map-side combinable) with a 1-row broadcast back for the
  * outside-limits recount.
  *
  * Determinism (D1–D5): Fleiss' per-subject agreement numerators are
  * EXACT integers (Σn²−n over the 20·19 constant denominator);
  * category shares round at 10dp before squaring; CCC and the BA
  * limits come off exact DECIMAL moment sums with house 8dp rounds
  * before any sqrt. */
object AgreementExtraQueries extends QueryFamily {

  private val NR = 20 // raters per subject (first NR events of a day)

  /** q_fleiss_kappa — multi-rater chance-corrected agreement over
    * day-subjects × event-type categories. */
  def fleissKappa(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("day")).orderBy(col("event_id"))
    // ≤NR-per-day panel feeds the complete-day filter and the cell
    // grid — materialize once (round-8 scan gate: was 6 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val rated = events(s, d)
      .select(to_date(col("ts2")).as("day"), col("event_id"),
        col("event_type").as("cat"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NR)
      .truncatedCheckpoint()
    val fullDays = rated.groupBy(col("day"))
      .agg(count(lit(1)).as("nr")).filter(col("nr") === NR)
      .select(col("day"))
    val nij = rated.join(fullDays, "day")
      .groupBy(col("day"), col("cat")).agg(count(lit(1)).as("nij"))
    // per-subject numerator Σj nij² − n (exact integers)
    val perSubj = nij.groupBy(col("day"))
      .agg((sum(col("nij") * col("nij")) - NR).as("pi_num"))
    val tot = perSubj.agg(count(lit(1)).as("n_subjects"),
      sum(col("pi_num")).as("sum_pi_num"))
    val sj = nij.groupBy(col("cat")).agg(sum(col("nij")).as("sj"))
    val pe = sj.crossJoin(broadcast(tot))
      .select(round(col("sj").cast("double")
        / (col("n_subjects") * NR).cast("double"), 10).as("pj"))
      .agg(sum(round(col("pj") * col("pj"), 12).cast("decimal(18,12)"))
        .cast("double").as("pe_raw"))
      .select(round(col("pe_raw"), 10).as("pe"))
    tot.crossJoin(broadcast(pe))
      .select(col("n_subjects"), lit(NR).as("n_raters"),
        round(col("sum_pi_num").cast("double")
          / (col("n_subjects").cast("double") * (NR * (NR - 1)).toDouble),
          10).as("p_bar"),
        col("pe"))
      .select(col("n_subjects"), col("n_raters"), col("p_bar"), col("pe"),
        round((col("p_bar") - col("pe")) / (lit(1.0) - col("pe")), 8)
          .as("kappa"))
  }

  val fleissKappaOracle: String =
    s"""WITH rated AS (
       |  SELECT CAST(ts AS DATE) AS day, event_id, event_type AS cat,
       |    row_number() OVER (PARTITION BY CAST(ts AS DATE)
       |      ORDER BY event_id) AS rn
       |  FROM events),
       |kept AS (SELECT day, cat FROM rated WHERE rn <= $NR),
       |full_days AS (SELECT day FROM kept GROUP BY day
       |  HAVING count(*) = $NR),
       |nij AS (SELECT k.day, cat, CAST(count(*) AS BIGINT) AS nij
       |  FROM kept k JOIN full_days f ON f.day = k.day
       |  GROUP BY k.day, cat),
       |per_subj AS (SELECT day,
       |    CAST(sum(nij*nij) - $NR AS BIGINT) AS pi_num
       |  FROM nij GROUP BY day),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
       |    CAST(sum(pi_num) AS BIGINT) AS sum_pi_num FROM per_subj),
       |sj AS (SELECT cat, CAST(sum(nij) AS BIGINT) AS sj
       |  FROM nij GROUP BY cat),
       |pe AS (SELECT round(CAST(sum(CAST(round(pj*pj, 12)
       |      AS DECIMAL(18,12))) AS DOUBLE), 10) AS pe
       |  FROM (SELECT round(CAST(sj AS DOUBLE)
       |      /(CAST(n_subjects AS DOUBLE)*$NR), 10) AS pj
       |    FROM sj, tot)),
       |pb AS (SELECT n_subjects, CAST($NR AS INT) AS n_raters,
       |    round(CAST(sum_pi_num AS DOUBLE)
       |      /(CAST(n_subjects AS DOUBLE)*${NR * (NR - 1)}.0), 10)
       |      AS p_bar, pe
       |  FROM tot, pe)
       |SELECT n_subjects, n_raters, p_bar, pe,
       |  round((p_bar - pe)/(1.0 - pe), 8) AS kappa
       |FROM pb""".stripMargin

  /** Paired order-value measurements: header total vs summed line
    * revenue (shared by CCC and Bland–Altman). */
  private def pairs(s: SparkSession, d: String): DataFrame = {
    val lsum = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double").as("y"))
    orders(s, d).select(col("o_orderkey"), col("o_totalprice").as("x"))
      .join(lsum, col("o_orderkey") === col("l_orderkey"))
      .select(round(col("x"), 2).as("x"), round(col("y"), 2).as("y"))
  }

  private val pairsSql: String =
    """SELECT round(o_totalprice, 2) AS x, round(y, 2) AS y
      |FROM orders JOIN (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      |  FROM lineitem GROUP BY l_orderkey) l
      |ON l_orderkey = o_orderkey""".stripMargin

  private def moments(p: DataFrame): DataFrame = p.agg(
    count(lit(1)).as("n"),
    sum(col("x").cast("decimal(18,2)")).as("sx"),
    sum(col("y").cast("decimal(18,2)")).as("sy"),
    sum((col("x") * col("x")).cast("decimal(27,4)")).as("sxx"),
    sum((col("y") * col("y")).cast("decimal(27,4)")).as("syy"),
    sum((col("x") * col("y")).cast("decimal(27,4)")).as("sxy"))

  private val momentsSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
       |  sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |  sum(CAST(y AS DECIMAL(18,2))) AS sy,
       |  sum(CAST(x*x AS DECIMAL(27,4))) AS sxx,
       |  sum(CAST(y*y AS DECIMAL(27,4))) AS syy,
       |  sum(CAST(x*y AS DECIMAL(27,4))) AS sxy
       |FROM ($pairsSql) p""".stripMargin

  /** q_lin_ccc — Lin's concordance correlation: 2s_xy /
    * (s_x² + s_y² + (μx−μy)²), with Pearson r beside it for the
    * precision/accuracy decomposition. */
  def linCcc(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val mx = round(f("sx") / nD, 8)
    val my = round(f("sy") / nD, 8)
    val vx = round(f("sxx") / nD - mx * mx, 8)
    val vy = round(f("syy") / nD - my * my, 8)
    val cxy = round(f("sxy") / nD - mx * my, 8)
    moments(pairs(s, d)).select(col("n"), mx.as("mean_x"), my.as("mean_y"),
      round(cxy / sqrt(vx * vy), 8).as("pearson_r"),
      round(lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my)), 8)
        .as("ccc"))
  }

  val linCccOracle: String =
    s"""WITH m AS ($momentsSql),
       |t AS (SELECT n,
       |    round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mx,
       |    round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8) AS my,
       |    round(CAST(sxx AS DOUBLE)/CAST(n AS DOUBLE)
       |      - round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8)
       |        * round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8), 8) AS vx,
       |    round(CAST(syy AS DOUBLE)/CAST(n AS DOUBLE)
       |      - round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8)
       |        * round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8), 8) AS vy,
       |    round(CAST(sxy AS DOUBLE)/CAST(n AS DOUBLE)
       |      - round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 8)
       |        * round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 8), 8) AS cxy
       |  FROM m)
       |SELECT n, mx AS mean_x, my AS mean_y,
       |  round(cxy/sqrt(vx*vy), 8) AS pearson_r,
       |  round(2.0*cxy/(vx + vy + (mx - my)*(mx - my)), 8) AS ccc
       |FROM t""".stripMargin

  /** q_bland_altman — limits of agreement for the paired order-value
    * measurements: mean difference ± 1.96·sd plus the count of orders
    * outside the limits (1-row broadcast recount). */
  def blandAltman(s: SparkSession, d: String): DataFrame = {
    val p = pairs(s, d).select(round(col("x") - col("y"), 2).as("dd"))
    val m = p.agg(count(lit(1)).as("n"),
      sum(col("dd").cast("decimal(18,2)")).as("sd_sum"),
      sum((col("dd") * col("dd")).cast("decimal(27,4)")).as("sdd"))
    def f(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val md = round(f("sd_sum") / nD, 8)
    val sdev = round(sqrt(round((nD * f("sdd") - f("sd_sum") * f("sd_sum"))
      / (nD * (nD - lit(1.0))), 8)), 8)
    val lim = m.select(col("n"), md.as("mean_diff"), sdev.as("sd_diff"),
      round(md - lit(1.96) * sdev, 6).as("loa_lo"),
      round(md + lit(1.96) * sdev, 6).as("loa_hi"))
    p.crossJoin(broadcast(lim))
      .groupBy(col("n"), col("mean_diff"), col("sd_diff"),
        col("loa_lo"), col("loa_hi"))
      .agg(count(when(col("dd") < col("loa_lo"), lit(1))).as("n_below"),
        count(when(col("dd") > col("loa_hi"), lit(1))).as("n_above"))
  }

  val blandAltmanOracle: String =
    s"""WITH p AS (SELECT round(x - y, 2) AS dd FROM ($pairsSql) q),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(dd AS DECIMAL(18,2))) AS sd_sum,
       |    sum(CAST(dd*dd AS DECIMAL(27,4))) AS sdd
       |  FROM p),
       |lim AS (SELECT n,
       |    round(CAST(sd_sum AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mean_diff,
       |    round(sqrt(round((CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
       |      - CAST(sd_sum AS DOUBLE)*CAST(sd_sum AS DOUBLE))
       |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8)), 8)
       |      AS sd_diff
       |  FROM m)
       |SELECT n, mean_diff, sd_diff,
       |  round(mean_diff - 1.96*sd_diff, 6) AS loa_lo,
       |  round(mean_diff + 1.96*sd_diff, 6) AS loa_hi,
       |  (SELECT count(*) FROM p
       |    WHERE dd < round(mean_diff - 1.96*sd_diff, 6)) AS n_below,
       |  (SELECT count(*) FROM p
       |    WHERE dd > round(mean_diff + 1.96*sd_diff, 6)) AS n_above
       |FROM lim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fleiss_kappa" -> (fleissKappa _),
    "q_lin_ccc" -> (linCcc _),
    "q_bland_altman" -> (blandAltman _))

  val oracle: Map[String, String] = Map(
    "q_fleiss_kappa" -> fleissKappaOracle,
    "q_lin_ccc" -> linCccOracle,
    "q_bland_altman" -> blandAltmanOracle)
}
