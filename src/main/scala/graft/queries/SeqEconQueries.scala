package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #10: sequence mining, econometrics, and
  * distributional text statistics — event-type trigram mining,
  * log-log price elasticity, XYZ demand-variability classes,
  * Good–Turing frequency-of-frequencies, and token burstiness.
  *
  * Scale notes (100 TB): trigrams come from per-user lead() windows
  * (parallel across users) and contract to a ≤|types|³ count table;
  * elasticity joins the broadcast part dim and reduces to per-brand
  * decimal sufficient statistics; XYZ contracts to per-(part, week)
  * demand first; frequency-of-frequencies is two successive
  * contractions (token → count r, then r → N_r — the second domain
  * is tiny) with a self-join on r+1 for the Good–Turing estimate;
  * burstiness reduces per-(token, doc) counts to per-token moments.
  * No global windows anywhere.
  *
  * Determinism: counts exact; ln on 8dp-rounded ratios (q_zipf
  * precedent); variances from exact decimal sums; every ratio
  * rounded at a fixed scale.
  */
object SeqEconQueries extends QueryFamily {

  /** q_seq_trigram — behavioral trigram mining: each user's
    * time-ordered event-type sequence yields overlapping trigrams
    * (lead windows per user); global support counts and shares over
    * the ≤|types|³ pattern space. */
  def seqTrigram(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts2"), col("event_id"))
    val tri = events(s, d)
      .select(col("user_id"), col("ts2"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .where(col("e3").isNotNull)
    val counts = tri.groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("e1"), col("e2"), col("e3"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("share"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
  }

  val seqTrigramOracle: String =
    """WITH seq AS (SELECT user_id, event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |counts AS (SELECT e1, e2, e3, count(*) AS n FROM seq
      |  WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts)
      |SELECT e1, e2, e3, n,
      |  round(CAST(n AS DOUBLE)/tot.n_total, 6) AS share
      |FROM counts CROSS JOIN tot
      |ORDER BY n DESC, e1, e2, e3""".stripMargin

  /** q_elasticity — log-log price elasticity of demand per brand:
    * ln(quantity) regressed on ln(unit price) with exact DECIMAL
    * sufficient statistics over the broadcast part-dim join (the
    * textbook d ln q / d ln p estimate). */
  def elasticity(s: SparkSession, d: String): DataFrame = {
    val pts = lineitem(s, d)
      // no broadcast hint on the SF-proportional part dim
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(log(col("l_extendedprice") / col("l_quantity")), 8).as("x"),
        round(log(col("l_quantity")), 8).as("y"))
    pts.groupBy(col("p_brand")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,8)")).as("sx"),
        sum(col("y").cast("decimal(20,8)")).as("sy"),
        sum(dec6(col("x") * col("x"))).as("sxx"),
        sum(dec6(col("x") * col("y"))).as("sxy"))
      .select(col("p_brand"), col("n"),
        round(dout(col("n") * col("sxy") - col("sx") * col("sy")) /
          dout(col("n") * col("sxx") - col("sx") * col("sx")), 4)
          .as("elasticity"))
      .orderBy(col("p_brand"))
  }

  val elasticityOracle: String =
    """WITH pts AS (SELECT p.p_brand,
      |    round(ln(l.l_extendedprice / l.l_quantity), 8) AS x,
      |    round(ln(l.l_quantity), 8) AS y
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |stat AS (SELECT p_brand, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(20,8))) AS sx,
      |    sum(CAST(y AS DECIMAL(20,8))) AS sy,
      |    sum(CAST(x*x AS DECIMAL(18,6))) AS sxx,
      |    sum(CAST(x*y AS DECIMAL(18,6))) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT p_brand, n,
      |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
      |    CAST(n*sxx - sx*sx AS DOUBLE), 4) AS elasticity
      |FROM stat ORDER BY p_brand""".stripMargin

  /** q_xyz_class — XYZ demand-variability classification per part:
    * coefficient of variation of weekly shipped quantity (population
    * std over the observed weeks / mean), classed X (steady, cv<0.25),
    * Y (variable, cv<0.5), Z (erratic). The inventory-planning
    * companion to q_pareto's ABC revenue classes. */
  def xyzClass(s: SparkSession, d: String): DataFrame = {
    val weekly = lineitem(s, d)
      .groupBy(col("l_partkey"),
        date_trunc("week", col("l_shipdate")).cast("date").as("wk"))
      .agg(sum(dec(col("l_quantity"))).as("q"))
    val stats = weekly.groupBy(col("l_partkey")).agg(
        count(lit(1)).as("n_weeks"),
        sum(col("q")).as("sq"),
        sum(dec6(col("q") * col("q"))).as("sqq"))
      .select(col("l_partkey"), col("n_weeks"),
        round(dout(col("sq")) / col("n_weeks"), 6).as("mean_q"),
        // greatest(…, 0): a constant weekly series can land at −1e-12
        // in double — sqrt would emit NaN in both engines, but NaN
        // equality is representation-dependent downstream
        round(
          sqrt(greatest((dout(col("sqq")) - dout(col("sq") * col("sq")) /
            col("n_weeks")) / col("n_weeks"), lit(0.0))), 6).as("std_q"))
    stats
      .withColumn("cv", round(col("std_q") / col("mean_q"), 6))
      .withColumn("xyz", when(col("cv") < 0.25, "X")
        .when(col("cv") < 0.5, "Y").otherwise("Z"))
      .select(col("l_partkey"), col("n_weeks"), col("mean_q"),
        col("cv"), col("xyz"))
      .orderBy(col("l_partkey"))
  }

  val xyzClassOracle: String =
    """WITH weekly AS (SELECT l_partkey,
      |    CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |stats AS (SELECT l_partkey, count(*) AS n_weeks,
      |    round(CAST(sum(q) AS DOUBLE)/count(*), 6) AS mean_q,
      |    round(sqrt(greatest(
      |      (CAST(sum(CAST(q*q AS DECIMAL(18,6))) AS DOUBLE) -
      |      CAST(sum(q)*sum(q) AS DOUBLE)/count(*)) / count(*), 0.0)), 6)
      |      AS std_q
      |  FROM weekly GROUP BY 1),
      |cvt AS (SELECT *, round(std_q/mean_q, 6) AS cv FROM stats)
      |SELECT l_partkey, n_weeks, mean_q, cv,
      |  CASE WHEN cv < 0.25 THEN 'X' WHEN cv < 0.5 THEN 'Y'
      |    ELSE 'Z' END AS xyz
      |FROM cvt ORDER BY l_partkey""".stripMargin

  /** q_freq_of_freq — Good–Turing frequency-of-frequencies over the
    * corpus vocabulary: for each observed token count r, the number
    * of distinct tokens N_r seen exactly r times, and the Good–Turing
    * re-estimate r* = (r+1)·N_{r+1}/N_r where the next class is
    * populated — the smoothing table every unseen-mass estimator
    * starts from. Two successive contractions; the r domain is
    * tiny. */
  def freqOfFreq(s: SparkSession, d: String): DataFrame = {
    val tokCounts = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("r"))
    val nr = tokCounts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    nr.as("a")
      .join(nr.as("b").select((col("r") - 1).as("r"),
        col("n_r").as("n_r_next")), Seq("r"), "left")
      .select(col("r"), col("n_r"),
        round((col("r") + 1) * col("n_r_next").cast("double") / col("n_r"), 4)
          .as("gt_r"))
      .orderBy(col("r"))
  }

  val freqOfFreqOracle: String =
    """WITH tc AS (SELECT tok, count(*) AS r FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) GROUP BY 1),
      |nr AS (SELECT r, count(*) AS n_r FROM tc GROUP BY 1)
      |SELECT a.r, a.n_r,
      |  round((a.r + 1) * CAST(b.n_r AS DOUBLE) / a.n_r, 4) AS gt_r
      |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
      |ORDER BY a.r""".stripMargin

  /** q_burstiness — token dispersion: for tokens appearing in ≥5
    * documents, the variance-to-mean ratio of the per-document count
    * (over containing documents; population variance from exact
    * integer sums). VMR ≈ 1 is Poisson scatter (function words);
    * VMR ≫ 1 marks topical/bursty content words. */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("tok")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .where(col("n_docs") >= 5)
      .select(col("tok"), col("n_docs"),
        round(col("sc").cast("double") / col("n_docs"), 6).as("mean_c"),
        round((col("scc").cast("double") -
          col("sc").cast("double") * col("sc") / col("n_docs")) /
          col("n_docs"), 6).as("var_c"))
      .withColumn("vmr", round(col("var_c") / col("mean_c"), 6))
      .orderBy(col("tok"))
  }

  val burstinessOracle: String =
    """WITH pd AS (SELECT tok, doc_id, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) GROUP BY 1, 2),
      |st AS (SELECT tok, count(*) AS n_docs,
      |    CAST(sum(c) AS BIGINT) AS sc,
      |    CAST(sum(c*c) AS BIGINT) AS scc
      |  FROM pd GROUP BY 1 HAVING count(*) >= 5),
      |m AS (SELECT tok, n_docs,
      |    round(CAST(sc AS DOUBLE)/n_docs, 6) AS mean_c,
      |    round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)*sc/n_docs) /
      |      n_docs, 6) AS var_c
      |  FROM st)
      |SELECT tok, n_docs, mean_c, var_c,
      |  round(var_c/mean_c, 6) AS vmr
      |FROM m ORDER BY tok""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_seq_trigram" -> (seqTrigram _),
    "q_elasticity" -> (elasticity _),
    "q_xyz_class" -> (xyzClass _),
    "q_freq_of_freq" -> (freqOfFreq _),
    "q_burstiness" -> (burstiness _))

  val oracle: Map[String, String] = Map(
    "q_seq_trigram" -> seqTrigramOracle,
    "q_elasticity" -> elasticityOracle,
    "q_xyz_class" -> xyzClassOracle,
    "q_freq_of_freq" -> freqOfFreqOracle,
    "q_burstiness" -> burstinessOracle)
}
