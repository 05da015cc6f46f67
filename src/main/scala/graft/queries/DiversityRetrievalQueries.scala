package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #54: inventory-diversity and ranking-agreement
  * operators — ABC revenue classification (the 3-class sibling of
  * q_pareto/q_xyz_class), the Simpson diversity panel per corpus
  * source, and rank-biased overlap between two top-k rankings (the
  * retrieval-evaluation statistic for comparing search engines /
  * eras / feature variants).
  *
  * Scale notes (100 TB): abc contracts lineitem to the |parts|
  * aggregate, runs ONE distributed prefix pass (PrefixOps — no
  * partition-less window) and re-contracts to 3 class rows;
  * simpson_div is two keyed aggregations over the bounded
  * (source, lang) grid; rbo's legs end in TakeOrderedAndProject
  * top-10s, so the depth lattice is a ≤10×10 bounded product —
  * nothing beyond the first fact contraction scales with data.
  *
  * Determinism: DECIMAL revenue partials; shares and ratios round at
  * 8dp before composition; RBO depth weights (1−p)·p^(d−1) are
  * exact double literals in BOTH engines (no cross-engine pow), D2
  * output rounding.
  */
object DiversityRetrievalQueries extends QueryFamily {

  /** q_abc_class — ABC inventory classification: parts ranked by
    * DECIMAL revenue, cumulative share off the distributed prefix,
    * A ≤ 80% / B ≤ 95% / C rest, re-contracted to the 3-row class
    * summary (class, n_parts, revenue, share). */
  def abcClass(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d).groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("total"))
    val ranked = graft.operators.PrefixOps.runningSums(rev,
        -col("rev"), Seq(col("rev").desc, col("l_partkey")),
        Seq("cum" -> col("rev")))
      .crossJoin(broadcast(tot))
      .withColumn("cum_frac",
        round(col("cum").cast("double") / col("total").cast("double"), 8))
      .withColumn("abc", when(col("cum_frac") <= 0.80, "A")
        .when(col("cum_frac") <= 0.95, "B").otherwise("C"))
    ranked.groupBy(col("abc")).agg(
        count(lit(1)).as("n_parts"),
        sum(col("rev")).cast("double").as("revenue"))
      .crossJoin(broadcast(tot))
      .select(col("abc"), col("n_parts"),
        round(col("revenue"), 2).as("revenue"),
        round(col("revenue") / col("total").cast("double"), 6).as("share"))
      .orderBy(col("abc"))
  }

  val abcClassOracle: String =
    """WITH rev AS (SELECT l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |ranked AS (SELECT l_partkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(rev) OVER () AS total
      |  FROM rev),
      |cls AS (SELECT rev, total,
      |    CASE WHEN round(CAST(cum AS DOUBLE)/CAST(total AS DOUBLE), 8)
      |        <= 0.80 THEN 'A'
      |      WHEN round(CAST(cum AS DOUBLE)/CAST(total AS DOUBLE), 8)
      |        <= 0.95 THEN 'B'
      |      ELSE 'C' END AS abc
      |  FROM ranked)
      |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
      |  round(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
      |  round(CAST(sum(rev) AS DOUBLE)/CAST(any_value(total) AS DOUBLE), 6)
      |    AS share
      |FROM cls GROUP BY abc ORDER BY abc""".stripMargin

  /** q_simpson_div — diversity panel per document source over its
    * language mix: Simpson's D = Σp², Gini–Simpson 1−D, inverse
    * Simpson 1/D (effective language count), and richness — the
    * corpus-balance dashboard beside q_entropy's Shannon view. */
  def simpsonDiv(s: SparkSession, d: String): DataFrame = {
    val cell = documents(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val src = cell.groupBy(col("source")).agg(
      sum(col("c")).as("n"), count(lit(1)).as("richness"))
    val dStat = cell.join(src, "source")
      .select(col("source"),
        round(pow(col("c").cast("double") / col("n").cast("double"), 2), 10)
          .as("p2"))
      .groupBy(col("source"))
      .agg(sum(col("p2").cast("decimal(18,10)")).cast("double").as("simpson_d"))
    src.join(dStat, "source")
      .select(col("source"), col("n"), col("richness"),
        round(col("simpson_d"), 6).as("simpson_d"),
        round(lit(1.0) - col("simpson_d"), 6).as("gini_simpson"),
        round(lit(1.0) / round(col("simpson_d"), 8), 4).as("inv_simpson"))
      .orderBy(col("source"))
  }

  val simpsonDivOracle: String =
    """WITH cell AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |src AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS richness
      |  FROM cell GROUP BY 1),
      |ds AS (SELECT cell.source,
      |    CAST(sum(CAST(round(pow(CAST(c AS DOUBLE)/CAST(n AS DOUBLE), 2),
      |      10) AS DECIMAL(18,10))) AS DOUBLE) AS simpson_d
      |  FROM cell JOIN src ON src.source = cell.source
      |  GROUP BY 1)
      |SELECT src.source, n, richness,
      |  round(simpson_d, 6) AS simpson_d,
      |  round(1.0 - simpson_d, 6) AS gini_simpson,
      |  round(1.0/round(simpson_d, 8), 4) AS inv_simpson
      |FROM src JOIN ds ON ds.source = src.source
      |ORDER BY src.source""".stripMargin

  /** q_rbo — rank-biased overlap (p = 0.9, depth 10) between the
    * top-10 part-revenue rankings of the two order-date halves:
    * RBO@k = Σ_d (1−p)p^(d−1) · |A_d ∩ B_d| / d, weights as exact
    * double literals; also the unweighted average overlap. Legs are
    * TakeOrderedAndProject top-10s off one (era × part) contraction. */
  def rbo(s: SparkSession, d: String): DataFrame = {
    val cut = "1998-06-01 00:00:00"
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      col("l_extendedprice"))
    val joined = li.join(orders(s, d).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .withColumn("era",
        when(col("o_orderdate") < lit(cut).cast("timestamp"), 1).otherwise(2))
    val rev = joined.groupBy(col("era"), col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    def leg(e: Int) = rev.filter(col("era") === e)
      .orderBy(col("rev").desc, col("l_partkey")).limit(10)
      .select(col("l_partkey"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("rev").desc, col("l_partkey"))).as(s"r$e"))
    val pairs = leg(1).join(leg(2), "l_partkey")
      .select(col("r1"), col("r2"))
    val depths = s.range(1, 11).toDF("dd")
    val od = pairs.crossJoin(broadcast(depths))
      .filter(col("r1") <= col("dd") && col("r2") <= col("dd"))
      .groupBy(col("dd")).agg(count(lit(1)).as("ov"))
    val weighted = broadcast(depths).join(od, Seq("dd"), "left")
      .select(col("dd"), coalesce(col("ov"), lit(0L)).as("ov"),
        // (1−p)·p^(d−1) at p = 0.9 as exact literals (no libm pow)
        when(col("dd") === 1, 0.1).when(col("dd") === 2, 0.09)
          .when(col("dd") === 3, 0.081).when(col("dd") === 4, 0.0729)
          .when(col("dd") === 5, 0.06561).when(col("dd") === 6, 0.059049)
          .when(col("dd") === 7, 0.0531441).when(col("dd") === 8, 0.04782969)
          .when(col("dd") === 9, 0.043046721).otherwise(0.0387420489)
          .as("w"))
    weighted.agg(
      sum(round(col("w") * col("ov").cast("double") /
        col("dd").cast("double"), 10).cast("decimal(18,10)"))
        .cast("double").as("rbo_raw"),
      sum(round(col("ov").cast("double") / col("dd").cast("double"), 10)
        .cast("decimal(18,10)")).cast("double").as("ao_raw"))
      .select(round(col("rbo_raw"), 6).as("rbo"),
        round(col("ao_raw") / 10, 6).as("avg_overlap"))
  }

  val rboOracle: String =
    """WITH j AS (SELECT l_partkey, l_extendedprice,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |      THEN 1 ELSE 2 END AS era
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |rev AS (SELECT era, l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM j GROUP BY 1, 2),
      |l1 AS (SELECT l_partkey, row_number()
      |    OVER (ORDER BY rev DESC, l_partkey) AS r1
      |  FROM rev WHERE era = 1 ORDER BY rev DESC, l_partkey LIMIT 10),
      |l2 AS (SELECT l_partkey, row_number()
      |    OVER (ORDER BY rev DESC, l_partkey) AS r2
      |  FROM rev WHERE era = 2 ORDER BY rev DESC, l_partkey LIMIT 10),
      |pairs AS (SELECT r1, r2 FROM l1 JOIN l2 USING (l_partkey)),
      |depths AS (SELECT CAST(range AS BIGINT) AS dd FROM range(1, 11)),
      |od AS (SELECT dd, CAST(count(*) AS BIGINT) AS ov
      |  FROM pairs CROSS JOIN depths
      |  WHERE r1 <= dd AND r2 <= dd GROUP BY dd),
      |w AS (SELECT depths.dd, COALESCE(ov, 0) AS ov,
      |    CASE depths.dd WHEN 1 THEN 0.1 WHEN 2 THEN 0.09 WHEN 3 THEN 0.081
      |      WHEN 4 THEN 0.0729 WHEN 5 THEN 0.06561 WHEN 6 THEN 0.059049
      |      WHEN 7 THEN 0.0531441 WHEN 8 THEN 0.04782969
      |      WHEN 9 THEN 0.043046721 ELSE 0.0387420489 END AS w
      |  FROM depths LEFT JOIN od ON od.dd = depths.dd)
      |SELECT
      |  round(CAST(sum(CAST(round(w * CAST(ov AS DOUBLE)/CAST(dd AS DOUBLE),
      |    10) AS DECIMAL(18,10))) AS DOUBLE), 6) AS rbo,
      |  round(CAST(sum(CAST(round(CAST(ov AS DOUBLE)/CAST(dd AS DOUBLE),
      |    10) AS DECIMAL(18,10))) AS DOUBLE)/10, 6) AS avg_overlap
      |FROM w""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_abc_class" -> (abcClass _),
    "q_simpson_div" -> (simpsonDiv _),
    "q_rbo" -> (rbo _))

  val oracle: Map[String, String] = Map(
    "q_abc_class" -> abcClassOracle,
    "q_simpson_div" -> simpsonDivOracle,
    "q_rbo" -> rboOracle)
}
