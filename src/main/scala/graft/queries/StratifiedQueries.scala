package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #38: stratified-analysis guards — the Simpson's
  * paradox detector (per-stratum vs pooled correlation with reversal
  * flags) and leaderboard rank stability between time halves
  * (Spearman on exact rank vectors). Both answer the question every
  * aggregate report should ask first: does the pooled number say the
  * OPPOSITE of every stratum?
  *
  * Scale notes (100 TB): level-1 moments stay DECIMAL so the pooled
  * level-2 reduction is exact (no double re-aggregation); the rank
  * windows run over the |brands|-row contraction (bounded domain,
  * GlobalWindowSpec-listed).
  *
  * Determinism: D2 DECIMAL moments; Spearman from exact integer rank
  * differences.
  */
object StratifiedQueries extends QueryFamily {

  /** q_simpsons — quantity↔price correlation per market segment next
    * to the pooled correlation, flagged where the stratum sign
    * contradicts the pooled sign. */
  def simpsons(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d)
      .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val g = base.groupBy(col("seg")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).as("sx"),
      sum(col("y").cast("decimal(18,6)")).as("sy"),
      sum((col("x") * col("y")).cast("decimal(27,6)")).as("sxy"),
      sum((col("x") * col("x")).cast("decimal(27,6)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(27,6)")).as("syy"))
    def corrOf(n: Column, sx: Column, sy: Column, sxy: Column,
        sxx: Column, syy: Column): Column = {
      val nD = n.cast("double")
      (nD * sxy.cast("double") - sx.cast("double") * sy.cast("double")) /
        sqrt((nD * sxx.cast("double") - sx.cast("double") * sx.cast("double")) *
             (nD * syy.cast("double") - sy.cast("double") * sy.cast("double")))
    }
    val pooled = g.agg(sum(col("n")).as("np"), sum(col("sx")).as("sxp"),
        sum(col("sy")).as("syp"), sum(col("sxy")).as("sxyp"),
        sum(col("sxx")).as("sxxp"), sum(col("syy")).as("syyp"))
      .select(round(corrOf(col("np"), col("sxp"), col("syp"),
        col("sxyp"), col("sxxp"), col("syyp")), 6).as("corr_pooled"))
    g.crossJoin(broadcast(pooled))
      .select(col("seg"), col("n"),
        round(corrOf(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")), 6).as("corr_seg"),
        col("corr_pooled"))
      .withColumn("reversed",
        signum(col("corr_seg")) =!= signum(col("corr_pooled")))
      .orderBy(col("seg"))
  }

  val simpsonsOracle: String =
    """WITH base AS (SELECT c.c_mktsegment AS seg,
      |    l.l_quantity AS x, l.l_extendedprice AS y
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey),
      |g AS (SELECT seg, count(*) AS n,
      |    sum(CAST(x AS DECIMAL(18,6))) AS sx,
      |    sum(CAST(y AS DECIMAL(18,6))) AS sy,
      |    sum(CAST(x*y AS DECIMAL(27,6))) AS sxy,
      |    sum(CAST(x*x AS DECIMAL(27,6))) AS sxx,
      |    sum(CAST(y*y AS DECIMAL(27,6))) AS syy
      |  FROM base GROUP BY 1),
      |p AS (SELECT round(
      |    (CAST(sum(n) AS DOUBLE)*CAST(sum(sxy) AS DOUBLE)
      |      - CAST(sum(sx) AS DOUBLE)*CAST(sum(sy) AS DOUBLE)) /
      |    sqrt((CAST(sum(n) AS DOUBLE)*CAST(sum(sxx) AS DOUBLE)
      |        - CAST(sum(sx) AS DOUBLE)*CAST(sum(sx) AS DOUBLE)) *
      |      (CAST(sum(n) AS DOUBLE)*CAST(sum(syy) AS DOUBLE)
      |        - CAST(sum(sy) AS DOUBLE)*CAST(sum(sy) AS DOUBLE))), 6)
      |    AS corr_pooled
      |  FROM g)
      |SELECT seg, n,
      |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS corr_seg,
      |  p.corr_pooled,
      |  sign(round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6))
      |    <> sign(p.corr_pooled) AS reversed
      |FROM g CROSS JOIN p ORDER BY seg""".stripMargin

  /** q_rank_stability — Spearman correlation of brand revenue RANKS
    * between the pre-1999 and 1999+ halves, with the biggest mover:
    * how stable the leaderboard is across eras. Ranks live on the
    * |brands| contraction (bounded domain). */
  def rankStability(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d)
      .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(part(s, d), col("p_partkey") === col("l_partkey"))
      .select(col("p_brand").as("brand"),
        (year(col("o_orderdate")) < 1999).as("early"),
        col("l_extendedprice").as("rev"))
    val byEra = base.groupBy(col("brand")).agg(
      round(sum(when(col("early"), col("rev").cast("decimal(18,4)")))
        .cast("double"), 2).as("rev_a"),
      round(sum(when(!col("early"), col("rev").cast("decimal(18,4)")))
        .cast("double"), 2).as("rev_b"))
      .filter(col("rev_a").isNotNull && col("rev_b").isNotNull)
    val ra = row_number().over(Window.orderBy(col("rev_a").desc, col("brand")))
    val rb = row_number().over(Window.orderBy(col("rev_b").desc, col("brand")))
    val ranked = byEra.withColumn("rank_a", ra).withColumn("rank_b", rb)
      .withColumn("d2",
        (col("rank_a") - col("rank_b")).cast("long") *
          (col("rank_a") - col("rank_b")).cast("long"))
      .withColumn("ad", abs(col("rank_a") - col("rank_b")))
    ranked.agg(
      count(lit(1)).as("n_brands"),
      round(lit(1.0) - lit(6.0) * sum(col("d2")).cast("double") /
        (count(lit(1)).cast("double") *
          (count(lit(1)).cast("double") * count(lit(1)).cast("double") - 1.0)),
        6).as("spearman_rho"),
      max(struct(col("ad"), col("brand"))).getField("brand")
        .as("top_mover"),
      max(struct(col("ad"), col("brand"))).getField("ad").cast("long")
        .as("mover_shift"))
  }

  val rankStabilityOracle: String =
    """WITH base AS (SELECT p.p_brand AS brand,
      |    year(o.o_orderdate) < 1999 AS early,
      |    l.l_extendedprice AS rev
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey),
      |era AS (SELECT brand,
      |    round(CAST(sum(CASE WHEN early
      |      THEN CAST(rev AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS rev_a,
      |    round(CAST(sum(CASE WHEN NOT early
      |      THEN CAST(rev AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS rev_b
      |  FROM base GROUP BY 1
      |  HAVING rev_a IS NOT NULL AND rev_b IS NOT NULL),
      |ranked AS (SELECT brand,
      |    row_number() OVER (ORDER BY rev_a DESC, brand) AS rank_a,
      |    row_number() OVER (ORDER BY rev_b DESC, brand) AS rank_b
      |  FROM era),
      |dd AS (SELECT brand,
      |    (rank_a - rank_b)*(rank_a - rank_b) AS d2,
      |    abs(rank_a - rank_b) AS ad
      |  FROM ranked)
      |SELECT count(*) AS n_brands,
      |  round(1.0 - 6.0*CAST(sum(d2) AS DOUBLE) /
      |    (CAST(count(*) AS DOUBLE) *
      |     (CAST(count(*) AS DOUBLE)*CAST(count(*) AS DOUBLE) - 1.0)), 6)
      |    AS spearman_rho,
      |  max((ad, brand))[2] AS top_mover,
      |  CAST(max((ad, brand))[1] AS BIGINT) AS mover_shift
      |FROM dd""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_simpsons" -> (simpsons _),
    "q_rank_stability" -> (rankStability _))

  val oracle: Map[String, String] = Map(
    "q_simpsons" -> simpsonsOracle,
    "q_rank_stability" -> rankStabilityOracle)
}
