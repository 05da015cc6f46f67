package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #90: the ordinal-association panel — Goodman–
  * Kruskal gamma, Somers' D (both directions) with Kendall tau-b,
  * Stuart's tau-c, and Goodman–Kruskal lambda — over the ordered
  * 5×5 grid of order priority × total-price quintile band.
  *
  * The Spark-first move shared by all three queries: NEVER enumerate
  * the O(n²) pairs. The fact table contracts to the bounded 5×5
  * contingency grid in one keyed aggregation, and every
  * concordant/discordant/tied pair count is an exact integer
  * expression over the grid's self-join (25×25 cells) — the same
  * idiom as q_kendall_tau / q_jonckheere, so a 100 TB fact costs one
  * shuffle of 25 partial rows per mapper and the pair algebra runs on
  * the driver-sized grid.
  *
  * Determinism (D1–D5): all pair counts (C, D, doubled tie terms) are
  * exact BIGINT algebra; only the final ratios divide as doubles with
  * house 8dp rounds; sqrt only in tau-b's denominator, on 8dp-rounded
  * operands. */
object OrdinalAssocQueries extends QueryFamily {

  /** 5×5 contingency: priority rank (1..5, already ordinal in the
    * label prefix) × price band floor(total/100k) capped at 4. */
  private def grid(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    // 25-cell contingency grid feeds every margin/max fold —
    // materialize once (round-8 scan gate: was 5 orders scans)
    orders(s, d).select(
      substring(col("o_orderpriority"), 1, 1).cast("int").as("x"),
      least(lit(4), floor(col("o_totalprice") / 100000.0).cast("int"))
        .as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nij"))
      .truncatedCheckpoint()
  }

  private val gridSql: String =
    """SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS x,
      |  least(4, CAST(floor(o_totalprice/100000.0) AS INT)) AS y,
      |  CAST(count(*) AS BIGINT) AS nij
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** Concordant/discordant totals and marginals off the grid
    * self-join; returns a 1-row frame with exact integer columns
    * c, dd, n, t2x (doubled X-only ties), t2y (doubled Y-only ties),
    * and the per-row / per-column max terms lambda needs. */
  private def pairStats(s: SparkSession, d: String): DataFrame = {
    val g = grid(s, d)
    val a = g.select(col("x").as("xa"), col("y").as("ya"),
      col("nij").as("na"))
    val b = g.select(col("x").as("xb"), col("y").as("yb"),
      col("nij").as("nb"))
    val cd = a.crossJoin(b).agg(
      sum(when(col("xb") > col("xa") && col("yb") > col("ya"),
        col("na") * col("nb")).otherwise(lit(0L))).as("c"),
      sum(when(col("xb") > col("xa") && col("yb") < col("ya"),
        col("na") * col("nb")).otherwise(lit(0L))).as("dd"),
      // doubled pairs tied on x only / y only: same key, different other
      sum(when(col("xb") === col("xa") && col("yb") =!= col("ya"),
        col("na") * col("nb")).otherwise(lit(0L))).as("t2x"),
      sum(when(col("yb") === col("ya") && col("xb") =!= col("xa"),
        col("na") * col("nb")).otherwise(lit(0L))).as("t2y"))
    val n = g.agg(sum(col("nij")).as("n"))
    cd.crossJoin(broadcast(n))
  }

  private val pairStatsSql: String =
    s"""WITH g AS ($gridSql),
       |cd AS (SELECT
       |    CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
       |      THEN a.nij*b.nij ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
       |      THEN a.nij*b.nij ELSE 0 END) AS BIGINT) AS dd,
       |    CAST(sum(CASE WHEN b.x = a.x AND b.y <> a.y
       |      THEN a.nij*b.nij ELSE 0 END) AS BIGINT) AS t2x,
       |    CAST(sum(CASE WHEN b.y = a.y AND b.x <> a.x
       |      THEN a.nij*b.nij ELSE 0 END) AS BIGINT) AS t2y
       |  FROM g a, g b),
       |nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM g)
       |SELECT c, dd, t2x, t2y, n FROM cd, nn""".stripMargin

  /** q_ordinal_gamma — Goodman–Kruskal gamma and Stuart's tau-c
    * (m = 5) with the raw concordant/discordant pair counts. */
  def ordinalGamma(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    pairStats(s, d).select(col("c"), col("dd"), col("n"),
      round((f("c") - f("dd")) / (f("c") + f("dd")), 8).as("gamma"),
      round(lit(2.0) * 5 * (f("c") - f("dd"))
        / (f("n") * f("n") * (5 - 1)), 8).as("tau_c"))
  }

  val ordinalGammaOracle: String =
    s"""WITH s AS ($pairStatsSql)
       |SELECT c, dd, n,
       |  round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
       |    /(CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)), 8) AS gamma,
       |  round(2.0*5*(CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
       |    /(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*(5 - 1)), 8) AS tau_c
       |FROM s""".stripMargin

  /** q_somers_d — Somers' D in both directions (price|priority and
    * priority|price) plus Kendall tau-b, all off the same doubled
    * tie algebra (d = 2(C−D)/(2C+2D+T2)). */
  def somersD(s: SparkSession, d: String): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val num = lit(2.0) * (f("c") - f("dd"))
    val dyx = num / (lit(2.0) * (f("c") + f("dd")) + f("t2y"))
    val dxy = num / (lit(2.0) * (f("c") + f("dd")) + f("t2x"))
    pairStats(s, d).select(col("t2x"), col("t2y"),
      round(dyx, 8).as("d_yx"), round(dxy, 8).as("d_xy"),
      round(num / sqrt(
        round((lit(2.0) * (f("c") + f("dd")) + f("t2y")), 8)
          * round((lit(2.0) * (f("c") + f("dd")) + f("t2x")), 8)), 8)
        .as("tau_b"))
  }

  val somersDOracle: String =
    s"""WITH s AS ($pairStatsSql)
       |SELECT t2x, t2y,
       |  round(2.0*(CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
       |    /(2.0*(CAST(c AS DOUBLE) + CAST(dd AS DOUBLE))
       |      + CAST(t2y AS DOUBLE)), 8) AS d_yx,
       |  round(2.0*(CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
       |    /(2.0*(CAST(c AS DOUBLE) + CAST(dd AS DOUBLE))
       |      + CAST(t2x AS DOUBLE)), 8) AS d_xy,
       |  round(2.0*(CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
       |    /sqrt(round(2.0*(CAST(c AS DOUBLE) + CAST(dd AS DOUBLE))
       |        + CAST(t2y AS DOUBLE), 8)
       |      *round(2.0*(CAST(c AS DOUBLE) + CAST(dd AS DOUBLE))
       |        + CAST(t2x AS DOUBLE), 8)), 8) AS tau_b
       |FROM s""".stripMargin

  /** q_gk_lambda — Goodman–Kruskal lambda both ways: proportional
    * reduction in prediction error from knowing the other variable
    * (row-max / column-max integer algebra on the grid). */
  def gkLambda(s: SparkSession, d: String): DataFrame = {
    val g = grid(s, d)
    val rowMaxSum = g.groupBy(col("x")).agg(max(col("nij")).as("mx"))
      .agg(sum(col("mx")).as("sum_row_max"))
    val colMaxSum = g.groupBy(col("y")).agg(max(col("nij")).as("my"))
      .agg(sum(col("my")).as("sum_col_max"))
    val margMax = g.groupBy(col("y")).agg(sum(col("nij")).as("sy"))
      .agg(max(col("sy")).as("max_col_marg"))
    val margMaxX = g.groupBy(col("x")).agg(sum(col("nij")).as("sx"))
      .agg(max(col("sx")).as("max_row_marg"))
    val n = g.agg(sum(col("nij")).as("n"))
    def f(c: String) = col(c).cast("double")
    rowMaxSum.crossJoin(broadcast(colMaxSum))
      .crossJoin(broadcast(margMax)).crossJoin(broadcast(margMaxX))
      .crossJoin(broadcast(n))
      .select(col("n"),
        round((f("sum_row_max") - f("max_col_marg"))
          / (f("n") - f("max_col_marg")), 8).as("lambda_yx"),
        round((f("sum_col_max") - f("max_row_marg"))
          / (f("n") - f("max_row_marg")), 8).as("lambda_xy"))
  }

  val gkLambdaOracle: String =
    s"""WITH g AS ($gridSql),
       |rm AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_row_max
       |  FROM (SELECT x, max(nij) AS mx FROM g GROUP BY x)),
       |cm AS (SELECT CAST(sum(my) AS BIGINT) AS sum_col_max
       |  FROM (SELECT y, max(nij) AS my FROM g GROUP BY y)),
       |mc AS (SELECT CAST(max(sy) AS BIGINT) AS max_col_marg
       |  FROM (SELECT y, sum(nij) AS sy FROM g GROUP BY y)),
       |mr AS (SELECT CAST(max(sx) AS BIGINT) AS max_row_marg
       |  FROM (SELECT x, sum(nij) AS sx FROM g GROUP BY x)),
       |nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM g)
       |SELECT n,
       |  round((CAST(sum_row_max AS DOUBLE) - CAST(max_col_marg AS DOUBLE))
       |    /(CAST(n AS DOUBLE) - CAST(max_col_marg AS DOUBLE)), 8)
       |    AS lambda_yx,
       |  round((CAST(sum_col_max AS DOUBLE) - CAST(max_row_marg AS DOUBLE))
       |    /(CAST(n AS DOUBLE) - CAST(max_row_marg AS DOUBLE)), 8)
       |    AS lambda_xy
       |FROM rm, cm, mc, mr, nn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ordinal_gamma" -> (ordinalGamma _),
    "q_somers_d" -> (somersD _),
    "q_gk_lambda" -> (gkLambda _))

  val oracle: Map[String, String] = Map(
    "q_ordinal_gamma" -> ordinalGammaOracle,
    "q_somers_d" -> somersDOracle,
    "q_gk_lambda" -> gkLambdaOracle)
}
