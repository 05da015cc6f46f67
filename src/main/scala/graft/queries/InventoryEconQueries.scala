package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #60: inventory / operations economics — the EOQ
  * (economic order quantity) ranking, the newsvendor critical-ratio
  * order point per brand, and the classic safety-stock / reorder-point
  * panel. All three are textbook closed forms whose only non-rational
  * operator is `sqrt` (correctly rounded per IEEE-754 in both
  * engines), so no rounding protocol beyond the house D1/D2 decimal
  * sums is needed on the inputs.
  *
  * Scale notes (100 TB): q_eoq is a part-keyed contraction through the
  * broadcast part dim + TakeOrderedAndProject top-10; q_newsvendor and
  * q_safety_stock contract lineitem to the (brand, ship-day) grid
  * first (|brands| × |days| — bounded), then run brand-partitioned
  * windows / decimal moments over the grid only. No global windows,
  * no raw-row windows.
  */
object InventoryEconQueries extends QueryFamily {

  /** q_eoq — economic order quantity for the 10 highest-demand parts:
    * EOQ = √(2·D·S / H) with ordering cost S = 100 per order and
    * holding cost H = 20% of the part's retail price per unit-year;
    * D = total quantity demanded. */
  def eoq(s: SparkSession, d: String): DataFrame = {
    val dem = lineitem(s, d).groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("dsum"))
    val dD = col("dsum").cast("double")
    // part is SF-proportional (~3 TB at 100 TB SF) — no broadcast
    // hint: the PK join is parallel at scale, stats still broadcast
    // the dim at graded SF
    dem.join(part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), dD.as("demand"),
        round(col("p_retailprice"), 2).as("price"),
        round(sqrt(round(lit(2.0) * dD * lit(100.0)
          / (lit(0.2) * col("p_retailprice")), 8)), 6).as("eoq"))
      .orderBy(col("demand").desc, col("p_partkey"))
      .limit(10)
  }

  val eoqOracle: String =
    """WITH dem AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS demand
      |  FROM lineitem GROUP BY 1)
      |SELECT p_partkey, p_name, demand,
      |  round(p_retailprice, 2) AS price,
      |  round(sqrt(round(2.0 * demand * 100.0
      |    / (0.2 * p_retailprice), 8)), 6) AS eoq
      |FROM dem JOIN part ON p_partkey = l_partkey
      |ORDER BY demand DESC, p_partkey
      |LIMIT 10""".stripMargin

  /** Shared grid: per (brand, ship-day) total quantity as an exact
    * 2dp decimal surfaced as double. */
  private def dailyDemand(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      // no broadcast hint on the SF-proportional part dim (q_eoq rule)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)"))
        .cast("double").as("v"))

  private val dailyDemandSql: String =
    """SELECT p_brand,
      |    CAST(l_shipdate AS DATE) AS day,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY 1, 2""".stripMargin

  /** q_newsvendor — critical-ratio order point per brand: with
    * underage cost 3 and overage cost 1 the critical ratio is
    * 3/(3+1) = 0.75; the optimal order quantity is the 0.75-quantile
    * (percentile_disc semantics) of the brand's daily demand —
    * smallest grid value whose cumulative day count reaches 75% —
    * beside the mean daily demand for reference. */
  def newsvendor(s: SparkSession, d: String): DataFrame = {
    val grid = dailyDemand(s, d)
    val byVal = grid.groupBy(col("p_brand"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.withColumn("cum", sum(col("cnt")).over(w))
    val n = grid.groupBy(col("p_brand")).agg(
      count(lit(1)).as("n_days"),
      sum(col("v").cast("decimal(18,2)")).as("tot"))
    cum.join(broadcast(n), "p_brand")
      .groupBy(col("p_brand"), col("n_days"), col("tot"))
      .agg(min(when(col("cum").cast("double") >=
        lit(0.75) * col("n_days").cast("double"), col("v"))).as("q_star"))
      .select(col("p_brand"), col("n_days"),
        round(col("tot").cast("double")
          / col("n_days").cast("double"), 6).as("mean_demand"),
        col("q_star"))
      .orderBy(col("p_brand"))
  }

  val newsvendorOracle: String =
    s"""WITH grid AS ($dailyDemandSql),
      |byval AS (SELECT p_brand, v, CAST(count(*) AS BIGINT) AS cnt
      |  FROM grid GROUP BY 1, 2),
      |cum AS (SELECT p_brand, v,
      |    sum(cnt) OVER (PARTITION BY p_brand ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM byval),
      |n AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_days,
      |    sum(CAST(v AS DECIMAL(18,2))) AS tot
      |  FROM grid GROUP BY 1)
      |SELECT p_brand, n_days,
      |  round(CAST(tot AS DOUBLE)/CAST(n_days AS DOUBLE), 6) AS mean_demand,
      |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.75*CAST(n_days AS DOUBLE)
      |    THEN v END) AS q_star
      |FROM cum JOIN n USING (p_brand)
      |GROUP BY p_brand, n_days, tot
      |ORDER BY p_brand""".stripMargin

  /** q_safety_stock — per-brand safety stock and reorder point for a
    * 7-day replenishment lead time at 95% cycle service level:
    * σ_daily from the grid's decimal moments, SS = z·σ·√7 with
    * z = Φ⁻¹(0.95) as the exact double literal 1.6448536269514722,
    * ROP = 7·μ + SS. */
  def safetyStock(s: SparkSession, d: String): DataFrame = {
    val z = 1.6448536269514722
    val m = dailyDemand(s, d).groupBy(col("p_brand")).agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(18,6)")).as("sx"),
      sum(round(col("v") * col("v"), 6).cast("decimal(27,6)")).as("sxx"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sxx = col("sxx").cast("double")
    val mu = round(sx / nD, 6)
    val sigma = sqrt(round((nD * sxx - sx * sx)
      / (nD * (nD - lit(1.0))), 8))
    val ss = round(lit(z) * sigma * sqrt(lit(7.0)), 6)
    m.select(col("p_brand"), col("n").as("n_days"),
        mu.as("mu_daily"), round(sigma, 6).as("sigma_daily"),
        ss.as("safety_stock"),
        round(mu * lit(7.0) + ss, 6).as("reorder_point"))
      .orderBy(col("p_brand"))
  }

  val safetyStockOracle: String =
    s"""WITH grid AS ($dailyDemandSql),
      |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(v*v, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      |  FROM grid GROUP BY 1)
      |SELECT p_brand, n AS n_days,
      |  round(sx/CAST(n AS DOUBLE), 6) AS mu_daily,
      |  round(sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8)), 6)
      |    AS sigma_daily,
      |  round(1.6448536269514722
      |    * sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8))
      |    * sqrt(7.0), 6) AS safety_stock,
      |  round(round(sx/CAST(n AS DOUBLE), 6) * 7.0
      |    + round(1.6448536269514722
      |      * sqrt(round((CAST(n AS DOUBLE)*sxx - sx*sx)
      |        /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8))
      |      * sqrt(7.0), 6), 6) AS reorder_point
      |FROM m ORDER BY p_brand""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eoq" -> (eoq _),
    "q_newsvendor" -> (newsvendor _),
    "q_safety_stock" -> (safetyStock _))

  val oracle: Map[String, String] = Map(
    "q_eoq" -> eoqOracle,
    "q_newsvendor" -> newsvendorOracle,
    "q_safety_stock" -> safetyStockOracle)
}
