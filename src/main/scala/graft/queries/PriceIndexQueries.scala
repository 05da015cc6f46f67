package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #58: price-index economics — the Laspeyres /
  * Paasche / Fisher index triplet between two order-date eras (the
  * canonical basket-weighted inflation measures) and the brand
  * revenue-share shift report (which brands gained or lost share
  * between eras, the market-movement sibling of q_idf_drift's corpus
  * view).
  *
  * Scale notes (100 TB): both queries contract the joined fact table
  * to (era × part) / (era × brand) aggregates first — one orderkey
  * shuffle for the date join, one keyed aggregation; the index is a
  * part-keyed self-join of the two era rows (equi-join on the
  * contracted domain, no windows), the share shift finishes with a
  * broadcast 1-row era-total join and TakeOrderedAndProject top
  * movers. The part dimension broadcasts.
  *
  * Determinism: unit values and weighted products round at 6dp into
  * DECIMAL sums (D1); ratios at 8dp before the Fisher sqrt; D2
  * output rounding.
  */
object PriceIndexQueries extends QueryFamily {

  private val cut = "1998-06-01 00:00:00"

  /** (era, part) unit values and quantities off one fact contraction. */
  private def eraPart(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("era",
        when(col("o_orderdate") < lit(cut).cast("timestamp"), 0).otherwise(1))
      .groupBy(col("era"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("spend"))
      .select(col("era"), col("l_partkey"), col("q").cast("double").as("q"),
        round(col("spend").cast("double") / col("q").cast("double"), 6)
          .as("p"))

  /** q_price_index — Laspeyres L = Σp₁q₀/Σp₀q₀, Paasche
    * P = Σp₁q₁/Σp₀q₁, Fisher F = √(L·P) over parts traded in BOTH
    * eras (unit values as era prices, base/current quantities as
    * weights). */
  def priceIndex(s: SparkSession, d: String): DataFrame = {
    val ep = eraPart(s, d)
    val e0 = ep.filter(col("era") === 0)
      .select(col("l_partkey"), col("q").as("q0"), col("p").as("p0"))
    val e1 = ep.filter(col("era") === 1)
      .select(col("l_partkey"), col("q").as("q1"), col("p").as("p1"))
    val m = e0.join(e1, "l_partkey").agg(
      count(lit(1)).as("n_parts"),
      sum(round(col("p1") * col("q0"), 6).cast("decimal(27,6)"))
        .cast("double").as("p1q0"),
      sum(round(col("p0") * col("q0"), 6).cast("decimal(27,6)"))
        .cast("double").as("p0q0"),
      sum(round(col("p1") * col("q1"), 6).cast("decimal(27,6)"))
        .cast("double").as("p1q1"),
      sum(round(col("p0") * col("q1"), 6).cast("decimal(27,6)"))
        .cast("double").as("p0q1"))
    val l = round(col("p1q0") / col("p0q0"), 8)
    val p = round(col("p1q1") / col("p0q1"), 8)
    m.select(col("n_parts"), l.as("laspeyres"), p.as("paasche"),
      round(sqrt(round(l * p, 8)), 6).as("fisher"))
  }

  val priceIndexOracle: String =
    """WITH j AS (SELECT l_partkey, l_quantity, l_extendedprice,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |      THEN 0 ELSE 1 END AS era
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |ep AS (SELECT era, l_partkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q,
      |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
      |      AS p
      |  FROM j GROUP BY 1, 2),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
      |    CAST(sum(CAST(round(e1.p*e0.q, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      AS p1q0,
      |    CAST(sum(CAST(round(e0.p*e0.q, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      AS p0q0,
      |    CAST(sum(CAST(round(e1.p*e1.q, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      AS p1q1,
      |    CAST(sum(CAST(round(e0.p*e1.q, 6) AS DECIMAL(27,6))) AS DOUBLE)
      |      AS p0q1
      |  FROM (SELECT * FROM ep WHERE era = 0) e0
      |  JOIN (SELECT * FROM ep WHERE era = 1) e1 USING (l_partkey))
      |SELECT n_parts,
      |  round(p1q0/p0q0, 8) AS laspeyres,
      |  round(p1q1/p0q1, 8) AS paasche,
      |  round(sqrt(round(round(p1q0/p0q0, 8)*round(p1q1/p0q1, 8), 8)), 6)
      |    AS fisher
      |FROM m""".stripMargin

  /** q_brand_share_shift — top-10 brand revenue-share movers between
    * the eras: per-era brand shares against broadcast era totals,
    * ranked by absolute share delta (TakeOrderedAndProject). */
  def brandShareShift(s: SparkSession, d: String): DataFrame = {
    val joined = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint: part is SF-proportional; the PK join is
      // parallel at scale and stats still broadcast at graded SF
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("era",
        when(col("o_orderdate") < lit(cut).cast("timestamp"), 0).otherwise(1))
    // (era, brand) revenue grid feeds the era totals + both share
    // legs — materialize once (round-8 scan gate: was 4 fact scans)
    val brandEra = joined.groupBy(col("era"), col("p_brand"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .truncatedCheckpoint()
    val tot = brandEra.groupBy(col("era")).agg(sum(col("rev")).as("t"))
    val shares = brandEra.join(broadcast(tot), "era")
      .select(col("era"), col("p_brand"),
        round(col("rev").cast("double") / col("t").cast("double"), 8)
          .as("share"))
    val s0 = shares.filter(col("era") === 0)
      .select(col("p_brand"), col("share").as("share0"))
    val s1 = shares.filter(col("era") === 1)
      .select(col("p_brand"), col("share").as("share1"))
    s0.join(s1, "p_brand")
      .select(col("p_brand"), col("share0"), col("share1"),
        round(col("share1") - col("share0"), 8).as("delta"))
      .orderBy(abs(col("delta")).desc, col("p_brand"))
      .limit(10)
  }

  val brandShareShiftOracle: String =
    """WITH j AS (SELECT p_brand, l_extendedprice,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |      THEN 0 ELSE 1 END AS era
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN part ON p_partkey = l_partkey),
      |be AS (SELECT era, p_brand,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM j GROUP BY 1, 2),
      |t AS (SELECT era, sum(rev) AS t FROM be GROUP BY 1),
      |sh AS (SELECT be.era, p_brand,
      |    round(CAST(rev AS DOUBLE)/CAST(t AS DOUBLE), 8) AS share
      |  FROM be JOIN t ON t.era = be.era)
      |SELECT p_brand,
      |  s0.share AS share0, s1.share AS share1,
      |  round(s1.share - s0.share, 8) AS delta
      |FROM (SELECT p_brand, share FROM sh WHERE era = 0) s0
      |JOIN (SELECT p_brand, share FROM sh WHERE era = 1) s1
      |  USING (p_brand)
      |ORDER BY abs(round(s1.share - s0.share, 8)) DESC, p_brand
      |LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_price_index" -> (priceIndex _),
    "q_brand_share_shift" -> (brandShareShift _))

  val oracle: Map[String, String] = Map(
    "q_price_index" -> priceIndexOracle,
    "q_brand_share_shift" -> brandShareShiftOracle)
}
