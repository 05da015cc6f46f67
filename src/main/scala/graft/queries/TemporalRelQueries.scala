package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Determinism._

/** Round-4 widening #14: temporal-relational operators — hierarchical
  * share-of-parent, point-in-time temporal join against a versioned
  * dimension, leakage-free point-in-time feature extraction, and
  * temperature-tempered corpus mixing weights.
  *
  * Scale notes (100 TB): share-of-parent joins two broadcast parent
  * aggregates (no window over the fact stream); the temporal join
  * derives validity intervals with lead() per entity (parallel
  * across entities) and joins facts BY KEY plus an interval band —
  * the SCD2 point-in-time lookup, key-partitioned like any equi
  * join; PIT features are strictly-earlier windows per entity (the
  * no-leakage contract: a feature computed at time t sees only
  * rows < t); mixing weights contract to |sources| rows first.
  *
  * Determinism: shares and weights from exact counts; sqrt (the
  * τ=0.5 temperature) is correctly-rounded IEEE in both engines;
  * intervals are closed-open on exact dates.
  */
object TemporalRelQueries extends QueryFamily {

  /** q_share_of_parent — hierarchical contribution: revenue per
    * (returnflag, linestatus) leaf, its share of the returnflag
    * parent, and the parent's share of the grand total — the drilldown
    * readout (leaf→parent→total) without any window. */
  def shareOfParent(s: SparkSession, d: String): DataFrame = {
    val leaf = lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(dsum(col("l_extendedprice")), 2).as("rev"))
    val parent = leaf.groupBy(col("l_returnflag"))
      .agg(round(sum(col("rev").cast("decimal(18,2)")).cast("double"), 2)
        .as("parent_rev"))
    val total = parent.agg(
      round(sum(col("parent_rev").cast("decimal(18,2)")).cast("double"), 2)
        .as("total_rev"))
    leaf.join(broadcast(parent), "l_returnflag")
      .crossJoin(broadcast(total))
      .select(col("l_returnflag"), col("l_linestatus"), col("rev"),
        round(col("rev") / col("parent_rev"), 6).as("share_of_parent"),
        round(col("parent_rev") / col("total_rev"), 6)
          .as("parent_share_of_total"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val shareOfParentOracle: String =
    """WITH leaf AS (SELECT l_returnflag, l_linestatus,
      |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
      |      AS DOUBLE), 2) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |parent AS (SELECT l_returnflag,
      |    round(CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS parent_rev
      |  FROM leaf GROUP BY 1),
      |tot AS (SELECT
      |    round(CAST(sum(CAST(parent_rev AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS total_rev
      |  FROM parent)
      |SELECT leaf.l_returnflag, leaf.l_linestatus, leaf.rev,
      |  round(leaf.rev/parent.parent_rev, 6) AS share_of_parent,
      |  round(parent.parent_rev/tot.total_rev, 6)
      |    AS parent_share_of_total
      |FROM leaf JOIN parent ON parent.l_returnflag = leaf.l_returnflag
      |CROSS JOIN tot
      |ORDER BY leaf.l_returnflag, leaf.l_linestatus""".stripMargin

  /** q_temporal_join — SCD2 point-in-time lookup: monthly loyalty-tier
    * versions per customer (cumulative order count → bronze/silver/
    * gold, validity [month, next-month)), then each order joined to
    * the version in force at its date; revenue by tier-at-purchase.
    * The join is key + interval band — the canonical "what did we
    * know then" dimension lookup. */
  def temporalJoin(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .groupBy(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    val versions = monthly
      .withColumn("cum", sum(col("n"))
        .over(wc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tier", when(col("cum") < 2, "bronze")
        .when(col("cum") < 5, "silver").otherwise("gold"))
      .withColumn("eff_start", col("m"))
      .withColumn("eff_end", coalesce(lead(col("m"), 1).over(wc),
        lit("9999-12-31").cast("date")))
      .select(col("o_custkey").as("v_custkey"), col("tier"),
        col("eff_start"), col("eff_end"))
    orders(s, d).join(versions,
        col("o_custkey") === col("v_custkey") &&
          to_date(col("o_orderdate")) >= col("eff_start") &&
          to_date(col("o_orderdate")) < col("eff_end"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("tier"))
  }

  val temporalJoinOracle: String =
    """WITH monthly AS (SELECT o_custkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |versions AS (SELECT o_custkey AS v_custkey,
      |    CASE WHEN CAST(sum(n) OVER w AS BIGINT) < 2 THEN 'bronze'
      |      WHEN CAST(sum(n) OVER w AS BIGINT) < 5 THEN 'silver'
      |      ELSE 'gold' END AS tier,
      |    m AS eff_start,
      |    coalesce(lead(m, 1) OVER (PARTITION BY o_custkey ORDER BY m),
      |      DATE '9999-12-31') AS eff_end
      |  FROM monthly
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT v.tier, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
      |    AS DOUBLE), 2) AS revenue
      |FROM orders o JOIN versions v
      |  ON v.v_custkey = o.o_custkey
      |  AND CAST(o.o_orderdate AS DATE) >= v.eff_start
      |  AND CAST(o.o_orderdate AS DATE) < v.eff_end
      |GROUP BY v.tier ORDER BY v.tier""".stripMargin

  /** q_pit_features — leakage-free point-in-time features: for every
    * order, the customer's STRICTLY-EARLIER order count and spend
    * (rows-between unbounded-preceding → 1-preceding over a unique
    * total order) — the feature-extraction contract that makes
    * training labels causally valid. */
  def pitFeatures(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    orders(s, d)
      .withColumn("past_orders",
        coalesce(count(lit(1)).over(w), lit(0L)))
      .withColumn("past_spend", round(coalesce(
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double"), lit(0.0)), 2))
      .select(col("o_orderkey"), col("o_custkey"), col("past_orders"),
        col("past_spend"))
      .orderBy(col("o_orderkey"))
  }

  val pitFeaturesOracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS past_orders,
      |  round(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4)))
      |    OVER w, 0) AS DOUBLE), 2) AS past_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |ORDER BY o_orderkey""".stripMargin

  /** q_mix_temper — temperature-tempered corpus mixing weights per
    * source (τ = 0.5 via sqrt — correctly-rounded IEEE in any
    * engine): raw token share, tempered weight, and the upsampling
    * factor low-resource sources gain — the mixture policy step of a
    * pre-training data pipeline. */
  def mixTemper(s: SparkSession, d: String): DataFrame = {
    // per-source frame feeds the total probe + share/z branches —
    // materialize once (round-8 scan gate: was 4 documents scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val per = documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .truncatedCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("t_tokens"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        round(col("n_tokens").cast("double") / col("t_tokens"), 8))
      .withColumn("w", round(sqrt(col("raw_share")), 8))
    val z = shared.agg(
      sum(col("w").cast("decimal(18,8)")).cast("double").as("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("raw_share"),
        round(col("w") / col("z"), 8).as("weight"),
        round(round(col("w") / col("z"), 8) / col("raw_share"), 4)
          .as("upsample"))
      .orderBy(col("source"))
  }

  val mixTemperOracle: String =
    """WITH per AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM per),
      |shared AS (SELECT per.*, tot.t_tokens,
      |    round(CAST(n_tokens AS DOUBLE)/tot.t_tokens, 8) AS raw_share,
      |    round(sqrt(round(CAST(n_tokens AS DOUBLE)/tot.t_tokens, 8)), 8)
      |      AS w
      |  FROM per CROSS JOIN tot),
      |z AS (SELECT CAST(sum(CAST(w AS DECIMAL(18,8))) AS DOUBLE) AS z
      |  FROM shared)
      |SELECT source, n_docs, n_tokens, raw_share,
      |  round(w/z.z, 8) AS weight,
      |  round(round(w/z.z, 8)/raw_share, 4) AS upsample
      |FROM shared CROSS JOIN z
      |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_share_of_parent" -> (shareOfParent _),
    "q_temporal_join" -> (temporalJoin _),
    "q_pit_features" -> (pitFeatures _),
    "q_mix_temper" -> (mixTemper _))

  val oracle: Map[String, String] = Map(
    "q_share_of_parent" -> shareOfParentOracle,
    "q_temporal_join" -> temporalJoinOracle,
    "q_pit_features" -> pitFeaturesOracle,
    "q_mix_temper" -> mixTemperOracle)
}
