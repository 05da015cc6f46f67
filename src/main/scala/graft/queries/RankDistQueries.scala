package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #108: full-permutation rank distances — Spearman
  * footrule and Kendall tau distance between the early-era and
  * late-era brand revenue rankings (the whole-permutation
  * complements to q_rbo's top-weighted overlap and q_rank_corr's
  * correlation).
  *
  * The Spark-first detail: ranks are computed WITHOUT any window —
  * r(b) = 1 + |{b′ : rev(b′) > rev(b)}| via a self-join on the
  * CONTRACTED |brands| domain (25 rows), so there is no
  * partition-less rank funnel to allowlist; the Kendall distance is
  * exact discordant-pair counting on the |brands|² grid.
  *
  * Determinism: revenues are exact decimal sums; rank ties break on
  * brand name inside the join predicate itself; distances are exact
  * integers with 6dp normalized forms. */
object RankDistQueries extends QueryFamily {

  /** q_footrule — footrule and Kendall distances + normalized forms. */
  def footrule(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      // no broadcast hint on the SF-proportional part dim
      .join(part(s, d).select(col("p_partkey"),
        col("p_brand")), col("l_partkey") === col("p_partkey"))
    def era(cond: org.apache.spark.sql.Column, name: String): DataFrame = {
      // per-era brand revenue feeds both rank-join legs —
      // materialize once (round-8 scan gate: was 4 fact scans)
      val rev = li.filter(cond).groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(27,4)")).as("rev"))
        .truncatedCheckpoint()
      val a = rev.select(col("p_brand").as("b"), col("rev").as("r"))
      val b = rev.select(col("p_brand").as("b2"), col("rev").as("r2"))
      a.join(broadcast(b), col("r2") > col("r") ||
          (col("r2") === col("r") && col("b2") < col("b")), "left")
        .groupBy(col("b"))
        .agg((count(col("b2")) + 1).as(name))
    }
    val r1 = era(col("l_shipdate") < lit("1998-01-01"), "rank1")
    val r2 = era(col("l_shipdate") >= lit("1998-01-01"), "rank2")
    // |brands|-row rank table feeds the total/footrule folds and both
    // sides of the concordance self-join — materialize once (round-8
    // scan gate: was 14 lineitem+part scans)
    val both = r1.join(r2, "b").truncatedCheckpoint()
    val n = both.agg(count(lit(1)).as("n"))
    val fr = both.agg(sum(abs(col("rank1") - col("rank2"))).as("footrule"))
    val p1 = both.select(col("b").as("ba"), col("rank1").as("a1"),
      col("rank2").as("a2"))
    val p2 = both.select(col("b").as("bb"), col("rank1").as("b1"),
      col("rank2").as("b2"))
    val kd = p1.join(broadcast(p2), col("ba") < col("bb"))
      .agg(sum(when((col("a1") < col("b1")) =!= (col("a2") < col("b2")),
        lit(1L)).otherwise(lit(0L))).as("kendall_dist"))
    def f(c: String) = col(c).cast("double")
    fr.crossJoin(broadcast(kd)).crossJoin(broadcast(n))
      .select(col("n"), col("footrule"), col("kendall_dist"),
        round(f("footrule")
          / (f("n") * f("n") / lit(2.0)), 6).as("footrule_norm"),
        round(f("kendall_dist")
          / (f("n") * (f("n") - lit(1.0)) / lit(2.0)), 6)
          .as("kendall_norm"))
  }

  val footruleOracle: String =
    """WITH li AS (SELECT l_shipdate, p_brand,
      |    l_extendedprice, l_discount
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |rev1 AS (SELECT p_brand AS b,
      |    sum(CAST(l_extendedprice*(1.0 - l_discount) AS DECIMAL(27,4)))
      |      AS r
      |  FROM li WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1),
      |rank1 AS (SELECT a.b, CAST(count(c.b) + 1 AS BIGINT) AS rank1
      |  FROM rev1 a LEFT JOIN rev1 c
      |    ON c.r > a.r OR (c.r = a.r AND c.b < a.b)
      |  GROUP BY a.b),
      |rev2 AS (SELECT p_brand AS b,
      |    sum(CAST(l_extendedprice*(1.0 - l_discount) AS DECIMAL(27,4)))
      |      AS r
      |  FROM li WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1),
      |rank2 AS (SELECT a.b, CAST(count(c.b) + 1 AS BIGINT) AS rank2
      |  FROM rev2 a LEFT JOIN rev2 c
      |    ON c.r > a.r OR (c.r = a.r AND c.b < a.b)
      |  GROUP BY a.b),
      |br AS (SELECT rank1.b, rank1, rank2
      |  FROM rank1 JOIN rank2 ON rank2.b = rank1.b),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM br),
      |fr AS (SELECT CAST(sum(abs(rank1 - rank2)) AS BIGINT)
      |    AS footrule FROM br),
      |kd AS (SELECT CAST(sum(CASE WHEN (a.rank1 < c.rank1)
      |        <> (a.rank2 < c.rank2) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS kendall_dist
      |  FROM br a JOIN br c ON a.b < c.b)
      |SELECT n, footrule, kendall_dist,
      |  round(CAST(footrule AS DOUBLE)
      |    /(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)/2.0), 6)
      |    AS footrule_norm,
      |  round(CAST(kendall_dist AS DOUBLE)
      |    /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)/2.0), 6)
      |    AS kendall_norm
      |FROM fr, kd, n""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_footrule" -> (footrule _))

  val oracle: Map[String, String] = Map(
    "q_footrule" -> footruleOracle)
}
