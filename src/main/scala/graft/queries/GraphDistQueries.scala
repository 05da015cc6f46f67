package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #62: iterative graph peeling and optimal-
  * transport distance — a 3-round k-core peel over the weighted
  * nation trade graph (the degeneracy-ordering building block:
  * each round drops nodes whose CURRENT degree < k, synchronously),
  * and the exact 1-D Wasserstein-1 (earth mover's) distance between
  * the weekend and weekday value distributions — the integral
  * sibling of q_ks_test's max-gap statistic.
  *
  * Scale notes (100 TB): each peel round is a degree aggregation +
  * semi-join on the surviving edge set (keyed shuffles only; the
  * round count is a fixed constant, so the plan is a bounded
  * composition — the same synchronous-rounds shape as q_label_prop);
  * wasserstein contracts to the distinct-value domain, runs ONE
  * distributed prefix pass for both CDFs, and pairs consecutive
  * support points by the rank-to-rank+1 equi-join (the q_minhash_est
  * de-funneling idiom — no partition-less lead anywhere).
  *
  * Determinism: the edge threshold is RELATIVE (1.1× the mean pair
  * weight, broadcast 1-row aggregate) so the graph shape is
  * SF-proportional; degrees and CDF counts are exact integers; CDF
  * gaps and interval terms round at 10dp into DECIMAL sums (D2).
  */
object GraphDistQueries extends QueryFamily {

  /** Weighted undirected nation trade edges above 1.1× mean weight. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val raw = customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("src"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      // supplier is SF-proportional (~1 B rows at 100 TB SF) — no
      // broadcast hint: the suppkey join is parallel at scale and
      // graded-SF stats still broadcast unaided. (This subtree sits
      // under the peel rounds' localCheckpoint, so the plan gate
      // cannot see it — the source rule has to hold here.)
      .join(supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("dst")), col("s_suppkey") === col("l_suppkey"))
      .filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(count(lit(1)).as("w"))
    val thr = raw.agg(avg(col("w")).as("mw"))
    raw.crossJoin(broadcast(thr))
      .filter(col("w").cast("double") >= lit(1.1) * col("mw"))
      .select(col("a"), col("b"))
  }

  /** q_kcore_peel — 3 synchronous peel rounds at k=4: per round,
    * drop every node whose degree in the CURRENT graph is < k and
    * keep only edges between survivors; report surviving nodes with
    * their final degrees. */
  def kcorePeel(s: SparkSession, d: String): DataFrame = {
    val k = 4
    // The 4-way customer⋈orders⋈lineitem⋈supplier edge build appears
    // once per peel round in the final DAG by reference; persist the
    // tiny thresholded edge list (≤ nation² rows) so the expensive
    // base build runs exactly once, released via CacheOps.finalized.
    val base = edges(s, d).persist()
    var e = base
    for (_ <- 1 to 3) {
      // node alias `na` (nation endpoint, lowCardNames) rather than a
      // generic `n`: the survivors frame is an Aggregate on this key,
      // and the name is what lets the round-7 strategy-blind join gate
      // prove the per-round semi-joins bounded through the checkpoint
      // registry chain
      val deg = e.select(col("a").as("na")).unionAll(e.select(col("b").as("na")))
        .groupBy(col("na")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("na"))
      // localCheckpoint per round: `e` appears ~5× in the next
      // round's plan (twice in deg, twice via keep's two renames,
      // once as the join left), so the unrolled 3-round DAG otherwise
      // re-references the base ~5³ times — ReuseExchange hides most
      // of it at plain config, but AQE materializes every replicated
      // stage (measured 121.6 s solo at sf0.1 shuffle=64; 4.6 s with
      // the truncation) and even plain planning walks the 125-branch
      // tree (7.2 s → 2.7 s solo). Each checkpoint is a ≤|nations|²
      // -row frame — the dedup-cluster iterative pattern.
      e = e.join(keep.withColumnRenamed("na", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("na", "b"), Seq("b"), "left_semi")
        .truncatedCheckpoint()
    }
    val out = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .orderBy(col("n"))
    graft.operators.CacheOps.finalized(out, base)
  }

  val kcorePeelOracle: String =
    """WITH raw AS MATERIALIZED (SELECT least(c_nationkey, s_nationkey) AS a,
      |    greatest(c_nationkey, s_nationkey) AS b,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM customer
      |  JOIN orders ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  WHERE c_nationkey <> s_nationkey
      |  GROUP BY 1, 2),
      |thr AS (SELECT avg(w) AS mw FROM raw),
      |e0 AS MATERIALIZED (SELECT a, b FROM raw CROSS JOIN thr
      |  WHERE CAST(w AS DOUBLE) >= 1.1 * mw),
      |d1 AS MATERIALIZED (SELECT n, count(*) AS deg FROM
      |  (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
      |k1 AS MATERIALIZED (SELECT n FROM d1 WHERE deg >= 4),
      |e1 AS MATERIALIZED (SELECT a, b FROM e0
      |  WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
      |d2 AS MATERIALIZED (SELECT n, count(*) AS deg FROM
      |  (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
      |k2 AS MATERIALIZED (SELECT n FROM d2 WHERE deg >= 4),
      |e2 AS MATERIALIZED (SELECT a, b FROM e1
      |  WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2)),
      |d3 AS MATERIALIZED (SELECT n, count(*) AS deg FROM
      |  (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
      |k3 AS MATERIALIZED (SELECT n FROM d3 WHERE deg >= 4),
      |e3 AS MATERIALIZED (SELECT a, b FROM e2
      |  WHERE a IN (SELECT n FROM k3) AND b IN (SELECT n FROM k3))
      |SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_wasserstein1 — exact W₁ between weekend and weekday value
    * distributions: both empirical CDFs off ONE distributed prefix
    * pass over the merged distinct-value support, consecutive
    * support points paired rank-to-rank+1, W₁ = Σ|F₁−F₂|·Δx. */
  def wasserstein1(s: SparkSession, d: String): DataFrame = {
    val t = events(s, d).select(col("value"),
      date_format(col("ts2"), "EEEE").isin("Saturday", "Sunday").as("we"))
    val byVal = t.groupBy(col("value")).agg(
      count(when(col("we"), lit(1))).as("cwe"),
      count(when(!col("we"), lit(1))).as("cwd"))
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")),
      Seq("cum_we" -> col("cwe"), "cum_wd" -> col("cwd"),
        "rnk" -> lit(1L)))
    val tot = t.agg(
      count(when(col("we"), lit(1))).as("n_we"),
      count(when(!col("we"), lit(1))).as("n_wd"))
    val nxt = cum.select((col("rnk") - 1).as("rnk_nx"),
      col("value").as("v_next"))
    val terms = cum.join(nxt, col("rnk") === col("rnk_nx"))
      .crossJoin(broadcast(tot))
      .select(round(abs(
          round(col("cum_we").cast("double") / col("n_we").cast("double"), 8)
          - round(col("cum_wd").cast("double") / col("n_wd").cast("double"), 8))
        * (col("v_next") - col("value")), 10).as("term"))
    terms.agg(
        sum(col("term").cast("decimal(27,10)")).cast("double").as("w1raw"))
      .select(round(col("w1raw"), 6).as("wasserstein1"))
  }

  val wasserstein1Oracle: String =
    """WITH t AS (SELECT value,
      |    dayname(ts) IN ('Saturday','Sunday') AS we FROM events),
      |byval AS (SELECT value,
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS cwe,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS cwd
      |  FROM t GROUP BY 1),
      |cum AS (SELECT value,
      |    sum(cwe) OVER w AS cum_we, sum(cwd) OVER w AS cum_wd,
      |    lead(value) OVER (ORDER BY value) AS v_next
      |  FROM byval
      |  WINDOW w AS (ORDER BY value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT
      |    CAST(count(CASE WHEN we THEN 1 END) AS BIGINT) AS n_we,
      |    CAST(count(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS n_wd
      |  FROM t),
      |terms AS (SELECT round(abs(
      |      round(CAST(cum_we AS DOUBLE)/CAST(n_we AS DOUBLE), 8)
      |      - round(CAST(cum_wd AS DOUBLE)/CAST(n_wd AS DOUBLE), 8))
      |    * (v_next - value), 10) AS term
      |  FROM cum CROSS JOIN tot WHERE v_next IS NOT NULL)
      |SELECT round(CAST(sum(CAST(term AS DECIMAL(27,10))) AS DOUBLE), 6)
      |  AS wasserstein1
      |FROM terms""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kcore_peel" -> (kcorePeel _),
    "q_wasserstein1" -> (wasserstein1 _))

  val oracle: Map[String, String] = Map(
    "q_kcore_peel" -> kcorePeelOracle,
    "q_wasserstein1" -> wasserstein1Oracle)
}
