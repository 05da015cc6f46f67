package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.CacheOps.CheckpointSyntax

/** Round-4 widening #71: node-centrality completions on the nation
  * trade graph — eigenvector centrality by three normalized power
  * iterations (the symmetric-prestige companion to q_pagerank /
  * q_hits), and 3-hop truncated harmonic closeness on the strong-tie
  * subgraph (the distance-based centrality the BFS shelf was
  * missing).
  *
  * Scale notes (100 TB): both contract the fact-sized join tree to
  * the ≤|V|² edge list first; each power iteration is one |E|-row
  * join + keyed sum against the broadcast |V|-row score vector
  * (normalize-per-round keeps magnitudes bounded at ANY scale —
  * unnormalized integer powers overflow by iteration 3 at 100 TB);
  * the BFS closure is two rounds of |E|⋈|frontier| joins with
  * set-difference semi-joins, all on the bounded graph.
  *
  * Determinism: edge weights exact longs; normalized scores round at
  * 8dp after each division; per-term products round at 6dp into
  * decimal sums; harmonic sums are single closed expressions over
  * integer hop counts; final 6dp. */
object CentralityQueries extends QueryFamily {

  /** q_eigenvector — in-edge eigenvector centrality after 3 power
    * iterations with per-round max-normalization: x⁰ = 1,
    * x^(r+1) ∝ Aᵀ x^(r), scores reported relative to the round-3
    * max. */
  def eigenvector(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d).persist()
    // round 1: x1 = in-weight (exact longs), normalized at 8dp
    val x1 = e.groupBy(col("nb").as("node")).agg(sum(col("w")).as("x"))
    val m1 = x1.agg(max(col("x")).as("mx"))
    val n1 = x1.crossJoin(broadcast(m1))
      .select(col("node"),
        round(col("x").cast("double") / col("mx").cast("double"), 8)
          .as("xn"))
    def iterate(prev: DataFrame): DataFrame = {
      val next = e.join(broadcast(prev), col("na") === col("node"))
        .groupBy(col("nb").as("node"))
        .agg(sum(round(col("w").cast("double") * col("xn"), 6)
          .cast("decimal(27,6)")).cast("double").as("x"))
      val mx = next.agg(max(col("x")).as("mx"))
      // localCheckpoint per power iteration: the normalize step
      // references `next` twice (max + join) so the chained rounds
      // replicate the tree 2^r× (q_kcore_peel pattern); the frame is
      // |nations| rows
      next.crossJoin(broadcast(mx))
        .select(col("node"), round(col("x") / col("mx"), 8).as("xn"))
        .truncatedCheckpoint()
    }
    val n3 = iterate(iterate(n1))
    graft.operators.CacheOps.finalized(
      nation(s, d).select(col("n_nationkey"), col("n_name"))
        .join(n3, col("node") === col("n_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
          round(coalesce(col("xn"), lit(0.0)), 6).as("eigen_c"))
        .orderBy(col("n_nationkey")),
      e)
  }

  val eigenvectorOracle: String =
    s"""WITH e AS MATERIALIZED ($tradeEdgesSql),
      |x1 AS MATERIALIZED (SELECT dst AS node, CAST(sum(w) AS BIGINT) AS x
      |  FROM e GROUP BY 1),
      |n1 AS MATERIALIZED (SELECT node,
      |    round(CAST(x AS DOUBLE)
      |      /CAST((SELECT max(x) FROM x1) AS DOUBLE), 8) AS xn
      |  FROM x1),
      |x2 AS MATERIALIZED (SELECT dst AS node,
      |    CAST(sum(CAST(round(CAST(w AS DOUBLE)*xn, 6)
      |      AS DECIMAL(27,6))) AS DOUBLE) AS x
      |  FROM e JOIN n1 ON n1.node = e.src GROUP BY 1),
      |n2 AS MATERIALIZED (SELECT node,
      |    round(x/(SELECT max(x) FROM x2), 8) AS xn FROM x2),
      |x3 AS MATERIALIZED (SELECT dst AS node,
      |    CAST(sum(CAST(round(CAST(w AS DOUBLE)*xn, 6)
      |      AS DECIMAL(27,6))) AS DOUBLE) AS x
      |  FROM e JOIN n2 ON n2.node = e.src GROUP BY 1),
      |n3 AS MATERIALIZED (SELECT node,
      |    round(x/(SELECT max(x) FROM x3), 8) AS xn FROM x3)
      |SELECT n_nationkey, n_name,
      |  round(COALESCE(xn, 0.0), 6) AS eigen_c
      |FROM nation LEFT JOIN n3 ON node = n_nationkey
      |ORDER BY n_nationkey""".stripMargin

  /** q_closeness — 3-hop truncated harmonic closeness on the
    * strong-tie undirected subgraph (edges above 1.1× mean weight,
    * the q_kcore_peel threshold idiom): per node,
    * HC = c₁ + c₂/2 + c₃/3 where c_h counts nodes first reached at
    * hop h; nodes beyond 3 hops contribute 0 (truncated variant). */
  def closeness(s: SparkSession, d: String): DataFrame = {
    val raw = tradeEdges(s, d).filter(col("na") =!= col("nb"))
      .groupBy(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .agg(sum(col("w")).as("w"))
    val thr = raw.agg(avg(col("w")).as("mw"))
    val und = raw.crossJoin(broadcast(thr))
      .filter(col("w").cast("double") >= lit(1.1) * col("mw"))
      .select(col("a"), col("b")).persist()
    // localCheckpoint per hop frontier: h1 appears 3× in h2 and h2
    // twice in h3, so the unchecked DAG re-references h1 ~12× —
    // ReuseExchange hides it at plain config but AQE re-materializes
    // the replicated stages (q_kcore_peel pattern; each frame is
    // ≤|nations|² rows)
    val h1 = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v"))).distinct()
      .truncatedCheckpoint()
    val h2 = h1.as("x").join(h1.as("y"), col("x.v") === col("y.u"))
      .select(col("x.u").as("u"), col("y.v").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .join(h1, Seq("u", "v"), "left_anti")
      .truncatedCheckpoint()
    val h3 = h2.as("x").join(h1.as("y"), col("x.v") === col("y.u"))
      .select(col("x.u").as("u"), col("y.v").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .join(h1, Seq("u", "v"), "left_anti")
      .join(h2, Seq("u", "v"), "left_anti")
    val counts = h1.groupBy(col("u")).agg(count(lit(1)).as("c1"))
      .join(h2.groupBy(col("u")).agg(count(lit(1)).as("c2")), Seq("u"), "left")
      .join(h3.groupBy(col("u")).agg(count(lit(1)).as("c3")), Seq("u"), "left")
    graft.operators.CacheOps.finalized(
      counts.select(col("u").as("node"),
          col("c1"), coalesce(col("c2"), lit(0L)).as("c2"),
          coalesce(col("c3"), lit(0L)).as("c3"))
        .withColumn("harmonic_c",
          round(col("c1").cast("double")
            + col("c2").cast("double") / lit(2.0)
            + col("c3").cast("double") / lit(3.0), 6))
        .orderBy(col("node")),
      und)
  }

  val closenessOracle: String =
    s"""WITH e AS MATERIALIZED ($tradeEdgesSql),
      |raw AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |    CAST(sum(w) AS BIGINT) AS w
      |  FROM e WHERE src <> dst GROUP BY 1, 2),
      |thr AS (SELECT avg(w) AS mw FROM raw),
      |und AS MATERIALIZED (SELECT a, b FROM raw, thr
      |  WHERE CAST(w AS DOUBLE) >= 1.1*mw),
      |h1 AS MATERIALIZED (SELECT a AS u, b AS v FROM und
      |  UNION SELECT b, a FROM und),
      |h2 AS MATERIALIZED (SELECT DISTINCT x.u, y.v
      |  FROM h1 x JOIN h1 y ON y.u = x.v
      |  WHERE x.u <> y.v
      |    AND NOT EXISTS (SELECT 1 FROM h1
      |      WHERE h1.u = x.u AND h1.v = y.v)),
      |h3 AS MATERIALIZED (SELECT DISTINCT x.u, y.v
      |  FROM h2 x JOIN h1 y ON y.u = x.v
      |  WHERE x.u <> y.v
      |    AND NOT EXISTS (SELECT 1 FROM h1
      |      WHERE h1.u = x.u AND h1.v = y.v)
      |    AND NOT EXISTS (SELECT 1 FROM h2 z
      |      WHERE z.u = x.u AND z.v = y.v)),
      |c1 AS (SELECT u, CAST(count(*) AS BIGINT) AS c1 FROM h1 GROUP BY 1),
      |c2 AS (SELECT u, CAST(count(*) AS BIGINT) AS c2 FROM h2 GROUP BY 1),
      |c3 AS (SELECT u, CAST(count(*) AS BIGINT) AS c3 FROM h3 GROUP BY 1)
      |SELECT c1.u AS node, c1.c1,
      |  COALESCE(c2.c2, 0) AS c2, COALESCE(c3.c3, 0) AS c3,
      |  round(CAST(c1.c1 AS DOUBLE)
      |    + CAST(COALESCE(c2.c2, 0) AS DOUBLE)/2.0
      |    + CAST(COALESCE(c3.c3, 0) AS DOUBLE)/3.0, 6) AS harmonic_c
      |FROM c1 LEFT JOIN c2 ON c2.u = c1.u LEFT JOIN c3 ON c3.u = c1.u
      |ORDER BY node""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eigenvector" -> (eigenvector _),
    "q_closeness" -> (closeness _))

  val oracle: Map[String, String] = Map(
    "q_eigenvector" -> eigenvectorOracle,
    "q_closeness" -> closenessOracle)
}
