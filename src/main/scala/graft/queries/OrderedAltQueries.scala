package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #74: ordered-alternative tests and the bandit
  * scorecard — Jonckheere–Terpstra (the ordered-groups upgrade of
  * Kruskal–Wallis: is quantity stochastically increasing in order
  * priority), Page's L (the ordered-alternative upgrade of Friedman
  * over matched day blocks), and per-arm UCB1 scores (the
  * deterministic exploration bonus every bandit scheduler ranks by).
  *
  * Scale notes (100 TB): JT contracts lineitem to the (dose ×
  * quantity-level) grid — 5×50 bounded — and takes all pairwise-group
  * comparisons from dense cumulative counts (doubled to stay in exact
  * integers, halved once at the end); Page reuses the Friedman
  * complete-block machinery (in-day rank windows see exactly |types|
  * rows); UCB is one keyed contraction. No partition-less windows —
  * the type-order index comes from a bounded self-join rank, not a
  * global window.
  *
  * Determinism: everything integer until the final z assembly;
  * ln(N) on an exact integer argument rounds at 8dp (house
  * protocol); row_number tie-breaks are spelled out. */
object OrderedAltQueries extends QueryFamily {

  /** q_jonckheere — JT test of l_quantity against the order-priority
    * dose (1–5): 2U accumulated in exact integers over the dense
    * (dose, level) cumulative grid, with the tie-uncorrected null
    * moments (reference JT form) and z. */
  def jonckheere(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("dose")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("dose"), col("l_quantity").cast("int").as("q"))
    // (dose, q) count grid feeds the dose/level spines + dense grid —
    // materialize once (round-8 scan gate: was 14 lineitem+orders
    // scans through re-embedded copies of the contraction)
    import graft.operators.CacheOps.CheckpointSyntax
    val cnt = base.groupBy(col("dose"), col("q")).agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val doses = cnt.select(col("dose")).distinct()
    val levels = cnt.select(col("q")).distinct()
    // dose domain is the 5 one-digit priorities — broadcast it so the
    // dense grid plans a BNLJ, not a CartesianProduct (which would
    // shuffle both sides into n×m partition pairs)
    val dense = broadcast(doses).crossJoin(levels)
      .join(cnt, Seq("dose", "q"), "left")
      .select(col("dose"), col("q"), coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("dose")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("cum", sum(col("c")).over(w))
    val tot = dense.groupBy(col("dose")).agg(sum(col("c")).as("ng"))
    val g = cum.join(broadcast(tot), "dose")
    val u2 = g.as("a")
      .join(broadcast(g.as("b")),
        col("a.q") === col("b.q") && col("a.dose") < col("b.dose"))
      .agg(sum(lit(2L) * col("a.c") * (col("b.ng") - col("b.cum"))
        + col("a.c") * col("b.c")).as("u2"))
    val moments = tot.agg(
      sum(col("ng")).as("nn"),
      sum(col("ng") * col("ng")).as("sn2"),
      sum(col("ng") * col("ng") * (lit(2L) * col("ng") + lit(3L)))
        .as("sn23"))
    val nD = col("nn").cast("double")
    val u = col("u2").cast("double") / lit(2.0)
    val e = (nD * nD - col("sn2").cast("double")) / lit(4.0)
    val v = (nD * nD * (lit(2.0) * nD + lit(3.0))
      - col("sn23").cast("double")) / lit(72.0)
    u2.crossJoin(broadcast(moments))
      .select(col("nn").as("n"), u.as("u_stat"),
        round(e, 2).as("e_u"), round(v, 2).as("var_u"),
        round((u - e) / sqrt(v), 6).as("z"))
  }

  val jonckheereOracle: String =
    """WITH base AS (SELECT
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS dose,
      |    CAST(l_quantity AS INT) AS q
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |cnt AS (SELECT dose, q, CAST(count(*) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2),
      |dense AS (SELECT d.dose, l.q, COALESCE(c, 0) AS c
      |  FROM (SELECT DISTINCT dose FROM cnt) d
      |  CROSS JOIN (SELECT DISTINCT q FROM cnt) l
      |  LEFT JOIN cnt ON cnt.dose = d.dose AND cnt.q = l.q),
      |cum AS (SELECT dose, q, c,
      |    sum(c) OVER (PARTITION BY dose ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM dense),
      |tot AS (SELECT dose, CAST(sum(c) AS BIGINT) AS ng
      |  FROM dense GROUP BY 1),
      |g AS (SELECT cum.*, ng FROM cum JOIN tot ON tot.dose = cum.dose),
      |u2 AS (SELECT CAST(sum(2*a.c*(b.ng - b.cum) + a.c*b.c) AS BIGINT)
      |    AS u2
      |  FROM g a JOIN g b ON b.q = a.q AND a.dose < b.dose),
      |m AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
      |    CAST(sum(ng*ng) AS BIGINT) AS sn2,
      |    CAST(sum(ng*ng*(2*ng + 3)) AS BIGINT) AS sn23
      |  FROM tot)
      |SELECT nn AS n, CAST(u2 AS DOUBLE)/2.0 AS u_stat,
      |  round((CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)
      |    - CAST(sn2 AS DOUBLE))/4.0, 2) AS e_u,
      |  round((CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)
      |      *(2.0*CAST(nn AS DOUBLE) + 3.0)
      |    - CAST(sn23 AS DOUBLE))/72.0, 2) AS var_u,
      |  round((CAST(u2 AS DOUBLE)/2.0
      |      - (CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)
      |        - CAST(sn2 AS DOUBLE))/4.0)
      |    /sqrt((CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)
      |        *(2.0*CAST(nn AS DOUBLE) + 3.0)
      |      - CAST(sn23 AS DOUBLE))/72.0), 6) AS z
      |FROM u2, m""".stripMargin

  /** q_page_trend — Page's L over complete calendar-day blocks:
    * within-day row_number ranks of the per-type counts (count, type
    * tie-break), type order = alphabetical index, L = Σ idx·R_type,
    * null moments E = b·k(k+1)²/4, Var = b·k²(k+1)(k²−1)/144. */
  def pageTrend(s: SparkSession, d: String): DataFrame = {
    // (day, type) grid feeds the k-spine, the dense filter, and the
    // type index — materialize once (round-8 scan gate)
    import graft.operators.CacheOps.CheckpointSyntax
    val grid = events(s, d)
      .groupBy(to_date(col("ts2")).as("day"), col("event_type").as("t"))
      .agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val k = grid.select(col("t")).distinct().agg(count(lit(1)).as("k"))
    val full = grid
      .withColumn("nt", count(lit(1))
        .over(Window.partitionBy(col("day"))))
      .crossJoin(broadcast(k)).filter(col("nt") === col("k"))
    val ranked = full.withColumn("r", row_number().over(
      Window.partitionBy(col("day")).orderBy(col("c"), col("t"))))
    val types = grid.select(col("t")).distinct()
    val idx = types.as("a").join(broadcast(types.as("b")), col("b.t") <= col("a.t"))
      .groupBy(col("a.t").as("t")).agg(count(lit(1)).as("ix"))
    val perType = ranked.join(broadcast(idx), "t")
      .groupBy(col("t"), col("ix")).agg(sum(col("r")).as("rsum"))
    val b = ranked.select(col("day")).distinct()
      .agg(count(lit(1)).as("b"))
    val l = perType.agg(sum(col("ix") * col("rsum")).as("l"),
      max(col("ix")).as("kk"))
    val kD = col("kk").cast("double"); val bD = col("b").cast("double")
    val e = bD * kD * (kD + 1) * (kD + 1) / lit(4.0)
    val v = bD * kD * kD * (kD + 1) * (kD * kD - 1) / lit(144.0)
    l.crossJoin(broadcast(b))
      .select(col("b").as("n_blocks"), col("kk").as("k"), col("l"),
        round(e, 2).as("e_l"),
        round((col("l").cast("double") - e) / sqrt(v), 6).as("z"))
  }

  val pageTrendOracle: String =
    """WITH grid AS (SELECT CAST(ts AS DATE) AS day, event_type AS t,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM grid),
      |full_b AS (SELECT day, t, c FROM (
      |    SELECT grid.*, count(*) OVER (PARTITION BY day) AS nt FROM grid),
      |    k WHERE nt = k),
      |ranked AS (SELECT day, t,
      |    row_number() OVER (PARTITION BY day ORDER BY c, t) AS r
      |  FROM full_b),
      |idx AS (SELECT a.t, CAST(count(*) AS BIGINT) AS ix
      |  FROM (SELECT DISTINCT t FROM grid) a
      |  JOIN (SELECT DISTINCT t FROM grid) b ON b.t <= a.t
      |  GROUP BY 1),
      |pertype AS (SELECT ranked.t, ix, CAST(sum(r) AS BIGINT) AS rsum
      |  FROM ranked JOIN idx ON idx.t = ranked.t GROUP BY 1, 2),
      |b AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS b FROM ranked),
      |l AS (SELECT CAST(sum(ix*rsum) AS BIGINT) AS l,
      |    CAST(max(ix) AS BIGINT) AS kk FROM pertype)
      |SELECT b AS n_blocks, kk AS k, l,
      |  round(CAST(b AS DOUBLE)*CAST(kk AS DOUBLE)
      |    *(CAST(kk AS DOUBLE) + 1)*(CAST(kk AS DOUBLE) + 1)/4.0, 2)
      |    AS e_l,
      |  round((CAST(l AS DOUBLE)
      |      - CAST(b AS DOUBLE)*CAST(kk AS DOUBLE)
      |        *(CAST(kk AS DOUBLE) + 1)*(CAST(kk AS DOUBLE) + 1)/4.0)
      |    /sqrt(CAST(b AS DOUBLE)*CAST(kk AS DOUBLE)*CAST(kk AS DOUBLE)
      |      *(CAST(kk AS DOUBLE) + 1)
      |      *(CAST(kk AS DOUBLE)*CAST(kk AS DOUBLE) - 1)/144.0), 6) AS z
      |FROM l, b""".stripMargin

  /** q_ucb — UCB1 scores per event-type "arm": mean reward (value)
    * plus the √(2 ln N / n) exploration bonus, ranked. */
  def ucb(s: SparkSession, d: String): DataFrame = {
    val arms = events(s, d).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).as("sv"))
    val tot = arms.agg(sum(col("n")).as("nn"))
    val mean = round(col("sv").cast("double") / col("n").cast("double"), 6)
    arms.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"), mean.as("mean_reward"),
        round(sqrt(round(lit(2.0) * round(log(col("nn").cast("double")), 8)
          / col("n").cast("double"), 8)), 6).as("bonus"))
      .withColumn("ucb", round(col("mean_reward") + col("bonus"), 6))
      .orderBy(col("ucb").desc, col("event_type"))
  }

  val ucbOracle: String =
    """WITH arms AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM arms)
      |SELECT event_type, n,
      |  round(sv/CAST(n AS DOUBLE), 6) AS mean_reward,
      |  round(sqrt(round(2.0*round(ln(CAST(nn AS DOUBLE)), 8)
      |    /CAST(n AS DOUBLE), 8)), 6) AS bonus,
      |  round(round(sv/CAST(n AS DOUBLE), 6)
      |    + round(sqrt(round(2.0*round(ln(CAST(nn AS DOUBLE)), 8)
      |      /CAST(n AS DOUBLE), 8)), 6), 6) AS ucb
      |FROM arms, tot
      |ORDER BY ucb DESC, event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jonckheere" -> (jonckheere _),
    "q_page_trend" -> (pageTrend _),
    "q_ucb" -> (ucb _))

  val oracle: Map[String, String] = Map(
    "q_jonckheere" -> jonckheereOracle,
    "q_page_trend" -> pageTrendOracle,
    "q_ucb" -> ucbOracle)
}
