package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #48: categorical-encoding and inequality/risk
  * economics — weight-of-evidence encoding with its information
  * value (the credit-scoring standard next to q_target_encode),
  * rare-category collapse (the cardinality guard every encoder needs
  * first), the decile Lorenz curve (the curve behind q_gini), and
  * Sharpe/Sortino ratios on daily revenue returns.
  *
  * Scale notes (100 TB): WoE/collapse contract to |categories| rows
  * then broadcast the total back; the Lorenz running share reuses the
  * distributed prefix + reconstructed ntile
  * ([[graft.operators.PrefixOps]], the q_rfm shape) with the final
  * 10-row cumulative done as a bounded decile×decile self-join;
  * returns come from a day=day+1 keyed self-join on the bounded
  * calendar — no windows anywhere.
  *
  * Determinism: counts exact; Laplace-adjusted distributions round
  * to 8dp before ln (6dp out); spend/returns are DECIMAL sums with
  * rounded products (D2).
  */
object EncodingEconQueries extends QueryFamily {

  /** q_woe_iv — weight of evidence per order priority for the target
    * "order exceeds 100k", with 0.5 Laplace smoothing:
    * WoE_c = ln(dist_good_c / dist_bad_c), IV = Σ (dg − db)·WoE.
    * The IV total repeats on every row (broadcast 1-row join). */
  def woeIv(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderpriority").as("priority"),
      (col("o_totalprice") > 100000.0).as("good"))
    // 5-row category grid feeds the smoothed totals + WoE/IV folds —
    // materialize once (round-8 scan gate: was 4 orders scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val byCat = o.groupBy(col("priority")).agg(
      count(when(col("good"), lit(1))).as("n_good"),
      count(when(!col("good"), lit(1))).as("n_bad"))
      .truncatedCheckpoint()
    val tot = byCat.agg(
      sum(col("n_good") + lit(0.5)).as("g_tot"),
      sum(col("n_bad") + lit(0.5)).as("b_tot"))
    val scored = byCat.crossJoin(broadcast(tot))
      .withColumn("dg", round((col("n_good") + 0.5) / col("g_tot"), 8))
      .withColumn("db", round((col("n_bad") + 0.5) / col("b_tot"), 8))
      .withColumn("woe", round(log(col("dg") / col("db")), 6))
      .withColumn("iv_c",
        round((col("dg") - col("db")) * round(log(col("dg") / col("db")), 6), 8))
    val iv = scored.agg(
      round(sum(col("iv_c").cast("decimal(18,8)")).cast("double"), 6).as("iv"))
    scored.crossJoin(broadcast(iv))
      .select(col("priority"), col("n_good"), col("n_bad"), col("woe"),
        round(col("iv_c"), 6).as("iv_c"), col("iv"))
      .orderBy(col("priority"))
  }

  val woeIvOracle: String =
    """WITH o AS (SELECT o_orderpriority AS priority,
      |    o_totalprice > 100000.0 AS good FROM orders),
      |byc AS (SELECT priority,
      |    CAST(count(CASE WHEN good THEN 1 END) AS BIGINT) AS n_good,
      |    CAST(count(CASE WHEN NOT good THEN 1 END) AS BIGINT) AS n_bad
      |  FROM o GROUP BY 1),
      |tot AS (SELECT sum(n_good + 0.5) AS g_tot, sum(n_bad + 0.5) AS b_tot
      |  FROM byc),
      |sc AS (SELECT priority, n_good, n_bad,
      |    round((n_good + 0.5)/g_tot, 8) AS dg,
      |    round((n_bad + 0.5)/b_tot, 8) AS db
      |  FROM byc CROSS JOIN tot),
      |sc2 AS (SELECT priority, n_good, n_bad,
      |    round(ln(dg/db), 6) AS woe,
      |    round((dg - db)*round(ln(dg/db), 6), 8) AS iv_c
      |  FROM sc),
      |iv AS (SELECT round(CAST(sum(CAST(iv_c AS DECIMAL(18,8))) AS DOUBLE),
      |    6) AS iv FROM sc2)
      |SELECT priority, n_good, n_bad, woe, round(iv_c, 6) AS iv_c, iv
      |FROM sc2 CROSS JOIN iv ORDER BY priority""".stripMargin

  /** q_rare_collapse — part types with corpus share < 1% collapse to
    * 'OTHER' before counting: category counts, broadcast total,
    * conditional relabel, re-aggregate. The cardinality guard that
    * precedes any one-hot/WoE encoding of a high-cardinality
    * column. */
  def rareCollapse(s: SparkSession, d: String): DataFrame = {
    val byType = part(s, d).groupBy(col("p_type")).agg(count(lit(1)).as("n"))
    val tot = byType.agg(sum(col("n")).cast("long").as("n_tot"))
    byType.crossJoin(broadcast(tot))
      .withColumn("category",
        when(col("n").cast("double") / col("n_tot").cast("double") < 0.01,
          lit("OTHER")).otherwise(col("p_type")))
      .groupBy(col("category"))
      .agg(sum(col("n")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_merged"),
        max(col("n_tot")).as("n_tot"))
      .select(col("category"), col("n"), col("n_merged"),
        round(col("n").cast("double") / col("n_tot").cast("double"), 6)
          .as("share"))
      .orderBy(col("n").desc, col("category"))
  }

  val rareCollapseOracle: String =
    """WITH byt AS (SELECT p_type, CAST(count(*) AS BIGINT) AS n
      |  FROM part GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM byt),
      |lab AS (SELECT CASE WHEN CAST(n AS DOUBLE)/CAST(n_tot AS DOUBLE) < 0.01
      |    THEN 'OTHER' ELSE p_type END AS category, n, n_tot
      |  FROM byt CROSS JOIN tot)
      |SELECT category, CAST(sum(n) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_merged,
      |  round(CAST(sum(n) AS DOUBLE)/CAST(max(n_tot) AS DOUBLE), 6) AS share
      |FROM lab GROUP BY 1 ORDER BY n DESC, category""".stripMargin

  /** q_lorenz — the Lorenz curve at customer-spend deciles: deciles
    * from the distributed running row-number (PrefixOps + ntile
    * reconstruction, ordered by spend ascending), per-decile spend,
    * and the cumulative share via a bounded decile≤decile self-join
    * (10×10 pairs — no window). */
  def lorenz(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PrefixOps
    val byCust = orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val tot = byCust.agg(count(lit(1)).as("n_cust"),
      sum(col("spend")).as("s_tot"))
    val rn = PrefixOps.runningSums(
      byCust.crossJoin(broadcast(tot)),
      col("spend"), Seq(col("spend"), col("o_custkey")),
      Seq("__rn" -> lit(1L)))
    val deciles = rn
      .withColumn("decile",
        PrefixOps.ntileFromRowNumber(col("__rn"), col("n_cust"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("spend")).as("spend_d"),
        max(col("s_tot")).as("s_tot"))
    val cum = deciles.alias("a")
      .join(broadcast(deciles.select(col("decile").as("d2"),
        col("spend_d").as("spend2"))), col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n"), col("s_tot"))
      .agg(sum(col("spend2")).as("cum_spend"))
    cum.select(col("decile"), col("n"),
        round(col("cum_spend").cast("double") / col("s_tot").cast("double"),
          6).as("cum_share"))
      .orderBy(col("decile"))
  }

  val lorenzOracle: String =
    """WITH byc AS (SELECT o_custkey,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1),
      |t AS (SELECT ntile(10) OVER (ORDER BY spend, o_custkey) AS decile,
      |    spend, sum(spend) OVER () AS s_tot
      |  FROM byc),
      |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |    sum(spend) AS spend_d, max(s_tot) AS s_tot
      |  FROM t GROUP BY 1)
      |SELECT a.decile, a.n,
      |  round(CAST(sum(b.spend_d) AS DOUBLE)/CAST(max(a.s_tot) AS DOUBLE), 6)
      |    AS cum_share
      |FROM d a JOIN d b ON b.decile <= a.decile
      |GROUP BY a.decile, a.n ORDER BY a.decile""".stripMargin

  /** q_sharpe — annualized Sharpe and Sortino of daily revenue
    * simple returns: r_t = rev_t/rev_{t−1} − 1 from a day=day+1
    * keyed self-join on the bounded calendar (no window), sample
    * stddev / downside deviation from DECIMAL moments, ×√252. */
  def sharpe(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val prev = daily.select(col("day").as("pday"), col("rev").as("prev_rev"))
    val rets = daily.join(broadcast(prev),
        col("day") === date_add(col("pday"), 1))
      .select(round(col("rev").cast("double") /
        col("prev_rev").cast("double") - 1.0, 8).as("r"))
    val m = rets.agg(
      count(lit(1)).as("n"),
      sum(col("r").cast("decimal(18,8)")).cast("double").as("sr"),
      sum(round(col("r") * col("r"), 10).cast("decimal(27,10)"))
        .cast("double").as("srr"),
      sum(round(
        least(col("r"), lit(0.0)) * least(col("r"), lit(0.0)), 10)
        .cast("decimal(27,10)")).cast("double").as("sdd"))
    val nD = col("n").cast("double")
    val mean = col("sr") / nD
    val sd = sqrt((col("srr") - col("sr") * col("sr") / nD) / (nD - 1))
    val dd = sqrt(col("sdd") / (nD - 1))
    m.select(col("n"),
      round(mean * sqrt(lit(252.0)) / sd, 6).as("sharpe"),
      round(mean * sqrt(lit(252.0)) / dd, 6).as("sortino"))
  }

  val sharpeOracle: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |rets AS (SELECT round(CAST(a.rev AS DOUBLE)/CAST(b.rev AS DOUBLE) - 1.0,
      |    8) AS r
      |  FROM daily a JOIN daily b ON a.day = b.day + 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(r AS DECIMAL(18,8))) AS DOUBLE) AS sr,
      |    CAST(sum(CAST(round(r*r, 10) AS DECIMAL(27,10))) AS DOUBLE) AS srr,
      |    CAST(sum(CAST(round(least(r, 0.0)*least(r, 0.0), 10)
      |      AS DECIMAL(27,10))) AS DOUBLE) AS sdd
      |  FROM rets)
      |SELECT n,
      |  round((sr/CAST(n AS DOUBLE))*sqrt(252.0) /
      |    sqrt((srr - sr*sr/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1)), 6)
      |    AS sharpe,
      |  round((sr/CAST(n AS DOUBLE))*sqrt(252.0) /
      |    sqrt(sdd/(CAST(n AS DOUBLE) - 1)), 6) AS sortino
      |FROM m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_woe_iv" -> (woeIv _),
    "q_rare_collapse" -> (rareCollapse _),
    "q_lorenz" -> (lorenz _),
    "q_sharpe" -> (sharpe _))

  val oracle: Map[String, String] = Map(
    "q_woe_iv" -> woeIvOracle,
    "q_rare_collapse" -> rareCollapseOracle,
    "q_lorenz" -> lorenzOracle,
    "q_sharpe" -> sharpeOracle)
}
