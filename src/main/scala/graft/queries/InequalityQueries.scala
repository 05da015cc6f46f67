package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #63: welfare-economics inequality measures over
  * the per-customer spend distribution — the Atkinson index at
  * aversion ε = 0.5 and ε = 1 (beside q_gini / q_theil / q_lorenz,
  * completing the standard inequality panel), and the Palma ratio
  * with its top-10% / bottom-40% shares.
  *
  * Scale notes (100 TB): both queries contract orders to the
  * |customers| spend aggregate first (keyed shuffle); Atkinson is
  * then a single-scan decimal-moment fold (no windows at all); Palma
  * ranks via ONE [[graft.operators.PrefixOps]] distributed prefix
  * pass — no partition-less window — and reads two cut rows off it.
  *
  * Determinism: spends are exact DECIMAL(18,2) sums; sqrt is
  * IEEE-correct on identical operands; ln/exp follow the house
  * protocol (8dp-rounded arguments, exp output pinned at 4dp);
  * per-row transforms round at 8dp into decimal sums (D2).
  */
object InequalityQueries extends QueryFamily {

  private def spend(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))

  private val spendSql: String =
    """SELECT o_custkey,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1""".stripMargin

  /** q_atkinson — Atkinson inequality of customer spend:
    * A(ε) = 1 − (mean of x^(1−ε))^(1/(1−ε)) / mean(x), so
    * A(0.5) = 1 − (mean √x)² / mean (sqrt-only, no transcendental
    * rounding at all) and A(1) = 1 − geomean/mean (ln/exp house
    * protocol). One scan over the spend aggregate. */
  def atkinson(s: SparkSession, d: String): DataFrame = {
    val x = col("spend").cast("double")
    val m = spend(s, d).agg(
      count(lit(1)).as("n"),
      sum(col("spend")).as("sx"),
      sum(round(sqrt(x), 8).cast("decimal(27,8)")).as("ssqrt"),
      sum(round(log(x), 8).cast("decimal(27,8)")).as("sln"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val mHalf = col("ssqrt").cast("double") / nD
    val gm = round(exp(round(col("sln").cast("double") / nD, 8)), 4)
    m.select(col("n"), round(mean, 4).as("mean_spend"),
      round(lit(1.0) - (mHalf * mHalf) / mean, 6).as("atkinson_05"),
      round(lit(1.0) - gm / mean, 6).as("atkinson_1"))
  }

  val atkinsonOracle: String =
    s"""WITH spend AS ($spendSql),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(spend) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(round(sqrt(CAST(spend AS DOUBLE)), 8)
      |      AS DECIMAL(27,8))) AS DOUBLE) AS ssqrt,
      |    CAST(sum(CAST(round(ln(CAST(spend AS DOUBLE)), 8)
      |      AS DECIMAL(27,8))) AS DOUBLE) AS sln
      |  FROM spend)
      |SELECT n, round(sx/CAST(n AS DOUBLE), 4) AS mean_spend,
      |  round(1.0 - ((ssqrt/CAST(n AS DOUBLE))*(ssqrt/CAST(n AS DOUBLE)))
      |    /(sx/CAST(n AS DOUBLE)), 6) AS atkinson_05,
      |  round(1.0 - round(exp(round(sln/CAST(n AS DOUBLE), 8)), 4)
      |    /(sx/CAST(n AS DOUBLE)), 6) AS atkinson_1
      |FROM m""".stripMargin

  /** q_palma — Palma ratio of customer spend: cumulative spend at the
    * bottom-40% and top-10% customer-count cutoffs (ascending spend
    * order, floor cutoffs) off one distributed prefix pass;
    * ratio = top-10% share / bottom-40% share. */
  def palma(s: SparkSession, d: String): DataFrame = {
    val sp = spend(s, d)
    val tot = sp.agg(count(lit(1)).as("n"), sum(col("spend")).as("total"))
    val pre = graft.operators.PrefixOps.runningSums(sp,
        col("spend"), Seq(col("spend"), col("o_custkey")),
        Seq("rn" -> lit(1L), "cum" -> col("spend")))
      .crossJoin(broadcast(tot))
    val kBot = floor(col("n").cast("double") * lit(0.4)).cast("long")
    val kTop = col("n") - floor(col("n").cast("double") * lit(0.1)).cast("long")
    pre.filter(col("rn") === kBot || col("rn") === kTop)
      .groupBy(col("n"), col("total"))
      .agg(
        min(when(col("rn") === kBot, col("cum"))).as("cum_bot"),
        min(when(col("rn") === kTop, col("cum"))).as("cum_top"))
      .select(col("n"),
        round(col("cum_bot").cast("double")
          / col("total").cast("double"), 6).as("bot40_share"),
        round((col("total") - col("cum_top")).cast("double")
          / col("total").cast("double"), 6).as("top10_share"),
        round(((col("total") - col("cum_top")).cast("double")
            / col("total").cast("double"))
          / (col("cum_bot").cast("double")
            / col("total").cast("double")), 6).as("palma_ratio"))
  }

  val palmaOracle: String =
    s"""WITH spend AS ($spendSql),
      |t AS (SELECT spend,
      |    row_number() OVER (ORDER BY spend, o_custkey) AS rn,
      |    sum(spend) OVER (ORDER BY spend, o_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    sum(spend) OVER () AS total
      |  FROM spend),
      |cuts AS (SELECT n, total,
      |    min(CASE WHEN rn = CAST(floor(CAST(n AS DOUBLE)*0.4) AS BIGINT)
      |      THEN cum END) AS cum_bot,
      |    min(CASE WHEN rn = n - CAST(floor(CAST(n AS DOUBLE)*0.1) AS BIGINT)
      |      THEN cum END) AS cum_top
      |  FROM t GROUP BY n, total)
      |SELECT n,
      |  round(CAST(cum_bot AS DOUBLE)/CAST(total AS DOUBLE), 6)
      |    AS bot40_share,
      |  round(CAST(total - cum_top AS DOUBLE)/CAST(total AS DOUBLE), 6)
      |    AS top10_share,
      |  round((CAST(total - cum_top AS DOUBLE)/CAST(total AS DOUBLE))
      |    /(CAST(cum_bot AS DOUBLE)/CAST(total AS DOUBLE)), 6)
      |    AS palma_ratio
      |FROM cuts""".stripMargin

  /** q_theil_decomp — Theil-T inequality of customer spend DECOMPOSED
    * by region: T = T_within + T_between, with T_between =
    * Σ_g s_g·ln(μ_g/μ) over spend shares and T_within = Σ_g s_g·T_g
    * (the additive-decomposability property that makes Theil the
    * inequality index of choice for grouped 100 TB data — Gini does
    * not decompose). Customer spends contract per region through the
    * broadcast dimension chain; per-group means broadcast back for
    * the within terms; the final combine runs on the |regions|-row
    * grid. Direct T is reported beside the two components so the
    * identity is visible in the output. */
  def theilDecomp(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .join(broadcast(nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    // per-customer (region, spend) rows feed the group moments AND
    // the within-entropy pass; the 5-row group frame feeds two joins
    // — materialize each once (round-8 scan gate: was 5 orders +
    // customer scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val sp = spend(s, d).join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("r_name"), col("spend").cast("double").as("x"))
      .truncatedCheckpoint()
    val g = sp.groupBy(col("r_name")).agg(
      count(lit(1)).as("n_g"),
      sum(col("x").cast("decimal(18,2)")).as("s_g"))
    val tot = g.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"))
    def f(c: String) = col(c).cast("double")
    val gm = g.crossJoin(broadcast(tot))
      .select(col("r_name"), col("n_g"),
        round(f("s_g") / col("n_g").cast("double"), 6).as("mu_g"),
        round(f("s_g") / f("s"), 10).as("share_g"),
        round(f("s") / f("n"), 6).as("mu"))
      .truncatedCheckpoint()
    val within = sp.join(broadcast(gm), "r_name")
      .select(col("r_name"),
        round(col("x") / col("mu_g") * log(col("x") / col("mu_g")), 8)
          .cast("decimal(18,8)").as("wterm"),
        round(col("x") / col("mu") * log(col("x") / col("mu")), 8)
          .cast("decimal(18,8)").as("dterm"))
      .groupBy(col("r_name"))
      .agg(sum(col("wterm")).as("sw"), sum(col("dterm")).as("sd"),
        count(lit(1)).as("cnt"))
    within.join(broadcast(gm), "r_name")
      .select(col("share_g"),
        round(col("share_g")
          * round(col("sw").cast("double") / col("cnt"), 8), 10)
          .cast("decimal(18,10)").as("tw_term"),
        round(col("share_g") * log(round(col("mu_g") / col("mu"), 10)), 10)
          .cast("decimal(18,10)").as("tb_term"),
        col("sd"), col("cnt"))
      .agg(count(lit(1)).as("k_groups"),
        round(sum(col("tw_term")).cast("double"), 6).as("theil_within"),
        round(sum(col("tb_term")).cast("double"), 6).as("theil_between"),
        round(sum(col("sd")).cast("double")
          / sum(col("cnt")).cast("double"), 6).as("theil_direct"))
  }

  val theilDecompOracle: String =
    s"""WITH sp0 AS ($spendSql),
       |sp AS (SELECT r_name, CAST(spend AS DOUBLE) AS x
       |  FROM sp0
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |g AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_g,
       |    sum(CAST(x AS DECIMAL(18,2))) AS s_g
       |  FROM sp GROUP BY r_name),
       |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s
       |  FROM g),
       |gm AS (SELECT r_name, n_g,
       |    round(CAST(s_g AS DOUBLE)/CAST(n_g AS DOUBLE), 6) AS mu_g,
       |    round(CAST(s_g AS DOUBLE)/CAST(s AS DOUBLE), 10) AS share_g,
       |    round(CAST(s AS DOUBLE)/CAST(n AS DOUBLE), 6) AS mu
       |  FROM g, tot),
       |w AS (SELECT sp.r_name,
       |    sum(CAST(round(x/mu_g*ln(x/mu_g), 8) AS DECIMAL(18,8))) AS sw,
       |    sum(CAST(round(x/mu*ln(x/mu), 8) AS DECIMAL(18,8))) AS sd,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM sp JOIN gm ON gm.r_name = sp.r_name
       |  GROUP BY sp.r_name),
       |c AS (SELECT
       |    CAST(round(share_g*round(CAST(sw AS DOUBLE)
       |      /CAST(cnt AS DOUBLE), 8), 10) AS DECIMAL(18,10)) AS tw_term,
       |    CAST(round(share_g*ln(round(mu_g/mu, 10)), 10)
       |      AS DECIMAL(18,10)) AS tb_term,
       |    sd, cnt
       |  FROM w JOIN gm ON gm.r_name = w.r_name)
       |SELECT CAST(count(*) AS BIGINT) AS k_groups,
       |  round(CAST(sum(tw_term) AS DOUBLE), 6) AS theil_within,
       |  round(CAST(sum(tb_term) AS DOUBLE), 6) AS theil_between,
       |  round(CAST(sum(sd) AS DOUBLE)/CAST(sum(cnt) AS DOUBLE), 6)
       |    AS theil_direct
       |FROM c""".stripMargin

  /** q_lorenz_asym — the Lorenz asymmetry coefficient S = F(μ) + L(μ)
    * (Damgaard & Weiner 2000): WHERE the Lorenz curve touches its
    * parallel-to-diagonal tangent — S < 1 means inequality is driven
    * by many small spenders, S > 1 by few giants (Gini alone cannot
    * tell). F(μ) and L(μ) are one conditional fold against the
    * broadcast mean — no sort at all. */
  def lorenzAsym(s: SparkSession, d: String): DataFrame = {
    val sp = spend(s, d).select(col("spend").cast("double").as("x"))
    val mu = sp.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,2)")).as("sx"))
      .select(col("n"), col("sx"),
        round(col("sx").cast("double") / col("n").cast("double"), 8)
          .as("mu"))
    def f(c: String) = col(c).cast("double")
    sp.crossJoin(broadcast(mu))
      .agg(first(col("n")).as("n"), first(col("sx")).as("sx"),
        count(when(col("x") < col("mu"), lit(1))).as("m"),
        sum(when(col("x") < col("mu"), col("x")).otherwise(lit(0.0))
          .cast("decimal(18,2)")).as("sb"))
      .select(col("n"), col("m"),
        round(f("m") / f("n"), 6).as("f_mu"),
        round(f("sb") / f("sx"), 6).as("l_mu"))
      .select(col("n"), col("m"), col("f_mu"), col("l_mu"),
        round(col("f_mu") + col("l_mu"), 6).as("s_asym"))
  }

  val lorenzAsymOracle: String =
    s"""WITH sp AS (SELECT CAST(spend AS DOUBLE) AS x
       |  FROM ($spendSql) s0),
       |mu AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
       |    round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
       |      /CAST(count(*) AS DOUBLE), 8) AS mu
       |  FROM sp),
       |agg AS (SELECT any_value(n) AS n, any_value(sx) AS sx,
       |    CAST(count(CASE WHEN x < mu THEN 1 END) AS BIGINT) AS m,
       |    sum(CAST(CASE WHEN x < mu THEN x ELSE 0.0 END
       |      AS DECIMAL(18,2))) AS sb
       |  FROM sp, mu)
       |SELECT n, m,
       |  round(CAST(m AS DOUBLE)/CAST(n AS DOUBLE), 6) AS f_mu,
       |  round(CAST(sb AS DOUBLE)/CAST(sx AS DOUBLE), 6) AS l_mu,
       |  round(round(CAST(m AS DOUBLE)/CAST(n AS DOUBLE), 6)
       |    + round(CAST(sb AS DOUBLE)/CAST(sx AS DOUBLE), 6), 6)
       |    AS s_asym
       |FROM agg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_atkinson" -> (atkinson _),
    "q_palma" -> (palma _),
    "q_theil_decomp" -> (theilDecomp _),
    "q_lorenz_asym" -> (lorenzAsym _))

  val oracle: Map[String, String] = Map(
    "q_atkinson" -> atkinsonOracle,
    "q_palma" -> palmaOracle,
    "q_theil_decomp" -> theilDecompOracle,
    "q_lorenz_asym" -> lorenzAsymOracle)
}
