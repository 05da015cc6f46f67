package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #97: Fellegi–Sunter probabilistic record linkage
  * — the classic match/non-match log-likelihood-ratio scorer behind
  * every entity-resolution pipeline, beside the string-similarity
  * shelf (q_fuzzy_match / q_fuzzy_jw) and the dedup family.
  *
  * Setup: customer self-linkage blocked by nation. Three comparison
  * fields — market segment, account-balance thousand-band, and the
  * name's trailing two digits. u-probabilities (chance agreement
  * between NON-matches) are estimated from the data the standard way,
  * u = Σ_v p_v² over each field's value distribution; m-probabilities
  * are fixed literals (0.95/0.85/0.7). Agreement carries
  * w⁺ = ln(m/u), disagreement w⁻ = ln((1−m)/(1−u)).
  *
  * Scale notes (100 TB): u-estimation is three tiny keyed
  * contractions (field-value marginals) crossed into ONE broadcast
  * weight row; candidate generation contracts customers to the
  * (nation, segment, balance-band, digit-suffix) pattern grid — a
  * spec-constant ≤25·5·11·100 cells at EVERY scale factor — where
  * pair counts per weight tier are exact arithmetic, so only the
  * tiers containing the top 10 are ever enumerated against the fact
  * table (round-7: replaces the nation-blocked O(n²/25) pair join);
  * scoring is a codegen'd projection over cell pairs; the report is
  * a TakeOrderedAndProject top-10.
  *
  * Determinism (D1–D5): marginal shares round at 10dp before
  * squaring into exact decimal sums; weights are house-ln on
  * 10dp-rounded ratios, rounded at 8dp; pair totals are sums of ≤3
  * rounded weights, rounded at 6dp, with the (c1, c2) key pair as
  * the total tiebreak. */
object FsLinkageQueries extends QueryFamily {

  private val M = Seq("seg" -> 0.95, "bal" -> 0.85, "dig" -> 0.7)

  /** Broadcastable 1-row u-probability frame (u_seg, u_bal, u_dig).
    *
    * ONE customer scan (round-7): the three field marginals and the
    * row count all derive from a single (seg, bal, dig) grid
    * contraction (≤ 5·11·100 cells at any SF, lazily checkpointed) —
    * the previous per-field form re-scanned customer ~7× for the
    * identical exact counts. */
  private def uStats(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val grid3 = customer(s, d).select(
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("bal"),
        substring(col("c_name"), -2, 2).cast("int").as("dig"))
      .groupBy(col("seg"), col("bal"), col("dig"))
      .agg(count(lit(1)).as("cnt"))
      .truncatedCheckpoint()
    val n = grid3.agg(sum(col("cnt")).as("n"))
    def u(field: String): DataFrame =
      grid3.groupBy(col(field)).agg(sum(col("cnt")).as("cntv"))
        .crossJoin(broadcast(n))
        .select(round(col("cntv").cast("double")
          / col("n").cast("double"), 10).as("p"))
        .agg(round(sum(round(col("p") * col("p"), 12)
          .cast("decimal(18,12)")).cast("double"), 10).as(s"u_$field"))
    u("seg")
      .crossJoin(broadcast(u("bal")))
      .crossJoin(broadcast(u("dig")))
  }

  private val uStatsSql: String =
    """nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
      |useg AS (SELECT round(CAST(sum(CAST(round(p*p, 12)
      |      AS DECIMAL(18,12))) AS DOUBLE), 10) AS u_seg
      |  FROM (SELECT round(CAST(count(*) AS DOUBLE)
      |      /CAST(any_value(nn.n) AS DOUBLE), 10) AS p
      |    FROM customer, nn GROUP BY c_mktsegment)),
      |ubal AS (SELECT round(CAST(sum(CAST(round(p*p, 12)
      |      AS DECIMAL(18,12))) AS DOUBLE), 10) AS u_bal
      |  FROM (SELECT round(CAST(count(*) AS DOUBLE)
      |      /CAST(any_value(nn.n) AS DOUBLE), 10) AS p
      |    FROM customer, nn
      |    GROUP BY CAST(floor(c_acctbal/1000.0) AS INT))),
      |udig AS (SELECT round(CAST(sum(CAST(round(p*p, 12)
      |      AS DECIMAL(18,12))) AS DOUBLE), 10) AS u_dig
      |  FROM (SELECT round(CAST(count(*) AS DOUBLE)
      |      /CAST(any_value(nn.n) AS DOUBLE), 10) AS p
      |    FROM customer, nn
      |    GROUP BY TRY_CAST(substr(c_name, length(c_name) - 1, 2) AS INT)))""".stripMargin

  /** q_fs_weights — the Fellegi–Sunter weight table: per field, the
    * estimated u, the fixed m, and the agreement / disagreement
    * log-likelihood weights. */
  def fsWeights(s: SparkSession, d: String): DataFrame = {
    val u = uStats(s, d)
    val rows = M.map { case (field, m) =>
      u.select(lit(field).as("field"), lit(m).as("m"),
        col(s"u_$field").as("u"),
        round(log(round(lit(m) / col(s"u_$field"), 10)), 8).as("w_agree"),
        round(log(round((lit(1.0) - lit(m))
          / (lit(1.0) - col(s"u_$field")), 10)), 8).as("w_disagree"))
    }
    rows.reduce(_ unionByName _).orderBy(col("field"))
  }

  val fsWeightsOracle: String = {
    val rows = M.map { case (field, m) =>
      s"""SELECT '$field' AS field, CAST($m AS DOUBLE) AS m,
         |  u_$field AS u,
         |  round(ln(round($m/u_$field, 10)), 8) AS w_agree,
         |  round(ln(round((1.0 - $m)/(1.0 - u_$field), 10)), 8)
         |    AS w_disagree
         |FROM useg, ubal, udig""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $uStatsSql
       |SELECT * FROM ($rows) w ORDER BY field""".stripMargin
  }

  /** q_fs_linkage — top-10 nation-blocked customer pairs by total FS
    * match weight, computed on the (nk, seg, bal, dig) PATTERN GRID
    * (round-7 verdict rewrite).
    *
    * The round-6 form enumerated every nation-blocked customer pair —
    * O(n²/25) work through ≤25 tasks at scale, the suite's heaviest
    * solo query. But w_total is a function of the AGREEMENT PATTERN
    * alone, and the pattern is determined by the two customers' grid
    * cells: contracting customers to the cell grid (≤ 25 nations ×
    * 5 segments × 11 thousand-bands × ≤100 digit suffixes — a spec
    * constant at every SF) makes pair counting exact ARITHMETIC with
    * no pair join at all — for each field subset S, pairs agreeing on
    * at least S number Σ C(n,2) over the (nation ∪ S) marginal grid,
    * and inclusion–exclusion (Möbius over the 2³ subset lattice)
    * yields the exact count per agreement pattern — so the weight
    * tier containing the 10th pair is known BEFORE touching any real
    * pair. Real pairs are enumerated only for patterns at or above
    * that threshold (each branch runtime-gated by a 1-row broadcast,
    * joined on nation ∪ agreeing-fields with explicit ≠ on the rest),
    * and only among each cell's 11 SMALLEST custkeys
    * ([[graft.functions.expressions.TopKStruct]] — k-bounded heap
    * with map-side partial merge, so the contraction is itself
    * funnel-free): within one weight tier pairs rank by (c1, c2), and
    * a pair with an endpoint beyond its cell's 11th-smallest member
    * is preceded by ≥ 10 same-tier pairs using that cell's smaller
    * members in its place (the replacement shares the cell, hence the
    * pattern and the tier), so it can never reach the global top-10;
    * when fewer than 10 pairs exist at all, every cell holds ≤ 4
    * members (≥ 5 in one cell already makes 10 same-cell pairs) and
    * the cap keeps everyone. Without the cap the threshold tier at
    * scale is the all-agree tier, whose ~n²/|cells| member pairs
    * would re-introduce the quadratic this rewrite exists to kill.
    * Every stage is a constant-size frame or a bounded×bounded join —
    * no blocked quadratic pair join, and no |cells|²-within-nation
    * cell-pair join either (~3.9 M cell pairs at sf0.1, ~378 M at
    * grid saturation — the previous form's residual constant).
    *
    * Identical arithmetic to the pairwise form: per-pair w_total /
    * n_agree are the same rounded expressions evaluated on the cell
    * attrs (equal by construction for every member pair), and the
    * final order/tiebreak is unchanged, so the oracle is untouched.
    * (Grid caveat: NULL comparison fields would form NULL cells and
    * the within-nation cell-pair struct order would drop them, where
    * the pairwise form scored them as disagreements — the TPC-H
    * customer columns are non-null, matching the oracle.) */
  def fsLinkage(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).select(col("c_custkey").as("ck"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 1000.0).cast("int").as("bal"),
      substring(col("c_name"), -2, 2).cast("int").as("dig"))
    // hoist the six ln-ratio weights into the 1-row broadcast: they
    // are functions of u ALONE, and Spark's round() is a per-row
    // BigDecimal trip — six of them on every candidate pair was the
    // whole query cost at sf0.1 (20 s → one round per CELL pair now)
    def wa(m: Double, u: String) =
      round(log(round(lit(m) / col(u), 10)), 8)
    def wd(m: Double, u: String) =
      round(log(round(lit(1.0 - m) / (lit(1.0) - col(u)), 10)), 8)
    val weights = uStats(s, d).select(
      wa(0.95, "u_seg").as("wa_seg"), wd(0.95, "u_seg").as("wd_seg"),
      wa(0.85, "u_bal").as("wa_bal"), wd(0.85, "u_bal").as("wd_bal"),
      wa(0.7, "u_dig").as("wa_dig"), wd(0.7, "u_dig").as("wd_dig"))
    fsTop10(cust, weights)
  }

  /** Grid + tier-threshold + capped-enumeration pipeline over a
    * prepared `cust(ck, nk, seg, bal, dig)` frame and a 1-row
    * `weights(wa_seg, wd_seg, wa_bal, wd_bal, wa_dig, wd_dig)` frame.
    * Factored out of [[fsLinkage]] so the member-cap exactness proof
    * can be property-tested on synthetic fixtures with LARGE cells
    * (FsLinkageSpec) — the graded SF's cells are too small to
    * exercise the cap. */
  private[graft] def fsTop10(cust: DataFrame, weights: DataFrame): DataFrame = {
    import graft.operators.CacheOps.CheckpointSyntax
    val F = Seq("seg", "bal", "dig")
    def inPat(m: Int, i: Int): Boolean = (m & (1 << i)) != 0
    // 1. contract to the pattern grid (constant-size at every SF);
    //    lazily checkpointed — the 8 marginal aggregations below all
    //    reference it. Kept SEPARATE from the TopKStruct member
    //    aggregate below, deliberately: folding the count into the
    //    same aggregate was A/B-measured 3.8× slower in-concurrency —
    //    one custom TypedImperativeAggregate in the list forces the
    //    WHOLE grid aggregation onto the interpreted
    //    ObjectHashAggregate path (sort-based fallback past 128 keys)
    //    where the count-only form is whole-stage-codegen'd; the
    //    second scan it saves is the cheaper side of that trade at
    //    every scale (both aggregates partial-combine map-side).
    val cells = cust.groupBy(col("nk"), col("seg"), col("bal"), col("dig"))
      .agg(count(lit(1)).as("cnt")).truncatedCheckpoint()
    // 2. exact per-pattern pair counts WITHOUT any cell×cell join
    //    (inclusion–exclusion): for each field subset S, the number of
    //    same-nation pairs agreeing on AT LEAST S is Σ C(n,2) over the
    //    (nation ∪ S) marginal grid (n = member count per group — a
    //    further contraction of `cells`, ≤ |cells| rows each); the
    //    exact-pattern count is the Möbius sum
    //    N=(P) = Σ_{S ⊇ P} (−1)^{|S\P|} N≥(S). Eight 1-row frames
    //    replace the previous within-nation grid×grid join, whose
    //    ≤ |cells/nation|² cell pairs were a large constant
    //    (~3.9 M at sf0.1, ~378 M at grid saturation).
    //    Exactness bound (round-7 ADVICE): the pair count
    //    n·(n−1)/2 is LONG arithmetic on per-(nation ∪ S) member
    //    counts — exact while every group stays below ~4.3e9 members
    //    (n·(n−1) < 2⁶³), i.e. up to ~10⁵× the stated 100 TB posture
    //    (~6e8 customers/nation); beyond that, switch the fold to
    //    decimal(38,0). Documented rather than decimal-by-default:
    //    the long fold keeps the grid aggregation codegen'd, and the
    //    driver-hash contract pins the LONG output type.
    def atLeast(m: Int): DataFrame = {
      val keys = col("nk") +: F.zipWithIndex.collect {
        case (f, i) if inPat(m, i) => col(f) }
      cells.groupBy(keys: _*).agg(sum(col("cnt")).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))
          .as(s"np$m"))
    }
    val atL = (0 until 8).map(atLeast)
      .reduce((a, b) => a.crossJoin(broadcast(b)))
    def nExact(m: Int): Column = (0 until 8)
      .filter(s => (s & m) == m)
      .map(s => if (Integer.bitCount(s ^ m) % 2 == 0) col(s"np$s")
                else -col(s"np$s"))
      .reduce(_ + _)
    // pattern weight — the SAME operand order and rounding the
    // pairwise scorer used per pair: ((seg + bal) + dig) round 6
    def wPat(m: Int): Column = round(
      (if (inPat(m, 0)) col("wa_seg") else col("wd_seg"))
        + (if (inPat(m, 1)) col("wa_bal") else col("wd_bal"))
        + (if (inPat(m, 2)) col("wa_dig") else col("wd_dig")), 6)
    val tiers = atL.crossJoin(broadcast(weights))
      .select(explode(array((0 until 8).map(m =>
        struct(wPat(m).as("w"), nExact(m).as("np"))): _*)).as("t"))
      .select(col("t.w").as("w"), col("t.np").as("np"))
    // 3. the 10th pair's weight tier from the exact counts (≤ 8 rows;
    //    distinct patterns with equal w merge, exactly as the pairwise
    //    form's group-by-w_total did); if fewer than 10 pairs exist
    //    anywhere, keep every tier
    val byW = tiers.groupBy(col("w")).agg(sum(col("np")).as("nw"))
    val cumW = byW.withColumn("cum",
      sum(col("nw")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("w").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val thr = cumW.agg(coalesce(
      max(when(col("cum") >= 10, col("w"))),
      min(col("w"))).as("wmin"))
    // one broadcastable gate row carrying the six weights + wmin —
    // referenced by all 8 enumeration branches, hence checkpointed
    val gate = weights.crossJoin(broadcast(thr)).truncatedCheckpoint()
    // 4. capped members: each cell's 11 smallest custkeys via the
    //    TopKStruct aggregate (k-bounded heap, map-side combined — the
    //    shuffle carries ≤ 11·mappers rows per cell, never the cell);
    //    referenced by all 8 branches, hence checkpointed
    val capped = cust
      .groupBy(col("nk"), col("seg"), col("bal"), col("dig"))
      .agg(graft.functions.expressions.TopKStruct.topK(
        struct((-col("ck")).as("neg")), 11).as("tk"))
      .select(col("nk"), col("seg"), col("bal"), col("dig"),
        explode(col("tk")).as("m"))
      .select(col("nk"), col("seg"), col("bal"), col("dig"),
        (-col("m").getField("neg")).as("ck"))
      .truncatedCheckpoint()
    // 5. one RUNTIME-GATED enumeration branch per pattern: the join is
    //    keyed on (nation ∪ agreeing fields) with explicit ≠ on the
    //    rest, so ONLY pairs of that exact pattern materialize, and the
    //    1-row gate (w_pattern ≥ wmin, filtered BEFORE the join) makes
    //    unselected branches produce an empty build side — their cost
    //    is a scan of the bounded `capped` frame, nothing more. Both
    //    sides of every branch are provably bounded frames.
    val ca = capped.select(col("ck").as("ka"), col("nk").as("nka"),
      col("seg").as("sega"), col("bal").as("bala"), col("dig").as("diga"))
    val cb = capped.select(col("ck").as("kb"), col("nk").as("nkb"),
      col("seg").as("segb"), col("bal").as("balb"), col("dig").as("digb"))
    val branches = (0 until 8).map { m =>
      val gateM = gate
        .select(wPat(m).as("wm"), col("wmin"))
        .filter(col("wm") >= col("wmin"))
      val eqs = F.zipWithIndex.map { case (f, i) =>
        if (inPat(m, i)) col(s"${f}a") === col(s"${f}b")
        else col(s"${f}a") =!= col(s"${f}b") }
      val cond = ((col("nka") === col("nkb")) +: eqs)
        .reduce(_ && _) && col("ka") < col("kb")
      ca.crossJoin(broadcast(gateM))
        .join(cb, cond)
        .select(col("ka").as("c1"), col("kb").as("c2"),
          lit(Integer.bitCount(m)).as("n_agree"),
          col("wm").as("w_total"))
    }
    branches.reduce(_ unionByName _)
      .orderBy(col("w_total").desc, col("c1"), col("c2"))
      .limit(10)
  }

  val fsLinkageOracle: String =
    s"""WITH $uStatsSql,
       |cust AS (SELECT c_custkey, c_nationkey,
       |    c_mktsegment AS seg,
       |    CAST(floor(c_acctbal/1000.0) AS INT) AS bal,
       |    TRY_CAST(substr(c_name, length(c_name) - 1, 2) AS INT) AS dig
       |  FROM customer),
       |wt AS (SELECT
       |    round(ln(round(0.95/u_seg, 10)), 8) AS wa_seg,
       |    round(ln(round((1.0 - 0.95)/(1.0 - u_seg), 10)), 8) AS wd_seg,
       |    round(ln(round(0.85/u_bal, 10)), 8) AS wa_bal,
       |    round(ln(round((1.0 - 0.85)/(1.0 - u_bal), 10)), 8) AS wd_bal,
       |    round(ln(round(0.7/u_dig, 10)), 8) AS wa_dig,
       |    round(ln(round((1.0 - 0.7)/(1.0 - u_dig), 10)), 8) AS wd_dig
       |  FROM useg, ubal, udig),
       |pairs AS (SELECT a.c_custkey AS c1, b.c_custkey AS c2,
       |    (CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END
       |      + CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END
       |      + CASE WHEN a.dig = b.dig THEN 1 ELSE 0 END) AS n_agree,
       |    round(
       |      CASE WHEN a.seg = b.seg THEN wa_seg ELSE wd_seg END
       |      + CASE WHEN a.bal = b.bal THEN wa_bal ELSE wd_bal END
       |      + CASE WHEN a.dig = b.dig THEN wa_dig ELSE wd_dig END,
       |      6) AS w_total
       |  FROM cust a JOIN cust b
       |    ON a.c_nationkey = b.c_nationkey
       |    AND a.c_custkey < b.c_custkey,
       |    wt)
       |SELECT c1, c2, n_agree, w_total
       |FROM pairs ORDER BY w_total DESC, c1, c2 LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fs_weights" -> (fsWeights _),
    "q_fs_linkage" -> (fsLinkage _))

  val oracle: Map[String, String] = Map(
    "q_fs_weights" -> fsWeightsOracle,
    "q_fs_linkage" -> fsLinkageOracle)
}
