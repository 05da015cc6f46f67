package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-4 widening #101: three inference completions — Dunn's
  * post-hoc pairwise z statistics (the follow-up q_kruskal_wallis
  * needs before any group difference can be claimed), the TOST
  * equivalence test (two one-sided Welch t's against ±δ bounds —
  * "statistically the same" is NOT a failed difference test), and
  * Neyman optimal stratified-sample allocation (the survey-design
  * complement to q_sample_stratified).
  *
  * Scale notes (100 TB): Dunn reuses the q_auc shape — the relation
  * contracts to per-distinct-value counts, global midranks come from
  * PrefixOps' distributed prefix sums over that contracted domain,
  * per-group rank sums are one keyed aggregation, and the pairwise
  * z's evaluate on the |types|² broadcast grid. TOST and Neyman are
  * single decimal moment folds (per cohort / per stratum).
  *
  * Determinism (D1–D5): midranks exact at .5 into decimal sums; tie
  * correction Σ(f³−f) exact BIGINT; all ratios spelled in one shared
  * expression order with 8dp rounds before sqrt; allocation counts
  * integer-rounded identically from 6dp-rounded shares. */
object InferMoreQueries extends QueryFamily {

  /** q_dunn — pairwise Dunn z over event types: z_ij =
    * (R̄_i−R̄_j)/√((N(N+1)/12 − T/(12(N−1)))(1/n_i+1/n_j)). */
  def dunn(s: SparkSession, d: String): DataFrame = {
    // value grid + the 5-row per-type frame each fan into several
    // branches (prefix sweep, tie total, pairwise self-join) —
    // materialize both once (round-8 scan gate: was 15 events scans)
    import graft.operators.CacheOps.CheckpointSyntax
    val byVal = events(s, d).select(col("event_type"), col("value"))
      .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
      .truncatedCheckpoint()
    val cum = graft.operators.PrefixOps.runningSums(byVal,
      col("value"), Seq(col("value")), Seq("ccnt" -> col("cnt")))
      .withColumn("midrank",
        (col("ccnt") - col("cnt") + 1 + (col("cnt") - 1) / lit(2.0))
          .cast("decimal(18,2)"))
    val perType = events(s, d).select(col("event_type").as("t"),
        col("value"))
      .join(cum.select(col("value"), col("midrank")), "value")
      .groupBy(col("t")).agg(count(lit(1)).as("n_g"),
        sum(col("midrank")).as("rsum"))
      .select(col("t"), col("n_g"),
        round(col("rsum").cast("double") / col("n_g").cast("double"), 8)
          .as("rbar"))
      .truncatedCheckpoint()
    val tot = byVal.agg(sum(col("cnt")).as("n"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie"))
    def f(c: String) = col(c).cast("double")
    val a = perType.select(col("t").as("t1"), col("n_g").as("n1"),
      col("rbar").as("r1"))
    val b = perType.select(col("t").as("t2"), col("n_g").as("n2"),
      col("rbar").as("r2"))
    a.join(broadcast(b), col("t1") < col("t2")).crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"),
        round((col("r1") - col("r2"))
          / sqrt(round((f("n") * (f("n") + lit(1.0)) / lit(12.0)
            - f("tie") / (lit(12.0) * (f("n") - lit(1.0))))
            * (lit(1.0) / f("n1") + lit(1.0) / f("n2")), 8)), 6).as("z"))
      .orderBy(col("t1"), col("t2"))
  }

  val dunnOracle: String =
    """WITH byval AS (SELECT value, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |cum AS (SELECT value, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY value) AS BIGINT) AS ccnt
      |  FROM byval),
      |mr AS (SELECT value,
      |    CAST(ccnt - cnt + 1 + (cnt - 1)/2.0 AS DECIMAL(18,2))
      |      AS midrank
      |  FROM cum),
      |pt AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_g,
      |    round(CAST(sum(midrank) AS DOUBLE)/CAST(count(*) AS DOUBLE), 8)
      |      AS rbar
      |  FROM events JOIN mr ON mr.value = events.value
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(cnt*cnt*cnt - cnt) AS BIGINT) AS tie FROM byval)
      |SELECT a.t AS t1, b.t AS t2,
      |  round((a.rbar - b.rbar)
      |    /sqrt(round((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) + 1.0)/12.0
      |      - CAST(tie AS DOUBLE)/(12.0*(CAST(n AS DOUBLE) - 1.0)))
      |      *(1.0/CAST(a.n_g AS DOUBLE) + 1.0/CAST(b.n_g AS DOUBLE)),
      |      8)), 6) AS z
      |FROM pt a JOIN pt b ON a.t < b.t, tot
      |ORDER BY t1, t2""".stripMargin

  /** q_tost — Welch-t equivalence of weekend vs weekday event value
    * within ±δ=5: both one-sided t's must clear ±1.645. */
  def tost(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d)
      .select(dayofweek(to_date(col("ts2"))).isin(1, 7).as("wk"),
        col("value"))
      .groupBy(col("wk")).agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"),
        sum((col("value") * col("value")).cast("decimal(27,4)")).as("svv"))
    def f(c: String) = col(c).cast("double")
    val stats = m.select(col("wk"), col("n"),
      round(f("sv") / f("n"), 8).as("mu"),
      round((f("n") * f("svv") - f("sv") * f("sv"))
        / (f("n") * (f("n") - lit(1.0))), 8).as("s2"))
    val a = stats.filter(col("wk")).select(col("n").as("n1"),
      col("mu").as("mu1"), col("s2").as("s21"))
    val b = stats.filter(!col("wk")).select(col("n").as("n2"),
      col("mu").as("mu2"), col("s2").as("s22"))
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("n2"),
        round(col("mu1") - col("mu2"), 8).as("diff"),
        round(sqrt(round(col("s21") / col("n1").cast("double")
          + col("s22") / col("n2").cast("double"), 10)), 8).as("se"))
      .select(col("n1"), col("n2"), col("diff"), col("se"),
        round((col("diff") + lit(5.0)) / col("se"), 6).as("t_lower"),
        round((col("diff") - lit(5.0)) / col("se"), 6).as("t_upper"))
      .withColumn("equivalent",
        col("t_lower") > 1.645 && col("t_upper") < -1.645)
  }

  val tostOracle: String =
    """WITH m AS (SELECT
      |    (dayofweek(CAST(ts AS DATE)) + 1) IN (1, 7) AS wk,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(value*value AS DECIMAL(27,4))) AS svv
      |  FROM events GROUP BY 1),
      |st AS (SELECT wk, n,
      |    round(CAST(sv AS DOUBLE)/CAST(n AS DOUBLE), 8) AS mu,
      |    round((CAST(n AS DOUBLE)*CAST(svv AS DOUBLE)
      |      - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
      |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)), 8) AS s2
      |  FROM m),
      |j AS (SELECT a.n AS n1, b.n AS n2,
      |    round(a.mu - b.mu, 8) AS diff,
      |    round(sqrt(round(a.s2/CAST(a.n AS DOUBLE)
      |      + b.s2/CAST(b.n AS DOUBLE), 10)), 8) AS se
      |  FROM st a, st b WHERE a.wk AND NOT b.wk)
      |SELECT n1, n2, diff, se,
      |  round((diff + 5.0)/se, 6) AS t_lower,
      |  round((diff - 5.0)/se, 6) AS t_upper,
      |  round((diff + 5.0)/se, 6) > 1.645
      |    AND round((diff - 5.0)/se, 6) < -1.645 AS equivalent
      |FROM j""".stripMargin

  /** q_neyman_alloc — Neyman optimal allocation of a 1000-unit
    * sample across region strata: n_h ∝ N_h·S_h. */
  def neymanAlloc(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .join(broadcast(nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val m = orders(s, d).join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("n_h"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sv"),
        sum((col("o_totalprice") * col("o_totalprice"))
          .cast("decimal(27,4)")).as("svv"))
    def f(c: String) = col(c).cast("double")
    val w = m.select(col("r_name"), col("n_h"),
      round(sqrt(round((f("n_h") * f("svv") - f("sv") * f("sv"))
        / (f("n_h") * (f("n_h") - lit(1.0))), 8)), 8).as("s_h"))
      .withColumn("w_h", round(col("n_h").cast("double") * col("s_h"), 6))
    val tw = w.agg(sum(col("w_h").cast("decimal(27,6)")).as("tw"))
    w.crossJoin(broadcast(tw))
      .select(col("r_name"), col("n_h"), col("s_h"),
        round(col("w_h") / col("tw").cast("double"), 6).as("share"),
        round(lit(1000.0) * round(col("w_h")
          / col("tw").cast("double"), 6), 0).cast("long").as("alloc_n"))
      .orderBy(col("r_name"))
  }

  val neymanAllocOracle: String =
    """WITH dim AS (SELECT c_custkey, r_name
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |m AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_h,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(o_totalprice*o_totalprice AS DECIMAL(27,4))) AS svv
      |  FROM orders JOIN dim ON o_custkey = c_custkey
      |  GROUP BY r_name),
      |w AS (SELECT r_name, n_h,
      |    round(sqrt(round((CAST(n_h AS DOUBLE)*CAST(svv AS DOUBLE)
      |      - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE))
      |      /(CAST(n_h AS DOUBLE)*(CAST(n_h AS DOUBLE) - 1.0)), 8)), 8)
      |      AS s_h
      |  FROM m),
      |ww AS (SELECT r_name, n_h, s_h,
      |    round(CAST(n_h AS DOUBLE)*s_h, 6) AS w_h
      |  FROM w),
      |tw AS (SELECT sum(CAST(w_h AS DECIMAL(27,6))) AS tw FROM ww)
      |SELECT r_name, n_h, s_h,
      |  round(w_h/CAST(tw AS DOUBLE), 6) AS share,
      |  CAST(round(1000.0*round(w_h/CAST(tw AS DOUBLE), 6), 0)
      |    AS BIGINT) AS alloc_n
      |FROM ww, tw ORDER BY r_name""".stripMargin

  /** Two-sided critical z for p = 0.005·i, i = 1..10 (the BH ladder
    * α·i/m at α=0.05, m=10) — exact literals shared by both engines
    * so no cross-engine Φ⁻¹ is ever evaluated. */
  private val bhCrit = Seq(2.8070338, 2.5758293, 2.4323790, 2.3263479,
    2.2414027, 2.1700904, 2.1080723, 2.0537489, 2.0047182, 1.9599640)

  /** q_bh_dunn — Benjamini–Hochberg step-up over the 10 Dunn pairwise
    * z's at α=0.05, ON THE Z SCALE: p(i) ≤ αi/m ⟺ |z|(i) ≥ crit(i)
    * with the critical ladder as exact literals (no cross-engine
    * normal quantile). Ranks come from self-join counting on the
    * bounded pair panel — no window; the step-up k* is one max over
    * satisfying ranks, flagged back by rank ≤ k*. */
  def bhDunn(s: SparkSession, d: String): DataFrame = {
    // the pairwise-z frame (|types|² rows) is referenced by both
    // sides of the rank self-join — materialize once (round-8 scan
    // gate: was 60 events scans through the embedded dunn trees)
    import graft.operators.CacheOps.CheckpointSyntax
    val z = dunn(s, d).select(col("t1"), col("t2"), col("z"),
      round(abs(col("z")), 6).as("az"))
      .truncatedCheckpoint()
    val o = z.select(col("az").as("az2"), col("t1").as("u1"),
      col("t2").as("u2"))
    val ranked = z.join(broadcast(o), col("az2") > col("az") ||
        (col("az2") === col("az") &&
          (col("u1") < col("t1") ||
            (col("u1") === col("t1") && col("u2") < col("t2")))), "left")
      .groupBy(col("t1"), col("t2"), col("z"), col("az"))
      .agg((count(col("u1")) + 1).cast("int").as("rnk"))
      .withColumn("crit", element_at(
        array(bhCrit.map(lit): _*), col("rnk")))
      .withColumn("hit", col("az") >= col("crit"))
    val kstar = ranked.agg(coalesce(max(when(col("hit"), col("rnk"))),
      lit(0)).as("k_star"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("t1"), col("t2"), col("z"), col("rnk"),
        round(col("crit"), 6).as("crit_z"), col("k_star"),
        (col("rnk") <= col("k_star")).as("significant"))
      .orderBy(col("rnk"))
  }

  val bhDunnOracle: String = {
    val arr = bhCrit.map(v =>
      java.math.BigDecimal.valueOf(v).toPlainString).mkString(", ")
    s"""WITH z AS (SELECT t1, t2, z, round(abs(z), 6) AS az
       |  FROM ($dunnOracle) dz),
       |ranked AS (SELECT a.t1, a.t2, a.z, a.az,
       |    CAST(count(b.t1) + 1 AS INT) AS rnk
       |  FROM z a LEFT JOIN z b
       |    ON b.az > a.az OR (b.az = a.az AND (b.t1 < a.t1
       |      OR (b.t1 = a.t1 AND b.t2 < a.t2)))
       |  GROUP BY a.t1, a.t2, a.z, a.az),
       |crit AS (SELECT *, CAST(([$arr])[rnk] AS DOUBLE) AS crit FROM ranked),
       |ks AS (SELECT coalesce(max(CASE WHEN az >= crit THEN rnk END),
       |    0) AS k_star FROM crit)
       |SELECT t1, t2, z, rnk, round(crit, 6) AS crit_z, k_star,
       |  rnk <= k_star AS significant
       |FROM crit, ks ORDER BY rnk""".stripMargin
  }

  /** q_cohens_h — the effect size for the weekend-vs-weekday purchase
    * share difference: h = 2·asin√p₁ − 2·asin√p₂ (the arcsine
    * variance-stabilizing scale where a 1%-vs-2% gap and a
    * 50%-vs-51% gap stop looking alike), with the conventional
    * small/medium/large band. asin joins the ln/exp/cos/sin house
    * protocol: applied to 10dp-rounded operands, result re-rounded. */
  def cohensH(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d)
      .select(dayofweek(to_date(col("ts2"))).isin(1, 7).as("wk"),
        (col("event_type") === "purchase").as("pur"))
      .groupBy(col("wk")).agg(count(lit(1)).as("n"),
        count(when(col("pur"), lit(1))).as("x"))
      .select(col("wk"), col("n"),
        round(col("x").cast("double") / col("n").cast("double"), 10)
          .as("p"))
    val a = m.filter(col("wk")).select(col("n").as("n1"), col("p").as("p1"))
    val b = m.filter(!col("wk")).select(col("n").as("n2"),
      col("p").as("p2"))
    def phi(p: org.apache.spark.sql.Column) =
      round(lit(2.0) * asin(round(sqrt(p), 10)), 8)
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("n2"), col("p1"), col("p2"),
        round(phi(col("p1")) - phi(col("p2")), 6).as("cohens_h"))
      .withColumn("magnitude",
        when(abs(col("cohens_h")) < 0.2, lit("negligible"))
          .when(abs(col("cohens_h")) < 0.5, lit("small"))
          .when(abs(col("cohens_h")) < 0.8, lit("medium"))
          .otherwise(lit("large")))
  }

  val cohensHOracle: String =
    """WITH m AS (SELECT
      |    (dayofweek(CAST(ts AS DATE)) + 1) IN (1, 7) AS wk,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |p AS (SELECT wk, n,
      |    round(CAST(x AS DOUBLE)/CAST(n AS DOUBLE), 10) AS p
      |  FROM m),
      |j AS (SELECT a.n AS n1, b.n AS n2, a.p AS p1, b.p AS p2,
      |    round(round(2.0*asin(round(sqrt(a.p), 10)), 8)
      |      - round(2.0*asin(round(sqrt(b.p), 10)), 8), 6) AS cohens_h
      |  FROM p a, p b WHERE a.wk AND NOT b.wk)
      |SELECT n1, n2, p1, p2, cohens_h,
      |  CASE WHEN abs(cohens_h) < 0.2 THEN 'negligible'
      |    WHEN abs(cohens_h) < 0.5 THEN 'small'
      |    WHEN abs(cohens_h) < 0.8 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM j""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dunn" -> (dunn _),
    "q_tost" -> (tost _),
    "q_neyman_alloc" -> (neymanAlloc _),
    "q_bh_dunn" -> (bhDunn _),
    "q_cohens_h" -> (cohensH _))

  val oracle: Map[String, String] = Map(
    "q_dunn" -> dunnOracle,
    "q_tost" -> tostOracle,
    "q_neyman_alloc" -> neymanAllocOracle,
    "q_bh_dunn" -> bhDunnOracle,
    "q_cohens_h" -> cohensHOracle)
}
