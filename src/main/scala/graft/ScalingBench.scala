package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling curves for the heavy tier (round-12, verdict
  * item 1): every scale claim so far is proven by plan gates
  * (ScaleRules funnels/contractions) and single-size benches; this
  * main turns them into measured seconds-vs-rows exponents.
  *
  * Method: the FACT tables (lineitem / orders / events / documents /
  * embeddings) are blown up 10× and 30× by union-with-shifted-keys —
  * copy k shifts every scaled-table key by k·10⁸ so intra-copy join
  * structure is preserved exactly (l_orderkey ↔ o_orderkey and
  * doc_id ↔ embeddings.vec_id shift together); keys into UNSCALED
  * dimensions (o_custkey, l_partkey, l_suppkey, user_id) are left
  * alone, so per-dimension fan-in densifies — the realistic corpus
  * growth model (more orders per customer, more events per user).
  * Document TEXT is made distinct per copy (every token suffixed
  * with the copy index) because real corpus growth adds NEW
  * documents: verbatim duplication would grow every near-dup clique
  * quadratically and measure a DATA artifact, not the algorithm
  * (per-copy distinct text ⇒ pair structure scales linearly, while
  * per-copy vocabularies keep per-token df constant).
  *
  * Timing: each query runs SOLO (one stream — the slope must not be
  * confounded by queue contention), warm (a full untimed pass at the
  * smallest size JIT-compiles every plan first), smallest size first,
  * base tables persisted per size and dropped before the next.
  * Posture is the cluster-realism one (AQE on, shuffle=32) because
  * the exponent should reflect how the engine re-plans as data
  * grows, not a fixed small-data tuning.
  *
  * Exponent: `exp_tail` = log-slope between the two LARGEST sizes
  * (fixed per-query overhead — driver analysis, codegen — is
  * amortized there; a 10×→30× pair with sub-second deltas is noise,
  * so slopes from sub-0.5 s readings are reported but flagged);
  * `exp_fit` = least-squares slope over all ln(size)→ln(t) points.
  * Gate intent (VERDICT r11): every exp_tail ≲ 1.2, i.e. at worst
  * log-linear growth — a super-linear offender is a real 100 TB
  * hazard regardless of how fast it is at sf0.1.
  *
  * Usage: graft.ScalingBench [baseSfDir]
  *   SPARK_GRAFT_SCALE_MULTS   (default "1,10,30")
  *   SPARK_GRAFT_SCALE_QUERIES (comma subset; default = measured
  *                              top-25 heavy tier + token-join /
  *                              dedup family incl. q_dfcap_cosine and
  *                              q_dedup_cluster, per the verdict)
  *   SPARK_GRAFT_SCALE_WORK    (default /tmp/graft_scaling)
  *   SPARK_GRAFT_SCALE_OUT     (default SCALING_r12.json)
  */
object ScalingBench {

  /** Key shift per copy: far above any base key (sf0.1 max key is
    * 6·10⁵) and 30 copies stay well under Long range. */
  private val Off = 100000000L

  /** Tables blown up by the multiplier; the rest are dimensions
    * copied verbatim (fixed population, densifying facts). */
  private val factTables = Set("lineitem", "orders", "events",
    "documents", "embeddings")

  /** Per-table key columns shifted per copy — ONLY keys whose other
    * side is also a scaled table (joint shift keeps joins intra-copy
    * and key uniqueness global). */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The measured heavy tier: top-25 of BENCH_r11's in-concurrency
    * map (bench_detail.json), ∪ the top-15 solo map (mostly the same
    * names), ∪ the token-join / dedup / similarity family whose
    * O(·) claims this artifact is for. */
  private[graft] val defaultQueries: Seq[String] = Seq(
    // top-25 in-concurrency tier (BENCH_r11 bench_detail)
    "q_rfm", "q_cte_recursive", "q_mad", "q_tfidf_cosine",
    "q_mood_median", "q_win_analytic", "q_minhash_est",
    "q_walk_forward", "q_learning_curve", "q_geomedian", "q_rank_corr",
    "q_percentile", "q_feature_corr", "q_ridge_path",
    "q_percentile_disc", "q_shortest_path", "q_runs_test", "q_gmm_em",
    "q_levene", "q_winsorize", "q_t_closeness", "q_hist_eqfreq",
    "q_huber", "q_kmeans_step", "q_linreg2",
    // token-join / near-dup / similarity family (the O(maxDf²) and
    // O(log n) claims the verdict wants as numbers)
    "q_dfcap_pairs", "q_dfcap_cosine", "q_dedup_cluster",
    "q_dedup_ngram", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_embed", "q_text_tfidf", "q_text_jaccard", "q_sim_cosine",
    "q_sim_pairs", "q_jaccard_link",
    // the declared scale twins of the exact pairwise demonstrators —
    // measured beside them so the exact-vs-twin exponent CONTRAST is
    // in the artifact (the twin must hold ≲ log-linear)
    "q_mmd", "q_mmd_linear", "q_ann_lsh", "q_lof_ann")

  /** Expected asymptote per query. The default budget is ~1.2
    * (log-linear); the EXACT pairwise demonstrators are quadratic BY
    * CONTRACT (each is a declared bounded-sample exact form whose
    * full-corpus path is its scale twin, measured alongside) — their
    * budget is 2.2, and a reading above it still fails the artifact.
    * A query over budget lands in `violations`. */
  private[graft] val expectedExp: Map[String, Double] = Map(
    "q_dedup_embed" -> 2.2, // exact all-pairs cosine; twins: q_ann_lsh/q_lof_ann
    "q_mmd" -> 2.2)         // exact quadratic MMD²; twin: q_mmd_linear

  /** One shifted copy of a fact table. Copy 0 is the base verbatim
    * (so the 1× leg times the identical frame the normal bench
    * sees). */
  private def shiftedCopy(df: DataFrame, name: String, k: Int): DataFrame = {
    if (k == 0) df
    else {
      val keyed = shiftCols.getOrElse(name, Nil)
        .foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))
      if (name == "documents")
        // distinct text per copy: suffix every token with the copy
        // index (new-documents growth model — see scaladoc)
        keyed.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1x$k"))
      else if (name == "embeddings")
        // distinct vectors per copy: rotate the dimension order by k.
        // An index permutation is orthogonal — norms and WITHIN-copy
        // dot products are preserved exactly, while cross-copy pairs
        // decorrelate — so verbatim duplication cannot manufacture
        // ×m² near-dup cliques the way it did for q_dedup_embed
        // (measured exp_tail 1.855 on the duplicated corpus, the
        // same data artifact the token suffix prevents for text)
        keyed.withColumn("embedding", concat(
          slice(col("embedding"), k % 64 + 1, 1000000),
          slice(col("embedding"), 1, k % 64)))
      else keyed
    }
  }

  /** Materialize `<work>/x<m>/<table>.parquet` for every table; a
    * completion marker makes re-runs free. */
  private def materialize(spark: SparkSession, base: String,
      work: String, m: Int): String = {
    val dest = s"$work/x$m"
    val marker = java.nio.file.Paths.get(dest, "_GRAFT_SCALE_OK")
    if (java.nio.file.Files.exists(marker)) return dest
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$base/$t.parquet")
      val out =
        if (factTables.contains(t) && m > 1)
          (0 until m).map(k => shiftedCopy(src, t, k)).reduce(_ union _)
        else src
      out.write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    java.nio.file.Files.createFile(marker)
    dest
  }

  /** OLS slope of ln(t) on ln(m) — the fitted growth exponent. */
  private[graft] def fitSlope(points: Seq[(Double, Double)]): Double = {
    val xs = points.map(p => math.log(p._1))
    val ys = points.map(p => math.log(p._2))
    val n = xs.size.toDouble
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0.0) 0.0 else sxy / sxx
  }

  private def fmt(d: Double): String = f"$d%.3f"

  def main(args: Array[String]): Unit = {
    val base = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10,30")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_WORK", "/tmp/graft_scaling")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALING_r12.json")
    val wanted = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultQueries)

    // cluster-realism posture (see scaladoc): the exponent should
    // include AQE's re-planning as shuffles grow past the 1× size
    val spark = GraftSession.session(GraftSession.Posture.fromEnv(
      maxCores = 16, shuffle = _ => 32, aqe = Some(true)))

    val entries = wanted.flatMap { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) => Some(n -> fn)
        case None =>
          System.err.println(s"[scaling] unknown query $n — skipped")
          None
      }
    }

    // MIN of 2 runs with a GC settle between queries: a single
    // reading at the large sizes carries same-JVM contamination from
    // the preceding query's garbage (measured: q_dedup_simhash read
    // 13.3 s inside the suite vs 2.6-3.2 s isolated at x30 — a 4×
    // artifact that would have mis-flagged a linear operator)
    def runSolo(dir: String, name: String,
        fn: (SparkSession, String) => DataFrame): Double = {
      def once() = Bench.timeQuery(spark, dir, name, fn, tag = s"scaling $dir")
      System.gc()
      val a = once()
      if (a < 0) return a
      val b = once()
      if (b < 0) a else math.min(a, b)
    }

    // size → per-query seconds
    val results = scala.collection.mutable.LinkedHashMap
      .empty[Int, Map[String, Double]]
    mults.foreach { m =>
      val dir = materialize(spark, base, work, m)
      // persist the inputs like Bench does — the slope must measure
      // operator compute, not repeated cold parquet scans
      val persisted = Bench.persistTables(spark, dir)
      if (m == mults.head) {
        // untimed JIT/codegen warm pass at the smallest size only:
        // cold-compile cost landing on the 1× leg would bias every
        // slope DOWNWARD (t1 inflated ⇒ exponent understated)
        entries.foreach { case (n, fn) => runSolo(dir, n, fn) }
      }
      val times = entries.map { case (n, fn) =>
        val t = runSolo(dir, n, fn)
        println(f"[scaling] x$m%-3d $n%-20s ${t}%9.3f s")
        n -> t
      }.toMap
      results(m) = times
      persisted.foreach(_.unpersist(false))
      // drop memoized plans tied to this dir by clearing cache state:
      // next size reads fresh (memo keys are (dir, table) so reuse is
      // already per-size; unpersist is the part that matters)
    }

    val perQuery = entries.map { case (name, _) =>
      val pts = mults.flatMap { m =>
        val t = results(m).getOrElse(name, -1.0)
        if (t > 0) Some((m.toDouble, t)) else None
      }
      val expFit = if (pts.size >= 2) fitSlope(pts) else Double.NaN
      val tail = pts.takeRight(2)
      val expTail =
        if (tail.size == 2 && tail(0)._1 != tail(1)._1)
          math.log(tail(1)._2 / tail(0)._2) /
            math.log(tail(1)._1 / tail(0)._1)
        else Double.NaN
      // sub-0.5 s readings on the tail pair are scheduler noise, not
      // asymptote — flag them so the gate reads signal only
      val noisy = tail.exists(_._2 < 0.5)
      (name, pts, expFit, expTail, noisy)
    }

    val qJson = perQuery.map { case (name, pts, expFit, expTail, noisy) =>
      val times = mults.map(m =>
        s""""x$m":${fmt(results(m).getOrElse(name, -1.0))}""")
        .mkString("{", ",", "}")
      val ef = if (expFit.isNaN) "null" else fmt(expFit)
      val et = if (expTail.isNaN) "null" else fmt(expTail)
      val budget = expectedExp.getOrElse(name, 1.2)
      s""""$name":{"times":$times,"exp_fit":$ef,"exp_tail":$et,"budget":${fmt(budget)},"noisy":$noisy}"""
    }.mkString("{", ",", "}")
    val clean = perQuery.filter(q => !q._5 && !q._4.isNaN)
    val maxTail = if (clean.isEmpty) Double.NaN else clean.map(_._4).max
    val worst = if (clean.isEmpty) "" else clean.maxBy(_._4)._1
    // a query is a VIOLATION when its measured tail exponent exceeds
    // its declared asymptote budget (1.2 log-linear default; 2.2 for
    // the exact pairwise demonstrators) — empty list = artifact green
    val violations = clean
      .filter(q => q._4 > expectedExp.getOrElse(q._1, 1.2))
      .map(q => s""""${q._1}"""").mkString("[", ",", "]")
    val json = s"""{"metric":"scaling","sf":"$base","mults":[${
      mults.mkString(",")}],"qn":${entries.size},"max_exp_tail":${
      if (maxTail.isNaN) "null" else fmt(maxTail)},"worst":"$worst","violations":$violations,"queries":$qJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
