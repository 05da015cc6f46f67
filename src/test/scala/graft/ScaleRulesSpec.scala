package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.CacheOps.CheckpointSyntax
import graft.plans.{CheckpointRegistry, ScaleRules}

/** Detector-level proof for the round-7 strategy-blind join-funnel
  * gate (GlobalFunnelSpec gate 1b). The whole-surface gate passing on
  * the CURRENT plans only shows the graded queries are clean; the
  * verdict's done-criterion was stronger — "the gate fails the build
  * on pre-fix q_fs_linkage and q_lof". These tests reconstruct the
  * two pre-fix offender shapes verbatim (nation-only customer
  * self-join; label-only embedding self-join) and assert
  * [[ScaleRules.logicalJoinFunnel]] FLAGS them, plus the
  * non-over-flagging negatives (tile-salted key, bounded-grid side,
  * corpus-growing key) and the [[CheckpointRegistry]] transparency
  * the gates' interior sweeps rely on. Plans only — nothing executes.
  */
class ScaleRulesSpec extends GraftSpecBase {

  private def joinsOf(p: LogicalPlan): Seq[Join] =
    p.collect { case j: Join => j }

  private def anyFunnel(df: DataFrame): Boolean =
    joinsOf(df.queryExecution.optimizedPlan)
      .exists(ScaleRules.logicalJoinFunnel)

  test("pre-fix q_fs_linkage shape IS flagged: nation-only customer self-join") {
    // the round-6 shipped shape (FsLinkageQueries pre-319cbe9):
    // customer × customer on nk === nk2 alone — O(n²/25) at scale,
    // planned as BroadcastHashJoin at graded SF (which is why the
    // physical shuffle-join gate missed it)
    val c = Tables.customer(spark, sf)
    val a = c.select(col("c_custkey").as("id"),
      col("c_nationkey").as("nk"), col("c_acctbal").as("bal_a"))
    val b = c.select(col("c_custkey").as("id2"),
      col("c_nationkey").as("nk2"), col("c_acctbal").as("bal_b"))
    val prefix = a.join(b, col("nk") === col("nk2") && col("id") < col("id2"))
    assert(anyFunnel(prefix),
      "the nation-blocked self-join must be flagged as a logical join funnel")
  }

  test("pre-fix q_lof shape IS flagged: label-only embedding self-join") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = e.toDF("src", "label", "ea")
    val b = e.toDF("dst", "labelb", "eb")
    val pairs = a.join(b,
      col("label") === col("labelb") && col("src") =!= col("dst"))
    assert(anyFunnel(pairs),
      "the label-only block must be flagged as a logical join funnel")
  }

  test("tile-salted block is NOT flagged: the salt key restores parallelism") {
    // the shipped fix (LofQueries.lof): left side takes a home tile,
    // right side replicates to every tile — the (label, tile) key's
    // cardinality is |labels|·T, a deployment dial, and the tile
    // attribute is not a bounded-domain name
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = e.toDF("src", "label", "ea")
      .withColumn("tile", pmod(hash(col("src")), lit(8)))
    val b = e.toDF("dst", "labelb", "eb").crossJoin(
      spark.range(8L).select(col("id").cast("int").as("tileb")))
    val pairs = a.join(b, col("label") === col("labelb")
      && col("tile") === col("tileb") && col("src") =!= col("dst"))
    assert(!anyFunnel(pairs),
      "a salted block key must not be flagged — parallelism is |labels|·T")
  }

  test("bounded-grid side exempts the join: broadcasting a constant frame is correct at every scale") {
    val docs = Tables.documents(spark, sf)
    val grid = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val joined = Tables.documents(spark, sf).join(grid, "lang")
    assert(!anyFunnel(joined),
      "fact × bounded-grid on a bounded key is the correct plan, not a funnel")
  }

  test("corpus-growing equi key is NOT flagged even alongside a bounded key") {
    // partitioning includes o_custkey → scale-parallel: hash
    // partitioning on (nk, custkey) distributes by the growing key
    val c = Tables.customer(spark, sf)
    val a = c.select(col("c_custkey").as("ck"),
      col("c_nationkey").as("nk"), col("c_acctbal").as("bal_a"))
    val b = c.select(col("c_custkey").as("ck2"),
      col("c_nationkey").as("nk2"), col("c_acctbal").as("bal_b"))
    val j = a.join(b, col("nk") === col("nk2") && col("ck") === col("ck2"))
    assert(!anyFunnel(j),
      "an equi-key set containing a corpus-growing column is scale-parallel")
  }

  test("boundedPhysical sees through a persisted subtree (the rule behind the round-7 allowlist deletions)") {
    // a .persist() plants an InMemoryRelation leaf whose interior only
    // exists physically; GlobalJoinSpec's BNLJ gate now delegates to
    // boundedPhysical, which must recurse into the cached plan — and
    // must still REJECT a persisted raw fact scan
    val grid = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).persist()
    try {
      val plan = grid.queryExecution.executedPlan
      assert(ScaleRules.boundedPhysical(plan),
        "a persisted bounded-key aggregate must prove bounded through the cache")
      val raw = Tables.documents(spark, sf).persist()
      try {
        assert(!ScaleRules.boundedPhysical(raw.queryExecution.executedPlan),
          "a persisted raw fact scan must stay unbounded")
      } finally raw.unpersist()
    } finally grid.unpersist()
  }

  // ----- round-9 pins: lineage-aware bounded-key proofs (ADVICE,
  // medium + low) and the least/non-negative ordinal-grid rule
  // (verdict item 4).

  test("least(k, floor(nonNegative/c)) grid key proves bounded; the same shape over a sign-indefinite column does NOT") {
    // the q_ordinal_gamma / q_somers_d price-band key: finite image
    // {0..4} BECAUSE o_totalprice >= 0 by fixture contract
    val priced = Tables.orders(spark, sf).select(
      substring(col("o_orderpriority"), 1, 1).cast("int").as("x"),
      least(lit(4), floor(col("o_totalprice") / 100000.0).cast("int")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(priced.queryExecution.optimizedPlan),
      "the ordinal price-band grid must prove bounded (verdict item 4)")
    assert(ScaleRules.boundedPhysical(priced.queryExecution.executedPlan))
    // c_acctbal reaches −999.99, so the NON-NEGATIVITY premise fails —
    // but round-10's measured-interval rule proves the /10 form anyway
    // (true image ⊆ {−100..4}, 105 values — the data sees the spec
    // floor the name rule could not). The shape only stays unbounded
    // when the true image genuinely exceeds the cap:
    val signIndef = Tables.customer(spark, sf).select(
      least(lit(4), floor(col("c_acctbal") / 1.0).cast("int")).as("y"))
      .groupBy(col("y")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(signIndef.queryExecution.optimizedPlan),
      "least over a wide sign-indefinite image (−1000..4) must stay unbounded")
    assert(!ScaleRules.boundedPhysical(signIndef.queryExecution.executedPlan))
    val nowProvable = Tables.customer(spark, sf).select(
      least(lit(4), floor(col("c_acctbal") / 10.0).cast("int")).as("y"))
      .groupBy(col("y")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(nowProvable.queryExecution.optimizedPlan),
      "the measured interval proves the /10 form: image ⊆ {−100..4}")
  }

  test("a same-named attribute filtered in ANOTHER join branch cannot prove a grouping key bounded (round-9 ADVICE, medium)") {
    // the accidental-fire shape: facts grouped on their own `segx`
    // column (NOT a vocabulary name — the bounded-name vocabularies
    // are the separately-documented residual name trust), joined with
    // a frame that pins a DIFFERENT column also named `segx` to a
    // literal — the old anywhere-below name-fallback collected that
    // filter and falsely proved the fact key bounded
    val facts = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        col("value").cast("string").as("segx"))
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segx"))
      .filter(col("segx") === "BUILDING")
      .select(col("user_id"))
    val grouped = facts.join(dim, "user_id")
      .groupBy(facts("segx")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(grouped.queryExecution.optimizedPlan),
      "the filter pins the DIM's seg, not the grouping key — must not prove")
    assert(!ScaleRules.boundedPhysical(grouped.queryExecution.executedPlan))
  }

  test("a literal pin survives its own lineage: through project aliases and a checkpoint leaf (exprId-tracked, no name trust)") {
    import graft.operators.CacheOps.CheckpointSyntax
    // rename the pinned column twice and cross a checkpoint boundary:
    // the lineage walker must still connect grouping key → filter
    val pinned = Tables.events(spark, sf)
      .filter(col("value").isin(1.0, 2.0, 3.0))
      .select(col("value").as("v1"), col("event_id"))
      .truncatedCheckpoint()
      .select(col("v1").as("v2"), col("event_id"))
      .groupBy(col("v2")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(pinned.queryExecution.optimizedPlan),
      "isin-pinned key renamed across a checkpoint must still prove bounded")
  }

  test("an equality under OR / NOT is not a pin (round-9 ADVICE, low: conjunct-level matching)") {
    val orPin = Tables.events(spark, sf)
      .filter(col("value") === 1.0 || col("user_id") > 5)
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(orPin.queryExecution.optimizedPlan),
      "value = 1 OR … admits every value — not a literal pin")
    val notPk = Tables.embeddings(spark, sf)
      .filter(!(col("vec_id") === 0))
      .select(col("vec_id"), col("label"))
    assert(!ScaleRules.boundedPhysical(notPk.queryExecution.executedPlan),
      "NOT(vec_id = 0) keeps n−1 rows — not a 1-row PK fetch")
  }

  test("physicalJoinFunnel flags the pre-fix label-block shape and passes the salted/bounded forms (round-9 physical twin of gate 1b)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def anyPhysFunnel(df: DataFrame): Boolean = {
      // strip the AQE wrapper (no children — a bare collect sees
      // nothing through it), as GradedPlans does for the gate sweeps
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      p.collect { case j: BaseJoinExec => j }
        .exists(ScaleRules.physicalJoinFunnel)
    }
    // pre-fix q_lof shape: label-only embedding self-join — planned
    // as a BROADCAST join at graded SF, which is exactly why the
    // strategy-blind rule must flag it on the physical plan too
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = e.toDF("src", "label", "ea")
    val b = e.toDF("dst", "labelb", "eb")
    val funnel = a.join(b,
      col("label") === col("labelb") && col("src") =!= col("dst"))
    assert(anyPhysFunnel(funnel),
      "the label-only block must be flagged on the PHYSICAL plan")
    // tile-salted: the salt key restores parallelism → not flagged
    val at = a.withColumn("tile", pmod(hash(col("src")), lit(8)))
    val bt = b.crossJoin(spark.range(8L)
      .select(col("id").cast("int").as("tileb")))
    val salted = at.join(bt, col("label") === col("labelb")
      && col("tile") === col("tileb") && col("src") =!= col("dst"))
    assert(!anyPhysFunnel(salted))
    // bounded-grid side exempts: fact × lang-grid broadcast is correct
    val docs = Tables.documents(spark, sf)
    val grid = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    assert(!anyPhysFunnel(Tables.documents(spark, sf).join(grid, "lang")))
  }

  // ----- round-10 pins (verdict item 1): ORIGIN-GROUNDED vocabulary
  // trust. The bounded-domain / non-negativity / fixture-PK proofs
  // trace the claiming attribute to its PHYSICAL fixture column and
  // cross-check the loaded ColumnFacts — the documented spoof (a user
  // column aliased onto a trusted name) flips from caveat to failing
  // pin here.

  test("SPOOF KILLED: c_acctbal aliased onto 'o_totalprice' does NOT prove the least-grid bounded") {
    // the exact shape the round-9 caveat documented: the attribute
    // WEARS the trusted name but its lineage is a sign-indefinite
    // column (c_acctbal reaches −999.99) — name trust would accept,
    // the origin-grounded proof judges by the TRUE column only.
    // Divisor 1.0 keeps the true image wide (−1000..4), so neither
    // the non-negativity path (origin not in the vocabulary) nor the
    // measured-interval path (width 1005 > cap) can accept — the
    // spoofed NAME is the only route, and it must count for nothing
    val spoofed = Tables.customer(spark, sf)
      .select(col("c_acctbal").as("o_totalprice"))
      .select(least(lit(4), floor(col("o_totalprice") / 1.0).cast("int")).as("y"))
      .groupBy(col("y")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(spoofed.queryExecution.optimizedPlan),
      "an alias onto a trusted non-negative name must prove NOTHING")
    assert(!ScaleRules.boundedPhysical(spoofed.queryExecution.executedPlan))
  }

  test("origin carries the trust, not the surface name: o_totalprice renamed arbitrarily still proves the least-grid") {
    // the positive dual: the physical column IS the contract column;
    // whatever the query calls it, the lineage walker finds it
    val renamed = Tables.orders(spark, sf)
      .select(col("o_totalprice").as("spend_usd"))
      .select(least(lit(4), floor(col("spend_usd") / 100000.0).cast("int")).as("y"))
      .groupBy(col("y")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(renamed.queryExecution.optimizedPlan),
      "a renamed copy of the contract column must still prove (origin, not name)")
    assert(ScaleRules.boundedPhysical(renamed.queryExecution.executedPlan))
  }

  test("SPOOF KILLED: a non-unique column aliased onto 'vec_id' is not a 1-row PK fetch") {
    // events.value (a double with heavy repeats) wearing the PK name:
    // the physical FilterExec rule must reject — PK trust requires
    // the lineage to reach the real unique fixture column
    val spoofed = Tables.events(spark, sf)
      .select(col("user_id"), col("value").as("vec_id"))
      .filter(col("vec_id") === 1.0)
    assert(!ScaleRules.boundedPhysical(spoofed.queryExecution.executedPlan),
      "a value column named vec_id must not prove a 1-row fetch")
    // and the genuine PK pin still proves, renamed or not
    val genuine = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("query_vec"), col("label"))
      .filter(col("query_vec") === 0L)
    assert(ScaleRules.boundedPhysical(genuine.queryExecution.executedPlan),
      "the real embeddings PK must keep proving through a rename")
  }

  test("SPOOF KILLED: a corpus-growing key aliased onto a lowCard name does NOT prove a grouping bounded") {
    // c_custkey (1500 distinct at sf0.001, corpus-growing) wearing
    // 'label': name trust accepted this; the NDV cross-check rejects
    val spoofed = Tables.customer(spark, sf)
      .select(col("c_custkey").as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(spoofed.queryExecution.optimizedPlan),
      "a growing key named 'label' must not prove bounded (measured NDV)")
    assert(!ScaleRules.boundedPhysical(spoofed.queryExecution.executedPlan))
    // positive dual: a genuinely bounded fixture column under an
    // arbitrary alias proves via origin + facts
    val renamed = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("segment_x"))
      .groupBy(col("segment_x")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(renamed.queryExecution.optimizedPlan),
      "a renamed bounded fixture column must prove via its origin")
    assert(ScaleRules.boundedPhysical(renamed.queryExecution.executedPlan))
  }

  test("a day-truncated TIMESTAMP grouping key is calendar-bounded; a minute-truncated one is not (round-10 trunc rule)") {
    // the q_kendall_tau daily frame: o_orderdate reads as
    // timestamp_ntz in this vintage, so the DateType rule never sees
    // it — the trunc rule grounds the bound structurally (literal
    // day-or-coarser unit), no name trust, allowlist entry retired
    val daily = Tables.orders(spark, sf)
      .groupBy(date_trunc("day", col("o_orderdate")).as("bucket_x"))
      .agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(daily.queryExecution.optimizedPlan),
      "a day-trunc key must prove calendar-bounded (any alias)")
    assert(ScaleRules.boundedPhysical(daily.queryExecution.executedPlan))
    val minutely = Tables.events(spark, sf)
      .groupBy(date_trunc("minute", col("ts2")).as("bucket_x"))
      .agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(minutely.queryExecution.optimizedPlan),
      "a sub-day trunc multiplies the horizon 1440x — stays unbounded")
    assert(!ScaleRules.boundedPhysical(minutely.queryExecution.executedPlan))
  }

  test("a uniqueness trace refuses to cross row-multiplying operators; a value trace crosses them (round-10 review)") {
    // doc_id IS unique in documents — but a join/cross fan-out copies
    // it per matching row, so an equality pin above the fan-out is NOT
    // a 1-row fetch. Value facts (sign, domain) survive the same
    // operators, so the plain trace keeps resolving.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val em = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val fanned = docs.crossJoin(em)
    val plan = fanned.queryExecution.analyzed
    val id = plan.output.find(_.name == "doc_id").get.exprId
    assert(ScaleRules.originOfL(id, plan) == Some(("documents", "doc_id")),
      "the VALUE trace must resolve through the join")
    assert(ScaleRules.originOfL(id, plan, unique = true).isEmpty,
      "the UNIQUENESS trace must refuse the join — copies repeat the PK")
    // row-keep/drop operators preserve uniqueness: filter + sort pass
    val kept = docs.filter(col("lang") === "de").orderBy(col("doc_id"))
    val kPlan = kept.queryExecution.analyzed
    val kId = kPlan.output.find(_.name == "doc_id").get.exprId
    assert(ScaleRules.originOfL(kId, kPlan, unique = true)
      == Some(("documents", "doc_id")))
  }

  test("measured-interval grid proof: value-column bands prove bounded; wide bands and identity-column bands do NOT (round-10)") {
    // floor(c_acctbal/1000): CBAL ∈ [−999.99, 9999.99] → image {−1..9}
    // — the data-grounded proof for the q_fs_linkage 'bal' axis, no
    // name trust anywhere (note c_acctbal is NOT non-negative, so the
    // least-rule could never carry this; the interval does)
    val band = Tables.customer(spark, sf)
      .select(floor(col("c_acctbal") / 1000.0).cast("int").as("band_x"))
      .groupBy(col("band_x")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(band.queryExecution.optimizedPlan),
      "an SF-stable value band with a ≤128-wide integral image must prove")
    assert(ScaleRules.boundedPhysical(band.queryExecution.executedPlan))
    // same column, /10: image width ~1100 > cap — stays unbounded
    val wide = Tables.customer(spark, sf)
      .select(floor(col("c_acctbal") / 10.0).cast("int").as("band_x"))
      .groupBy(col("band_x")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(wide.queryExecution.optimizedPlan))
    // an IDENTITY column's interval is small at graded SF and
    // unbounded at 100 TB — must never feed the interval proof
    val ident = Tables.orders(spark, sf)
      .select(floor(col("o_orderkey") / 100000.0).cast("int").as("band_x"))
      .groupBy(col("band_x")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(ident.queryExecution.optimizedPlan),
      "a key-column band proves nothing: its range grows with the corpus")
    assert(!ScaleRules.boundedPhysical(ident.queryExecution.executedPlan))
  }

  test("origin traces: union branches must AGREE; caches and checkpoints stay transparent (round-10 walker pins)") {
    // union of the SAME origin in both branches → resolves
    val de = Tables.documents(spark, sf).filter(col("lang") === "de")
      .select(col("lang"))
    val en = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select(col("lang"))
    val same = de.unionAll(en)
    val sp = same.queryExecution.analyzed
    assert(ScaleRules.originOfL(sp.output.head.exprId, sp)
      == Some(("documents", "lang")))
    // branches from DIFFERENT physical columns → ambiguous → None
    val mixed = de.unionAll(Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("lang")))
    val mp = mixed.queryExecution.analyzed
    assert(ScaleRules.originOfL(mp.output.head.exprId, mp).isEmpty,
      "disagreeing union branches must not resolve to either origin")
    // a persisted subtree stays transparent (positional map into the
    // cached physical plan)
    val cached = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("seg_x"), col("c_custkey")).persist()
    try {
      cached.count() // materialize so the InMemoryRelation leaf is real
      val renamed = cached.select(col("seg_x").as("seg_y"))
      val rp = renamed.queryExecution.optimizedPlan
      assert(ScaleRules.originOfL(rp.output.head.exprId, rp)
        == Some(("customer", "c_mktsegment")),
        "the origin trace must cross the cache boundary positionally")
    } finally cached.unpersist()
    // a checkpoint leaf stays transparent via the registry
    import graft.operators.CacheOps.CheckpointSyntax
    val ck = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("seg_x")).truncatedCheckpoint()
      .select(col("seg_x").as("seg_z"))
    val cp2 = ck.queryExecution.optimizedPlan
    assert(ScaleRules.originOfL(cp2.output.head.exprId, cp2)
      == Some(("customer", "c_mktsegment")),
      "the origin trace must cross the checkpoint leaf via the registry")
  }

  test("uniqueness trace also refuses with-replacement sampling and narrowing casts (round-10 second review)") {
    // sample(withReplacement = true) DUPLICATES rows — vec_id repeats
    val dup = Tables.embeddings(spark, sf).sample(withReplacement = true, 2.0)
    val dp = dup.queryExecution.analyzed
    val dupId = dp.output.find(_.name == "vec_id").get.exprId
    assert(ScaleRules.originOfL(dupId, dp).isDefined,
      "value trace crosses the sample")
    assert(ScaleRules.originOfL(dupId, dp, unique = true).isEmpty,
      "with-replacement sample copies rows — uniqueness trace must refuse")
    // without replacement: rows only drop — uniqueness survives
    val thin = Tables.embeddings(spark, sf).sample(withReplacement = false, 0.5)
    val tp = thin.queryExecution.analyzed
    val thinId = tp.output.find(_.name == "vec_id").get.exprId
    assert(ScaleRules.originOfL(thinId, tp, unique = true)
      == Some(("embeddings", "vec_id")))
    // a narrowing cast collapses distinct keys (tinyint wraparound)
    val cast = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("tinyint").as("vid"))
    val cp = cast.queryExecution.analyzed
    val castId = cp.output.find(_.name == "vid").get.exprId
    assert(ScaleRules.originOfL(castId, cp).isDefined,
      "value trace looks through the cast (sign/domain survive)")
    assert(ScaleRules.originOfL(castId, cp, unique = true).isEmpty,
      "uniqueness trace must refuse a cast — narrowing collapses keys")
  }

  test("ColumnFacts corroborate the vocabularies against the graded parquet (the data cross-check is loaded and real)") {
    import graft.plans.ColumnFacts
    assert(ColumnFacts.loaded, "the gate JVM must load ColumnFacts")
    assert(ColumnFacts.failedTables.isEmpty,
      s"tables failed to load facts (claims on them now REJECT, but a " +
        s"grounded gate run must not silently degrade): " +
        ColumnFacts.failedTables.mkString(", "))
    // every nonNegativeNames entry that IS a base column: min >= 0
    val tables = Tables.names
    def factsOf(c: String) = tables.flatMap(t => ColumnFacts.get(t, c))
    ScaleRules.nonNegativeNames.foreach { c =>
      val fs = factsOf(c)
      assert(fs.nonEmpty, s"$c: vocabulary entry with no base column")
      fs.foreach(f => assert(f.nonNegative,
        s"$c claims non-negative but parquet min = ${f.min}"))
    }
    // the documented counter-example the negative pins rely on
    assert(ColumnFacts.get("customer", "c_acctbal").exists(!_.nonNegative),
      "c_acctbal must measure negative (the sign-indefinite fixture)")
    // every lowCardNames entry that IS a base column: NDV <= cap
    ScaleRules.lowCardNames.foreach { c =>
      factsOf(c).foreach(f =>
        assert(f.lowCard(ColumnFacts.LowCardCap),
          s"$c claims low-card but measured NDV = ${f.ndv}"))
    }
    // fixture PKs measure unique; a non-key column does not
    Seq("embeddings" -> "vec_id", "documents" -> "doc_id",
      "events" -> "event_id").foreach { case (t, c) =>
      assert(ColumnFacts.get(t, c).exists(_.unique), s"$t.$c must be unique")
    }
    assert(ColumnFacts.get("events", "user_id").exists(!_.unique))
    // round-11 (ADVICE): the base/derived split of lowCardNames is
    // cross-checked against the fixtures themselves — every base
    // entry IS a measured physical column, no derived entry is (so
    // "origin required for base names" can never strand a legitimate
    // claim, and "name trust for derived names" can never be
    // exploited by a real column)
    ScaleRules.baseLowCardNames.foreach(c =>
      assert(factsOf(c).nonEmpty,
        s"baseLowCardNames entry '$c' is not a fixture column — move it" +
          " to the derived side"))
    ScaleRules.derivedLowCardNames.foreach(c =>
      assert(factsOf(c).isEmpty,
        s"derived lowCard name '$c' IS a fixture column — claims on it" +
          " must require origin + data (move it to baseLowCardNames)"))
    assert(ScaleRules.baseLowCardNames.subsetOf(ScaleRules.lowCardNames))
  }

  test("SPOOF KILLED: an ORIGIN-LESS attribute wearing a base-column name does not prove bounded (round-11 ADVICE — beyond scan-rooted columns)") {
    val d = Tables.documents(spark, sf)
    // ambiguous union trace: branch 1 outputs the real `lang`, branch
    // 2 aliases a DIFFERENT column onto the name — origin resolution
    // refuses (branches disagree), so the claim falls to name trust,
    // which no longer accepts base-column names
    val spoof = d.select(col("lang"))
      .union(d.select(col("text").as("lang")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(spoof.queryExecution.optimizedPlan),
      "an ambiguous union trace named 'lang' must NOT prove bounded")
    // positive dual: branches that AGREE resolve to the physical
    // column and keep proving (origin, not name)
    val honest = d.select(col("lang"))
      .union(d.select(col("lang")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(honest.queryExecution.optimizedPlan),
      "agreeing union branches must keep the origin-grounded proof")
  }

  test("md5_bucket keys prove bounded by a literal modulus alone") {
    import graft.functions.expressions.Md5Bucket.md5Bucket
    val d = Tables.documents(spark, sf)
    // the SketchExactQueries shape, with the b0 vocabulary entry GONE:
    // the type-level image rule (md5_bucket(_, 1024) ∈ {0..1023}) must
    // carry the bounded-output proof through the alias chase alone
    val cms = d.select(md5Bucket(concat(lit("cms0:"), col("lang")),
        lit(1024)).as("zz_unvocabed"))
      .groupBy(col("zz_unvocabed")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(cms.queryExecution.optimizedPlan),
      "a literal-modulus md5_bucket grid must prove bounded structurally")
    // non-literal modulus: the image bound is gone — must NOT prove
    // (n_chars is corpus-valued; md5 mod n_chars has no static image)
    val bad = d.select(md5Bucket(concat(lit("x:"), col("lang")),
        col("n_chars").cast("int")).as("zz_unvocabed"))
      .groupBy(col("zz_unvocabed")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(bad.queryExecution.optimizedPlan),
      "md5_bucket with a column modulus must NOT prove bounded")
  }

  test("the residual alias vocabulary is EMPTY — every computed grouping key proves structurally (round-12, verdict item 7)") {
    // name trust is finished: adding ANY entry fails the build until
    // someone deliberately re-opens the vocabulary here
    assert(ScaleRules.boundedAliasNames.isEmpty,
      s"residual alias vocabulary re-opened: ${ScaleRules.boundedAliasNames}" +
        " — write a structural image rule instead (Md5Bucket /" +
        " BitOrAgg / substring-cast precedents)")
    // the structurally-retired entries must stay OUT: their proofs are
    // the Md5Bucket rule / origin-resolved lowCardNames / BitOrAgg
    // image rule / fixed-length substring-cast rule now
    Seq("b0", "b1", "b2", "p0", "p1", "p2", "lang_p", "bal",
        "mask", "dig").foreach(n =>
      assert(!ScaleRules.boundedAliasNames.contains(n),
        s"'$n' was retired structurally and must not return by name"))
  }

  test("bit_or aggregate image rule: OR of a non-negative bounded input proves; sum and unbounded inputs refuse (round-12, verdict item 7)") {
    val c = Tables.customer(spark, sf)
    // the q_shapley mask shape: bit_or over a CASE of power-of-two
    // literals — image ⊆ [0, 15] whatever the row count
    val bits = c.select(col("c_custkey"),
      when(col("c_mktsegment") === "BUILDING", lit(1))
        .when(col("c_mktsegment") === "MACHINERY", lit(2))
        .otherwise(lit(4)).as("zz_bit"))
    val masked = bits.groupBy(col("c_custkey"))
      .agg(bit_or(col("zz_bit")).cast("int").as("zz_mask"))
      .groupBy(col("zz_mask")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(masked.queryExecution.optimizedPlan),
      "bit_or of a bounded non-negative CASE must prove structurally")
    // SPOOF 1: the same shape with SUM must NOT prove — sum's image
    // grows with the row count (the exact reason mask needed
    // vocabulary trust before bit_or)
    val summed = bits.groupBy(col("c_custkey"))
      .agg(sum(col("zz_bit")).cast("int").as("zz_mask"))
      .groupBy(col("zz_mask")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(summed.queryExecution.optimizedPlan),
      "sum over a bounded input must NOT prove (row-count-dependent image)")
    // SPOOF 2: bit_or over an UNBOUNDED input must NOT prove — the
    // inner grouping key is corpus-growing (c_custkey), so the outer
    // group-by is bounded only if the bit_or IMAGE is, and an OR of
    // key values has no bound
    val wide = c.groupBy(col("c_custkey"))
      .agg(bit_or(col("c_custkey")).as("zz_wide"))
      .groupBy(col("zz_wide")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(wide.queryExecution.optimizedPlan),
      "bit_or of an unbounded input must NOT prove")
  }

  test("fixed-length substring-cast rule: a parsed <=4-char slice proves; raw strings and long slices refuse (round-12, verdict item 7)") {
    val c = Tables.customer(spark, sf)
    // the q_fs_linkage dig shape: 2-char suffix parsed to INT —
    // image ⊆ {NULL} ∪ [−9, 99] by decimal-parsing arithmetic
    val dig = c.select(substring(col("c_name"), -2, 2).cast("int")
        .as("zz_dig"))
      .groupBy(col("zz_dig")).agg(count(lit(1)).as("n"))
    assert(ScaleRules.boundedLogical(dig.queryExecution.optimizedPlan),
      "cast(substring(_, _, 2) as int) must prove structurally")
    // SPOOF 1: the UNCAST substring must NOT prove — a 2-char STRING
    // slice ranges over the whole charset squared
    val raw = c.select(substring(col("c_name"), -2, 2).as("zz_raw"))
      .groupBy(col("zz_raw")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(raw.queryExecution.optimizedPlan),
      "an unparsed substring must NOT prove (charset-wide image)")
    // SPOOF 2: a parsed slice LONGER than the cap must NOT prove
    val long = c.select(substring(col("c_name"), -9, 9).cast("long")
        .as("zz_long"))
      .groupBy(col("zz_long")).agg(count(lit(1)).as("n"))
    assert(!ScaleRules.boundedLogical(long.queryExecution.optimizedPlan),
      "a 9-char parsed slice must NOT prove (10^9 image)")
  }

  test("checkpoint leaves stay transparent to the funnel sweep (expand) and to contractedLogical") {
    // a funnel hidden behind a lazy localCheckpoint: the truncated
    // plan itself shows only a LogicalRDD leaf, but the gates sweep
    // CheckpointRegistry.expand — this pins the mechanism the round-7
    // blind-spot fix rests on (q_ipf_rake / GraphDist interiors)
    val c = Tables.customer(spark, sf)
    val a = c.select(col("c_custkey").as("id"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("id2"),
      col("c_nationkey").as("nk2"))
    val funnel = a.join(b, col("nk") === col("nk2"))
    val hidden = funnel.truncatedCheckpoint()
      .groupBy(col("nk")).agg(count(lit(1)).as("n"))
    val visible = joinsOf(hidden.queryExecution.optimizedPlan)
    assert(!visible.exists(ScaleRules.logicalJoinFunnel),
      "sanity: the truncated plan alone must NOT show the interior join")
    val expanded = CheckpointRegistry
      .expand(hidden.queryExecution.optimizedPlan)
      .flatMap(joinsOf)
    assert(expanded.exists(ScaleRules.logicalJoinFunnel),
      "expand must surface the funnel behind the checkpoint leaf")

    // and the positive direction: a CONTRACTED frame keeps its
    // verdict through the leaf (the q_ipf_rake sort-input case)
    val grid = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .truncatedCheckpoint()
    assert(ScaleRules.contractedLogical(grid.queryExecution.optimizedPlan),
      "a checkpointed aggregate must still prove contracted via the registry")
    assert(ScaleRules.boundedLogical(grid.queryExecution.optimizedPlan),
      "a checkpointed bounded-key aggregate must still prove bounded")
  }
}
