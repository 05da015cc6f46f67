package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOfJoinPlan

/** The custom as-of join operator (LogicalPlan + Strategy + Exec):
  * result equivalence against the compositional join+max(struct)
  * form, left-outer semantics, and the physical-plan shape (merge
  * scan, no pair materialization). */
class AsOfJoinSpec extends GraftSpecBase {

  private def purchases = Tables.events(spark, sf)
    .filter(col("event_type") === "purchase")
    .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
      col("ts2").as("p_ts"))

  private def signups = Tables.events(spark, sf)
    .filter(col("event_type") === "signup")
    .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
      col("ts2").as("s_ts"))

  private def asofDf = {
    AsOfJoinPlan.asof(purchases, signups,
      leftKeys = Seq(col("p_user")), rightKeys = Seq(col("s_user")),
      leftTime = col("p_ts"), rightTime = col("s_ts"),
      rightTie = Seq(col("s_id")))
  }

  test("as-of exec matches the join+max(struct) compositional form") {
    val viaExec = asofDf
      .filter(col("s_id").isNotNull)
      .select(col("p_id"), col("s_ts"), col("s_id"))
    val viaAgg = purchases
      .join(signups, col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts"))
      .groupBy(col("p_id"))
      .agg(max(struct(col("s_ts"), col("s_id"))).as("m"))
      .select(col("p_id"), col("m.s_ts").as("s_ts"), col("m.s_id").as("s_id"))
    assert(viaExec.count() > 0)
    assert(viaExec.except(viaAgg).count() === 0)
    assert(viaAgg.except(viaExec).count() === 0)
  }

  test("as-of exec is left-outer: every left row appears exactly once") {
    val out = asofDf
    assert(out.count() === purchases.count())
    assert(out.groupBy("p_id").count().filter(col("count") > 1).count() === 0)
  }

  test("as-of plan is a co-partitioned merge scan, no pair blow-up") {
    // round-robin inputs do NOT satisfy the key distribution →
    // EnsureRequirements must insert one hash exchange per side
    val out = AsOfJoinPlan.asof(purchases.repartition(4), signups.repartition(4),
      leftKeys = Seq(col("p_user")), rightKeys = Seq(col("s_user")),
      leftTime = col("p_ts"), rightTime = col("s_ts"),
      rightTie = Seq(col("s_id")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "), p.take(3000)) // the exec node
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(3000))
    assert(p.linesIterator.count(_.trim.contains("Exchange hashpartitioning")) === 2,
      p.take(3000))
    assert(p.contains("Sort ["), p.take(3000))
    // and it still computes the same result under the forced shuffles
    assert(out.count() === purchases.count())
  }

  test("left-only filters push through AsOfJoin to the scan") {
    val filtered = asofDf.filter(col("p_user") < 5 && col("s_id").isNotNull)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    // the p_user predicate must sit BELOW the AsOfJoin (left child),
    // while the right-referencing IS NOT NULL stays above it
    val lines = optimized.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("AsOfJoin"))
    val pushIdx = lines.indexWhere(_.contains("p_user#") )
    val abovePart = lines.take(joinIdx).mkString("\n")
    assert(joinIdx >= 0, optimized.take(2000))
    assert(lines.drop(joinIdx + 1).exists(l =>
      l.contains("Filter") && l.contains("p_user")), optimized.take(3000))
    assert(abovePart.contains("isnotnull") && abovePart.contains("s_id"),
      optimized.take(3000))
    // results equal the unpushed semantics
    val reference = asofDf.collect().filter(r =>
      !r.isNullAt(r.fieldIndex("s_id")) && r.getLong(r.fieldIndex("p_user")) < 5)
    assert(filtered.count() === reference.length)
  }

  test("as-of matched timestamps never exceed the purchase time") {
    val bad = asofDf.filter(col("s_ts").isNotNull && col("s_ts") > col("p_ts"))
    assert(bad.count() === 0)
  }

  test("as-of exec: randomized trials vs a driver-side reference (ties, empty right, skew)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val nL = Seq(1, 17, 60, 100, 40)(trial - 1)
      val nR = Seq(0, 9, 60, 25, 200)(trial - 1)   // incl. EMPTY right
      val users = Seq(1, 3, 5, 4, 2)(trial - 1)    // incl. heavy skew
      val lRows = (1 to nL).map(i => (i.toLong,
        rnd.nextInt(users).toLong, rnd.nextInt(30).toLong))
      val rRows = (1 to nR).map(i => (i.toLong + 1000,
        rnd.nextInt(users).toLong, rnd.nextInt(30).toLong)) // many ts TIES
      val left = lRows.toDF("p_id", "p_user", "p_ts")
      val right = rRows.toDF("s_id", "s_user", "s_ts")
      val got = AsOfJoinPlan.asof(left, right,
          leftKeys = Seq(col("p_user")), rightKeys = Seq(col("s_user")),
          leftTime = col("p_ts"), rightTime = col("s_ts"),
          rightTie = Seq(col("s_id")))
        .select(col("p_id"), col("s_id"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      // reference computed entirely on the driver: per left row, the
      // matching right row is argmax (s_ts, s_id) among same-user
      // rows with s_ts <= p_ts; None when no candidate
      val want = lRows.map { case (pid, pu, pts) =>
        val cand = rRows.filter { case (_, su, sts) => su == pu && sts <= pts }
        (pid, if (cand.isEmpty) None
              else Some(cand.maxBy { case (sid, _, sts) => (sts, sid) }._1))
      }.toSet
      assert(got == want, s"trial $trial (nL=$nL nR=$nR users=$users)")
    }
  }
}
