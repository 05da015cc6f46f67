package graft

import org.apache.spark.sql.functions._
import graft.plans.RangeJoinPlan

/** The custom point-in-interval operator (RangeJoinExec): plan shape,
  * equivalence with the compositional BroadcastNestedLoop form,
  * overlapping-interval correctness, and the filter-pushdown rule.
  */
class RangeJoinSpec extends GraftSpecBase {

  private def ordersDF = Tables.orders(spark, sf)

  private def yearsDF = {
    import spark.implicits._
    (1995 to 2001).map(y => (y, s"$y-01-01", s"${y + 1}-01-01"))
      .toDF("yr", "s_s", "e_s")
      .select(col("yr"), to_timestamp(col("s_s")).as("d_start"),
        to_timestamp(col("e_s")).as("d_end"))
  }

  test("plans as RangeJoinExec, not BroadcastNestedLoopJoin") {
    val df = RangeJoinPlan.pointInRange(ordersDF, yearsDF,
      col("o_orderdate"), col("d_start"), col("d_end"))
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("RangeJoin"), plan.take(500))
    assert(plan.contains("BroadcastExchange IdentityBroadcastMode"),
      "interval side broadcast whole")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("equivalent to the compositional non-equi join") {
    val custom = RangeJoinPlan.pointInRange(ordersDF, yearsDF,
        col("o_orderdate"), col("d_start"), col("d_end"))
      .select(col("o_orderkey"), col("yr"))
    val baseline = ordersDF.join(yearsDF,
        col("o_orderdate") >= col("d_start") &&
        col("o_orderdate") < col("d_end"))
      .select(col("o_orderkey"), col("yr"))
    assert(custom.exceptAll(baseline).count() == 0)
    assert(baseline.exceptAll(custom).count() == 0)
  }

  test("overlapping intervals: every containing interval matches") {
    import spark.implicits._
    val points = Seq(1L, 5L, 10L, 15L, 25L, 40L).toDF("p")
    val ivals = Seq(
      (100L, 0L, 10L),   // [0,10)
      (101L, 5L, 20L),   // [5,20)  overlaps 100
      (102L, 5L, 20L),   // duplicate interval
      (103L, 30L, 35L),  // isolated, matches nothing here
      (104L, 0L, 50L))   // covers everything
      .toDF("iid", "s", "e")
    val custom = RangeJoinPlan.pointInRange(points, ivals,
        col("p"), col("s"), col("e"))
      .select(col("p"), col("iid"))
    val expected = points.crossJoin(ivals)
      .filter(col("s") <= col("p") && col("p") < col("e"))
      .select(col("p"), col("iid"))
    assert(custom.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(custom).count() == 0)
    // boundary semantics: p=10 must NOT match [0,10) but must match [5,20)
    val at10 = custom.filter(col("p") === 10).select("iid")
      .collect().map(_.getLong(0)).toSet
    assert(at10 == Set(101L, 102L, 104L))
  }

  test("NULL points and NULL-bound intervals match nothing (SQL UNKNOWN semantics)") {
    import spark.implicits._
    val points = Seq[Option[Long]](Some(1L), None, Some(10L), None, Some(25L))
      .toDF("p")
    val ivals = Seq[(Long, Option[Long], Option[Long])](
      (200L, Some(0L), Some(15L)),  // normal: matches 1, 10
      (201L, None, Some(50L)),      // NULL start: matches nothing
      (202L, Some(0L), None),       // NULL end: matches nothing
      (203L, None, None))           // both NULL: matches nothing
      .toDF("iid", "s", "e")
    val custom = RangeJoinPlan.pointInRange(points, ivals,
        col("p"), col("s"), col("e"))
      .select(col("p"), col("iid"))
    val baseline = points.crossJoin(ivals)
      .filter(col("s") <= col("p") && col("p") < col("e"))
      .select(col("p"), col("iid"))
    assert(custom.exceptAll(baseline).count() == 0)
    assert(baseline.exceptAll(custom).count() == 0)
    val got = custom.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 200L), (10L, 200L)))
  }

  test("filter pushdown: left-side predicate reaches the scan") {
    val df = RangeJoinPlan.pointInRange(ordersDF, yearsDF,
        col("o_orderdate"), col("d_start"), col("d_end"))
      .filter(col("o_totalprice") > 100000.0 && col("yr") >= 1998)
    val optimized = df.queryExecution.optimizedPlan.toString
    // both conjuncts must appear BELOW the RangeJoin node, i.e. the
    // RangeJoin line comes before no Filter mentioning them
    val lines = optimized.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("RangeJoin"))
    assert(joinIdx >= 0, optimized.take(500))
    val priceFilterIdx = lines.indexWhere(_.contains("o_totalprice"))
    val yrFilterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("yr"))
    assert(priceFilterIdx > joinIdx, "left predicate pushed below the join")
    assert(yrFilterIdx > joinIdx, "right predicate pushed below the join")
    // and the result is still right
    val n = df.count()
    val baseline = ordersDF.join(yearsDF,
        col("o_orderdate") >= col("d_start") &&
        col("o_orderdate") < col("d_end"))
      .filter(col("o_totalprice") > 100000.0 && col("yr") >= 1998).count()
    assert(n == baseline)
  }

  test("range exec: randomized trials vs a driver-side reference (dups, empties, degenerate intervals)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val nP = Seq(1, 25, 80, 0, 50)(trial - 1)   // incl. EMPTY points
      val nI = Seq(12, 0, 40, 10, 90)(trial - 1)  // incl. EMPTY intervals
      val dom = Seq(10, 20, 15, 8, 40)(trial - 1)
      val pRows = (1 to nP).map(_ => rnd.nextInt(dom).toLong)
      val iRows = (1 to nI).map { i =>
        val s = rnd.nextInt(dom).toLong
        // include DEGENERATE (empty [s,s)) and inverted intervals
        val e = s + rnd.nextInt(7) - 1
        (i.toLong + 500, s, e)
      }
      val points = pRows.toDF("p")
      val ivals = iRows.toDF("iid", "s", "e")
      val got = RangeJoinPlan.pointInRange(points, ivals,
          col("p"), col("s"), col("e"))
        .select(col("p"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // driver-side reference over the full cross space (tiny n),
      // bag semantics: duplicate points match once EACH
      val want = (for {
        p0 <- pRows
        (iid, s, e) <- iRows
        if s <= p0 && p0 < e
      } yield (p0, iid)).sorted
      assert(got == want, s"trial $trial (nP=$nP nI=$nI dom=$dom)")
    }
  }
}
