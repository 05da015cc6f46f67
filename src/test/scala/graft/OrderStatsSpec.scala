package graft

import org.apache.spark.sql.functions._
import graft.queries.OrderStatsQueries
import graft.operators.PrefixOps

/** Invariants for the round-4 order-statistics operators and a direct
  * equivalence check of the PrefixOps two-phase prefix sum against
  * the single-partition window it replaces (sf0.001).
  */
class OrderStatsSpec extends GraftSpecBase {

  test("global quartiles are ordered, are actual data values, and bracket the median") {
    val r = OrderStatsQueries.medianGlobal(spark, sf).collect().head
    val n = r.getLong(0)
    val (q1, med, q3) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(n > 0)
    assert(q1 <= med && med <= q3)
    val values = Tables.events(spark, sf).select(col("value"))
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect().sorted
    assert(values.contains(q1) && values.contains(med) && values.contains(q3),
      "percentile_disc returns actual data values")
    // the median splits the data: at least half on each side
    assert(values.count(_ <= med) * 2 >= n)
    assert(values.count(_ >= med) * 2 >= n)
  }

  test("weighted median: cumulative weight on each side covers half the total") {
    val r = OrderStatsQueries.weightedMedian(spark, sf).collect().head
    val tw = r.getLong(0)
    val wm = r.getDouble(1)
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice"), col("l_quantity").cast("long"))
      .collect().map(x => (x.getDouble(0), x.getLong(1)))
    assert(tw == rows.map(_._2).sum)
    val below = rows.filter(_._1 <= wm).map(_._2).sum
    val above = rows.filter(_._1 >= wm).map(_._2).sum
    assert(below * 2 >= tw, s"weight at/below median covers half ($below/$tw)")
    assert(above * 2 + 2 * rows.filter(_._1 == wm).map(_._2).sum >= tw ||
      above * 2 >= tw - 2 * rows.filter(_._1 == wm).map(_._2).sum,
      "median is the crossing value")
  }

  test("decay score is positive and bounded by the undecayed per-user sum") {
    val scores = OrderStatsQueries.decaySum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val raw = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(sum(col("value")).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scores.nonEmpty && scores.keySet == raw.keySet)
    scores.foreach { case (u, s) =>
      assert(s >= 0.0 && s <= raw(u) + 1e-6, s"user $u: $s vs ${raw(u)}")
    }
  }

  test("PrefixOps.runningSums equals the global-window prefix sum (incl. ties and negatives)") {
    import spark.implicits._
    val df = Seq((3.0, 1L), (1.0, 2L), (2.0, 3L), (1.0, 4L), (-5.0, 5L),
        (2.0, 6L), (7.0, 7L), (-5.0, 8L), (0.0, 9L), (3.0, 10L))
      .toDF("k", "id")
    val got = PrefixOps.runningSums(df, col("k"),
        Seq(col("k"), col("id")), Seq("rs" -> col("k"), "rn" -> lit(1L)),
        buckets = 3)
      .select(col("id"), col("rs"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("k"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df.select(col("id"), sum(col("k")).over(w).as("rs"),
        sum(lit(1L)).over(w).as("rn"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("PrefixOps.exclusiveRunningMax equals the global-window exclusive max (desc order, negatives)") {
    import spark.implicits._
    // distinct keys (the helper's documented precondition)
    val df = Seq((3.0, 5L), (1.0, 9L), (2.0, -4L), (7.0, 2L), (-5.0, 0L),
        (0.0, 7L), (4.0, -1L), (6.0, 3L), (5.0, 8L), (-2.0, 6L))
      .toDF("x", "y")
    // descending x: max y over all strictly-larger x
    val got = PrefixOps.exclusiveRunningMax(df, -col("x"),
        Seq(col("x").desc), "m", col("y"), buckets = 3)
      .select(col("x"), col("m"))
      .collect().map(r => (r.getDouble(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("x").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val want = df.select(col("x"), max(col("y")).over(w).as("m"))
      .collect().map(r => (r.getDouble(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got == want)
  }

  test("PrefixOps.runningSums: randomized equivalence trials (sizes, ties, nulls, bucket counts)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val n = Seq(1, 2, 7, 33, 128, 301)(trial - 1)
      val buckets = Seq(1, 2, 3, 7, 64, 5)(trial - 1)
      // keys with heavy ties, values with negatives and nulls
      val rows = (1 to n).map { i =>
        (rnd.nextInt(math.max(2, n / 4)).toDouble,
         if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(2001) - 1000L),
         i.toLong)
      }
      val df = rows.toDF("k", "v", "id")
      val got = PrefixOps.runningSums(df, col("k"),
          Seq(col("k"), col("id")), Seq("rs" -> col("v")), buckets = buckets)
        .select(col("id"), col("rs"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("k"), col("id"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select(col("id"), sum(col("v")).over(w).as("rs"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got == want, s"trial $trial (n=$n buckets=$buckets)")
    }
  }

  test("PrefixOps.runningSums with partitionBy: randomized trials vs the partitioned window (groups, NULL group keys, ties, null values)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1237)
    for (trial <- 1 to 6) {
      val n = Seq(1, 3, 11, 47, 160, 301)(trial - 1)
      val buckets = Seq(1, 2, 3, 7, 64, 5)(trial - 1)
      val nGroups = Seq(1, 2, 3, 4, 5, 6)(trial - 1)
      // group keys include NULL; keys have heavy ties; values have
      // negatives and ~10% nulls — the same adversarial mix that
      // caught the round-5 all-NULL-bucket combine bug
      val rows = (1 to n).map { i =>
        (if (rnd.nextInt(8) == 0) None
         else Some(s"g${rnd.nextInt(nGroups)}"),
         rnd.nextInt(math.max(2, n / 4)).toDouble,
         if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(2001) - 1000L),
         i.toLong)
      }
      val df = rows.toDF("g", "k", "v", "id")
      val got = PrefixOps.runningSums(df, col("k"),
          Seq(col("k"), col("id")), Seq("rs" -> col("v"), "rn" -> lit(1L)),
          buckets = buckets, partitionBy = Seq(col("g")))
        .select(col("id"), col("rs"), col("rn"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
        .toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("k"), col("id"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select(col("id"), sum(col("v")).over(w).as("rs"),
          sum(lit(1L)).over(w).as("rn"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
        .toSet
      assert(got == want, s"trial $trial (n=$n buckets=$buckets groups=$nGroups)")
    }
  }

  test("PrefixOps.groupedCumCounts: grid counts reconstruct rank/cume_dist exactly (randomized trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 4) {
      val n = Seq(1, 13, 88, 240)(trial - 1)
      val buckets = Seq(1, 3, 64, 7)(trial - 1)
      val rows = (1 to n).map { i =>
        (s"g${rnd.nextInt(3)}",
         rnd.nextInt(math.max(2, n / 5)).toDouble, i.toLong)
      }
      val df = rows.toDF("g", "v", "id")
      val grid = PrefixOps.groupedCumCounts(df.select(col("g"), col("v")),
        Seq("g"), "v", buckets)
      // rank of a row = cum - c + 1; cume_dist = cum / n
      val got = df.join(grid, Seq("g", "v"))
        .select(col("id"), (col("cum") - col("c") + 1).as("rk"),
          (col("cum").cast("double") / col("n").cast("double")).as("cd"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"))
      val want = df.select(col("id"), rank().over(wr).cast("long").as("rk"),
          cume_dist().over(wr).as("cd"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"trial $trial (n=$n buckets=$buckets)")
    }
  }

  test("PrefixOps with TWO partition columns and NULL group keys: randomized trials") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 4) {
      val n = Seq(2, 17, 90, 260)(trial - 1)
      val buckets = Seq(1, 2, 64, 6)(trial - 1)
      // two group dimensions, both nullable — exercises the null-safe
      // group joins on a composite key (no graded query does yet)
      val rows = (1 to n).map { i =>
        (if (rnd.nextInt(6) == 0) None else Some(s"a${rnd.nextInt(2)}"),
         if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(3)),
         rnd.nextInt(math.max(2, n / 4)).toDouble,
         rnd.nextInt(1001) - 500L, i.toLong)
      }
      val df = rows.toDF("g1", "g2", "k", "v", "id")
      val got = PrefixOps.runningSums(df, col("k"),
          Seq(col("k"), col("id")), Seq("rs" -> col("v")),
          buckets = buckets, partitionBy = Seq(col("g1"), col("g2")))
        .select(col("id"), col("rs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g1"), col("g2")).orderBy(col("k"), col("id"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select(col("id"), sum(col("v")).over(w).as("rs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"trial $trial (n=$n buckets=$buckets)")
    }
    // groupedCumCounts with a NULL group key: the grid's totals join
    // is null-safe, so the NULL group must carry its own n
    val df = Seq((Some("x"), 1.0), (None, 2.0), (None, 2.0), (None, 5.0),
        (Some("x"), 1.0), (Some("x"), 3.0))
      .toDF("g", "v")
    val grid = PrefixOps.groupedCumCounts(df, Seq("g"), "v", 2)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(grid == Set(
      (Some("x"), 1.0, 2L, 2L, 3L), (Some("x"), 3.0, 1L, 3L, 3L),
      (None, 2.0, 2L, 2L, 3L), (None, 5.0, 1L, 3L, 3L)))
  }

  test("PrefixOps.exclusiveRunningMax: randomized equivalence trials (distinct keys, negatives)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 6) {
      val n = Seq(1, 2, 9, 40, 150, 257)(trial - 1)
      val buckets = Seq(1, 2, 3, 8, 64, 4)(trial - 1)
      val keys = rnd.shuffle((1 to n).toList) // distinct (precondition)
      val rows = keys.map(k => (k.toDouble, rnd.nextInt(2001) - 1000L))
      val df = rows.toDF("x", "y")
      val got = PrefixOps.exclusiveRunningMax(df, -col("x"),
          Seq(col("x").desc), "m", col("y"), buckets = buckets)
        .select(col("x"), col("m"))
        .collect().map(r => (r.getDouble(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("x").desc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val want = df.select(col("x"), max(col("y")).over(w).as("m"))
        .collect().map(r => (r.getDouble(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got == want, s"trial $trial (n=$n buckets=$buckets)")
    }
  }

  test("OrderStats.interpolatedPercentiles equals Spark's exact percentile/median aggregates (randomized trials: ties, groups, edge p)") {
    import spark.implicits._
    import graft.operators.OrderStats
    val rnd = new scala.util.Random(2024)
    for (trial <- 1 to 6) {
      val n = Seq(1, 2, 13, 57, 180, 301)(trial - 1)
      val buckets = Seq(1, 2, 3, 64, 7, 16)(trial - 1)
      val nGroups = Seq(1, 1, 2, 3, 4, 5)(trial - 1)
      // heavy ties (small value domain) force the duplicate-key
      // short-circuit; p hits the exact-rank, interpolated, and
      // boundary cases
      val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5,
        "p90" -> 0.9, "p1" -> 1.0,
        "pr" -> (rnd.nextInt(1000) + 1) / 1001.0)
      val rows = (1 to n).map { i =>
        (s"g${rnd.nextInt(nGroups)}",
         rnd.nextInt(math.max(2, n / 6)).toDouble +
           (if (rnd.nextBoolean()) 0.25 else 0.0))
      }
      val df = rows.toDF("g", "v")
      val got = OrderStats.interpolatedPercentiles(df, Seq("g"), "v", ps,
          buckets)
        .collect().map(r => (r.getString(0),
          ps.indices.map(i => r.getDouble(r.fieldIndex(ps(i)._1))))).toMap
      val want = df.groupBy(col("g"))
        .agg(percentile(col("v"), lit(ps.head._2)).as(ps.head._1),
          ps.tail.map { case (nm, p) =>
            percentile(col("v"), lit(p)).as(nm) }: _*)
        .collect().map(r => (r.getString(0),
          ps.indices.map(i => r.getDouble(r.fieldIndex(ps(i)._1))))).toMap
      // bit-exact equality — the operator mirrors Spark's arithmetic,
      // not just its value up to epsilon
      assert(got == want, s"trial $trial (n=$n buckets=$buckets): $got vs $want")
    }
    // NULL values are skipped exactly as the SQL aggregates skip them
    val dfn = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", Some(2.0)), ("b", None), ("b", None)).toDF("g", "v")
    val gn = OrderStats.interpolatedPercentiles(dfn, Seq("g"), "v",
        Seq("m" -> 0.5), 2)
      .collect().map(r => (r.getString(0),
        r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("m")))).toSet
    // n counts only non-null values (the aggregate's denominator)
    assert(gn == Set(("a", 2L, 2.0), ("b", 1L, 2.0)))
    // median() parity on a fixed odd/even pair
    val dfe = Seq(("a", 1.0), ("a", 2.0), ("a", 4.0), ("a", 8.0),
      ("b", 3.0), ("b", 5.0), ("b", 7.0)).toDF("g", "v")
    val gm = OrderStats.interpolatedPercentiles(dfe, Seq("g"), "v",
        Seq("m" -> 0.5), 2)
      .collect().map(r => (r.getString(0), r.getDouble(r.fieldIndex("m")))).toMap
    val wm = dfe.groupBy(col("g")).agg(median(col("v")).as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(gm == wm)
  }

  test("ntileFromRowNumber matches SQL ntile for every n up to 23 and k in {2,3,4,7,10}") {
    import spark.implicits._
    for (k <- Seq(2, 3, 4, 7, 10); n <- 1 to 23) {
      val df = (1 to n).map(_.toLong).toDF("rn")
      val got = df.orderBy(col("rn"))
        .select(PrefixOps.ntileFromRowNumber(col("rn"), lit(n.toLong), k)
          .as("t")).collect().map(_.getInt(0)).toSeq
      // reference: Spark's own ntile (a global window is fine in a
      // 23-row test — the point is value equivalence)
      val want = df.select(col("rn"),
          ntile(k).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("rn"))).as("t"))
        .orderBy(col("rn")).collect().map(_.getInt(1)).toSeq
      assert(got == want, s"n=$n k=$k: $got vs $want")
    }
  }
}
