package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.HistFixed

/** Contract of the [[graft.functions.expressions.HistFixed]]
  * TypedImperativeAggregate: equality with the relational
  * bin-and-count idiom, partition invariance (the merge is a vector
  * add), two-phase ObjectHashAggregate planning, SQL registration,
  * and the NULL/clamp edges. */
class HistFixedSpec extends GraftSpecBase {

  import spark.implicits._

  private def hist(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("g"))
      .agg(HistFixed.hist(col("x"), 0.0, 10.0, 5).as("h"))
      .orderBy(col("g"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toList))

  test("matches the relational bin-and-count on a known input") {
    val df = Seq(("a", 0.0), ("a", 1.9), ("a", 2.0), ("a", 9.9),
      ("a", 10.0), ("a", -5.0), ("b", 4.0)).toDF("g", "x")
    val got = hist(df)
    // bins of width 2 over [0,10): {0.0, 1.9, -5 clamped} → bin 0,
    // 2.0 → bin 1, {9.9, 10.0 clamped} → bin 4
    assert(got.toList == List(
      ("a", List(3L, 1L, 0L, 0L, 2L)),
      ("b", List(0L, 0L, 1L, 0L, 0L))))
  }

  test("ignores NULL and NaN inputs") {
    val df = Seq(("a", Some(1.0)), ("a", None),
      ("a", Some(Double.NaN))).toDF("g", "x")
    assert(hist(df).toList == List(("a", List(1L, 0L, 0L, 0L, 0L))))
  }

  test("partition invariance: 1-partition and 7-partition runs agree") {
    val df = (1 to 500).map(i => (s"g${i % 3}", (i % 97).toDouble / 10.0))
      .toDF("g", "x")
    assert(hist(df.repartition(1)).toList ==
      hist(df.repartition(7)).toList)
  }

  test("plans as two-phase ObjectHashAggregate (map-side partial)") {
    val df = Seq(("a", 1.0)).toDF("g", "x")
    val q = df.groupBy(col("g"))
      .agg(HistFixed.hist(col("x"), 0.0, 10.0, 5))
    // executedPlan is the AQE wrapper pre-execution; the string form
    // includes the inner plan with both aggregation phases
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("partial_hist_fixed"),
      s"no map-side partial phase in:\n$planStr")
    assert("(?<!partial_)hist_fixed".r.findAllIn(planStr).nonEmpty,
      s"no final phase in:\n$planStr")
    assert(planStr.contains("ObjectHashAggregate"), planStr)
  }

  test("SQL registration: hist_fixed works through spark.sql") {
    Seq(("a", 3.0), ("a", 7.0)).toDF("g", "x")
      .createOrReplaceTempView("v_hist_in")
    val got = spark.sql(
      "SELECT g, hist_fixed(x, 0.0D, 10.0D, 5) AS h FROM v_hist_in GROUP BY g")
      .collect().map(r => r.getSeq[Long](1).toList)
    assert(got.toList == List(List(0L, 1L, 0L, 1L, 0L)))
  }
}
