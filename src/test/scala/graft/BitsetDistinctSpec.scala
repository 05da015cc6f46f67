package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.BitsetDistinct

/** Contract of the [[graft.functions.expressions.BitsetDistinct]]
  * TypedImperativeAggregate: equality with count(DISTINCT), the
  * NULL/out-of-domain ignore rules, OR-merge partition invariance
  * AND idempotence (duplicated input rows cannot inflate the count),
  * two-phase ObjectHashAggregate planning, and SQL registration. */
class BitsetDistinctSpec extends GraftSpecBase {

  import spark.implicits._

  private def cnt(df: org.apache.spark.sql.DataFrame, maxId: Long = 1023L) =
    df.groupBy(col("g"))
      .agg(BitsetDistinct.distinctOf(col("k"), maxId).as("n"))
      .orderBy(col("g"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toList

  test("matches count(DISTINCT) on a known input") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("a", 1000L),
      ("b", 0L), ("b", 0L)).toDF("g", "k")
    assert(cnt(df) == List(("a", 3L), ("b", 1L)))
  }

  test("ignores NULL and out-of-domain keys") {
    val df = Seq(("a", Some(5L)), ("a", None), ("a", Some(-1L)),
      ("a", Some(2048L))).toDF("g", "k")
    assert(cnt(df) == List(("a", 1L)))
  }

  test("partition invariance and idempotence under duplication") {
    val base = (1 to 400).map(i => ("g" + (i % 3), (i % 97).toLong))
    val df = (base ++ base).toDF("g", "k") // every row duplicated
    val expected = (base ++ base).toDF("g", "k")
      .groupBy("g").agg(countDistinct(col("k")).as("n"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(cnt(df.repartition(1)) == expected)
    assert(cnt(df.repartition(7)) == expected)
  }

  test("plans as two-phase ObjectHashAggregate (map-side partial)") {
    val q = Seq(("a", 1L)).toDF("g", "k").groupBy(col("g"))
      .agg(BitsetDistinct.distinctOf(col("k"), 63L))
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("partial_bitset_distinct"), planStr)
    assert(planStr.contains("ObjectHashAggregate"), planStr)
  }

  test("SQL registration: bitset_distinct works through spark.sql") {
    Seq(("a", 3L), ("a", 3L), ("a", 9L)).toDF("g", "k")
      .createOrReplaceTempView("v_bsd_in")
    val got = spark.sql(
      "SELECT g, bitset_distinct(k, 1023) AS n FROM v_bsd_in GROUP BY g")
      .collect().map(r => r.getLong(1)).toList
    assert(got == List(2L))
  }

  test("oversized domains are rejected at construction, not at runtime") {
    // 2^31 keys (256 MiB/group) is the cap; beyond it `words` would
    // overflow Int and surface as NegativeArraySizeException mid-job.
    val e = intercept[IllegalArgumentException] {
      BitsetDistinct.distinctOf(col("k"), 1L << 31)
    }
    assert(e.getMessage.contains("domain too large"), e.getMessage)
    BitsetDistinct.distinctOf(col("k"), (1L << 31) - 1) // at-cap OK
  }

  test("SQL path: foldable NULL maxId raises IllegalArgument, not NPE") {
    Seq(("a", 3L)).toDF("g", "k").createOrReplaceTempView("v_bsd_null")
    val e = intercept[Exception] {
      spark.sql("SELECT g, bitset_distinct(k, CAST(NULL AS INT)) " +
        "FROM v_bsd_null GROUP BY g").collect()
    }
    // Spark may wrap the builder failure in an AnalysisException chain;
    // the root message must be the intended contract error.
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("non-null foldable integer")),
      msgs(e).mkString(" | "))
  }
}
