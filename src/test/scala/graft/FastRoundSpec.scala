package graft

import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.functions.FastRound

/** Bit-equality pin for the round-12 FastRound kernel: the optimizer
  * rewrite (FastRoundRewrite) substitutes FastRoundDouble for Spark's
  * Round on every double round in the suite, so ANY divergence —
  * including ±0.0 sign or a single ulp — would break the DuckDB hash
  * gate across hundreds of queries. Three layers:
  *
  *  1. FastRound.round vs the reference formula (what Spark computes:
  *     shortest-repr BigDecimal, setScale HALF_UP, doubleValue) over
  *     adversarial inputs — decimal TIES at every scale (the exact
  *     case where binary-expansion rounding would diverge from
  *     shortest-repr rounding), ±ulp walks around them, magnitude
  *     bands straddling the kernel's 1e9/4e12 tier boundaries,
  *     subnormals, ±0, NaN, ±Infinity.
  *  2. FastRound.round vs Spark's own Round expression evaluated
  *     directly (pins the assumption that the reference formula IS
  *     Spark's semantics, incl. NaN/Infinity pass-through).
  *  3. The rewrite itself: a DataFrame round() plans FastRoundDouble
  *     (and not with the dial off), and values match the undialed run.
  */
class FastRoundSpec extends GraftSpecBase {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def sparkRound(d: Double, s: Int): Double =
    Round(Literal(d, DoubleType), Literal(s, IntegerType))
      .eval(null).asInstanceOf[Double]

  private def assertSame(d: Double, s: Int): Unit = {
    val fast = FastRound.round(d, s)
    val ref = FastRound.slow(d, s)
    assert(bits(fast) == bits(ref),
      s"FastRound($d, $s) = $fast != reference $ref")
  }

  test("decimal ties and ±ulp neighbourhoods at every scale") {
    val rnd = new scala.util.Random(42)
    for (s <- 0 to 15; _ <- 1 to 2000) {
      // a value whose shortest repr is exactly k·10^-(s+1) with last
      // digit 5 — the HALF_UP tie where shortest-repr and binary
      // expansion rounding genuinely disagree
      val k = rnd.nextLong() % 2000000L
      val tie = new java.math.BigDecimal(k * 10 + 5)
        .movePointLeft(s + 1).doubleValue()
      assertSame(tie, s)
      assertSame(Math.nextUp(tie), s)
      assertSame(Math.nextDown(tie), s)
      assertSame(-tie, s)
    }
  }

  test("uniform sweeps per magnitude band incl. the tier boundaries") {
    val rnd = new scala.util.Random(7)
    val bands = Seq(1e-300, 1e-12, 1e-3, 1.0, 1e3, 1e6, 1e9, 1e11,
      1e12, 4e12, 1e13, 1e16, 1e300)
    for (b <- bands; s <- Seq(0, 1, 2, 4, 6, 8, 10, 12, 15); _ <- 1 to 300) {
      val d = (rnd.nextDouble() - 0.5) * 2 * b
      assertSame(d, s)
    }
  }

  test("specials: ±0, subnormals, NaN, ±Infinity, exact integers") {
    for (s <- 0 to 15) {
      assertSame(0.0, s)
      assertSame(-0.0, s)
      assertSame(java.lang.Double.MIN_VALUE, s)
      assertSame(-java.lang.Double.MIN_VALUE, s)
      assertSame(1.0, s)
      assertSame(-1.0, s)
      assertSame(12345.0, s)
      // NaN / Infinity pass through (reference formula would throw —
      // Spark short-circuits them; the kernel must too)
      assert(FastRound.round(Double.NaN, s).isNaN)
      assert(bits(FastRound.round(Double.PositiveInfinity, s)) ==
        bits(Double.PositiveInfinity))
      assert(bits(FastRound.round(Double.NegativeInfinity, s)) ==
        bits(Double.NegativeInfinity))
    }
  }

  test("FastRound matches Spark's own Round expression bit-for-bit") {
    val rnd = new scala.util.Random(13)
    for (s <- Seq(0, 2, 4, 6, 8, 10, 12); _ <- 1 to 2000) {
      val d = rnd.nextInt(5) match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e3
        case 1 => (rnd.nextDouble() - 0.5) * 2e10
        case 2 => (rnd.nextDouble() - 0.5) * 2e13
        case 3 => new java.math.BigDecimal((rnd.nextLong() % 200000L) * 10 + 5)
          .movePointLeft(s + 1).doubleValue()
        case 4 => (rnd.nextDouble() - 0.5) * 2e-6
      }
      assert(bits(FastRound.round(d, s)) == bits(sparkRound(d, s)),
        s"FastRound($d, $s) != Spark Round")
    }
    // Spark passes NaN / Infinity through — same as the kernel
    assert(sparkRound(Double.NaN, 3).isNaN)
    assert(sparkRound(Double.PositiveInfinity, 3).isInfinite)
  }

  test("the rewrite plants FastRoundDouble and the dial disables it") {
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(round(col("l_extendedprice") / 7.0, 6).as("r"))
    val planned = df.queryExecution.optimizedPlan.toString
    assert(planned.contains("fast_round"),
      s"rewrite did not fire:\n$planned")
    val vals = df.orderBy(col("r")).collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.FastRoundRewrite")
    try {
      val df2 = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select(round(col("l_extendedprice") / 7.0, 6).as("r"))
      assert(!df2.queryExecution.optimizedPlan.toString.contains("fast_round"))
      val vals2 = df2.orderBy(col("r")).collect().map(_.getDouble(0))
      assert(vals.length == vals2.length &&
        vals.indices.forall(i => bits(vals(i)) == bits(vals2(i))))
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
