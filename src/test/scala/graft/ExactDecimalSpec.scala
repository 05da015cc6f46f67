package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode,
  Literal, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import graft.functions.expressions.{ExactDecimalSum, FastDecimalCast, Int128}

/** Bit-equality pins for the two exact decimal kernels the FastRound
  * rule plants:
  *
  *  1. [[FastDecimalCast]] against Spark's own `Cast` (interpreted and
  *     codegen'd, ANSI, legacy and try modes) over FastRoundSpec's
  *     adversarial doubles plus the cast's own edges: |unscaled| near
  *     2^51 and values near 10^p. Outcomes compare as value, scale and
  *     precision, null, or the error condition.
  *  2. [[ExactDecimalSum]] against Spark's `sum` with the rewrite off:
  *     nulls, empty and all-null groups, mixed signs, partial sums past
  *     2^63, running sums past 10^38 that come back, totals past 10^38
  *     (null against ARITHMETIC_OVERFLOW), grouped and global, with
  *     the cast in the sum or in a Project below it.
  */
class ExactDecimalSpec extends GraftSpecBase {

  private val Modes = Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY)

  /** What an evaluation ends as: a decimal (value with its scale, and
    * precision), null, or the error's condition. */
  private def outcome(body: => Any): String =
    try body match {
      case null => "null"
      case d: Decimal => s"${d.toJavaBigDecimal.toString} p${d.precision} s${d.scale}"
      case other => s"?$other"
    } catch { case t: Throwable => s"error ${condition(t)}" }

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.getClass.getName)

  private def pow(s: Int): Double = math.pow(10, s)

  /** FastRoundSpec's adversarial classes at scale s, plus the edges of
    * a cast to decimal(p, s). */
  private def adversarial(p: Int, s: Int, rnd: scala.util.Random): Seq[Double] = {
    val ties = (1 to 60).flatMap { _ =>
      val k = rnd.nextLong() % 2000000L
      val tie = new java.math.BigDecimal(k * 10 + 5).movePointLeft(s + 1).doubleValue()
      Seq(tie, Math.nextUp(tie), Math.nextDown(tie), -tie)
    }
    val specials = Seq(0.0, -0.0, java.lang.Double.MIN_VALUE,
      -java.lang.Double.MIN_VALUE, java.lang.Double.MIN_NORMAL, 1.0, -1.0,
      12345.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, -Double.MaxValue)
    val two51 = (-3L to 3L).flatMap { delta =>
      val d = ((1L << 51) + delta).toDouble / pow(s)
      Seq(d, -d, Math.nextUp(d), Math.nextDown(d))
    }
    val digits = if (p > 17) Seq.empty else (-2L to 2L).flatMap { delta =>
      val top = math.pow(10, p).toLong
      val d = (top + delta).toDouble / pow(s)
      val tie = (top.toDouble - 0.5) / pow(s)
      Seq(d, -d, tie, -tie, Math.nextUp(tie), Math.nextDown(tie))
    }
    val bands = Seq(1e-300, 1e-3, 1.0, 1e3, 1e9, 4e12, 1e16, 1e40).flatMap { b =>
      (1 to 20).map(_ => (rnd.nextDouble() - 0.5) * 2 * b)
    }
    ties ++ specials ++ two51 ++ digits ++ bands
  }

  private val shapes: Seq[(Int, Int)] =
    (0 to 15).flatMap(s => Seq(math.max(s, 1), s + 1, s + 3, 18, 28, 38).distinct.map(_ -> s))

  test("FastDecimalCast matches Spark's Cast (interpreted), every mode") {
    val rnd = new scala.util.Random(2026)
    for ((p, s) <- shapes; mode <- Modes) {
      val dt = DecimalType(p, s)
      assert(FastDecimalCast(Literal(1.5), dt, mode).nullable ==
        Cast(Literal(1.5), dt, None, mode).nullable)
      for (d <- adversarial(p, s, rnd)) {
        val fast = outcome(FastDecimalCast(Literal(d, DoubleType), dt, mode).eval())
        val spark = outcome(Cast(Literal(d, DoubleType), dt, None, mode).eval())
        assert(fast == spark, s"CAST($d AS $dt) in $mode: fast $fast, Spark $spark")
      }
    }
  }

  test("FastDecimalCast matches Spark's Cast (codegen), every mode") {
    val rnd = new scala.util.Random(77)
    for (s <- Seq(0, 2, 6, 8, 15); p <- Seq(math.max(s, 1), s + 3, 28).distinct;
         mode <- Modes) {
      val dt = DecimalType(p, s)
      val in = BoundReference(0, DoubleType, nullable = true)
      val fast = UnsafeProjection.create(Seq(FastDecimalCast(in, dt, mode)))
      val ref = UnsafeProjection.create(Seq(Cast(in, dt, None, mode)))
      def run(proj: UnsafeProjection, d: Double): String = outcome {
        val row = proj.apply(InternalRow(d))
        if (row.isNullAt(0)) null else row.getDecimal(0, p, s)
      }
      for (d <- adversarial(p, s, rnd))
        assert(run(fast, d) == run(ref, d), s"codegen CAST($d AS $dt) in $mode")
    }
  }

  test("Int128: carries, signs, wraps and digit bounds") {
    val big = java.math.BigInteger.ONE.shiftLeft(64)
    def pair(v: java.math.BigInteger) = (v.shiftRight(64).longValue, v.longValue)
    def value(h: Long, l: Long) = java.math.BigInteger.valueOf(h).multiply(big)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(l)))
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 5000) {
      val a = new java.math.BigInteger(120, rnd.self).subtract(java.math.BigInteger.ONE.shiftLeft(119))
      val b = new java.math.BigInteger(rnd.nextInt(120) + 1, rnd.self)
        .multiply(java.math.BigInteger.valueOf(if (rnd.nextBoolean()) 1 else -1))
      val (ah, al) = pair(a)
      val (bh, bl) = pair(b)
      val h = Int128.addHi(ah, al, bh, bl)
      assert(value(h, al + bl) == a.add(b), s"$a + $b")
      val p = 1 + rnd.nextInt(38)
      val sum = a.add(b)
      assert(Int128.withinDigits(h, al + bl, p) ==
        (sum.abs.compareTo(java.math.BigInteger.TEN.pow(p)) < 0), s"|$sum| < 10^$p")
    }
    // a wrap past 2^127 is overflow, and overflow is sticky
    val max = java.math.BigInteger.ONE.shiftLeft(127).subtract(java.math.BigInteger.ONE)
    val (mh, ml) = pair(max)
    assert(Int128.addHi(mh, ml, 0L, 1L) == Int128.Overflow)
    assert(Int128.addHi(Int128.Overflow, 0L, 0L, 1L) == Int128.Overflow)
    assert(Int128.toDecimal(-1L, -5L, 20, 2).toJavaBigDecimal ==
      new java.math.BigDecimal("-0.05"))
  }

  /** Writes the rows to parquet in one file (row order kept) so the
    * optimizer cannot fold the casts into a local relation. */
  private def fixture(rows: Seq[(Int, Option[Double])], parts: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("exact-sum").toString
    import spark.implicits._
    rows.toDF("g", "x").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    if (parts > 1) df.repartition(parts, col("g")) else df
  }

  /** The sum of `x` cast to `dec`, both ways (the cast in the sum, and
    * in a column below it), grouped and global, with the rewrite on
    * and off; each outcome compares, and the rewrite must have
    * planted the exact sum. */
  private def assertSameSums(name: String, rows: Seq[(Int, Option[Double])],
      dec: String, ansi: Boolean, parts: Int = 1, trySum: Boolean = false): Unit = {
    val sumOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => if (trySum) try_sum(c) else sum(c)
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "grouped, cast in sum" -> (_.groupBy(col("g")).agg(sumOf(col("x").cast(dec)).as("s"))
        .orderBy(col("g"))),
      "grouped, cast below" -> (_.withColumn("c", col("x").cast(dec)).groupBy(col("g"))
        .agg(sumOf(col("c")).as("s")).orderBy(col("g"))),
      "global, cast in sum" -> (_.agg(sumOf(col("x").cast(dec)).as("s"))),
      "global, cast below" -> (_.withColumn("c", col("x").cast(dec)).agg(sumOf(col("c")).as("s"))))
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try {
      val df = fixture(rows, parts)
      for ((shape, q) <- queries) {
        def run(): (String, String) = {
          val out = q(df)
          val plan = out.queryExecution.optimizedPlan
          val exact = plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ExactDecimalSum])))
          (if (exact) "exact" else "spark",
            try out.collect().map { r: Row =>
              s"${if (r.length > 1) r.get(0) else ""}:${r.get(r.length - 1)}"
            }.mkString(",")
            catch { case t: Throwable => s"error ${condition(t)}" })
        }
        val (onPlan, on) = run()
        spark.conf.set("spark.graft.fastround.rewrite", "false")
        val (offPlan, off) =
          try run() finally spark.conf.set("spark.graft.fastround.rewrite", "true")
        assert(onPlan == "exact" && offPlan == "spark",
          s"$name ($shape, $dec): rewrite planted $onPlan / $offPlan")
        assert(on == off, s"$name ($shape, $dec, ansi=$ansi): exact $on, Spark $off")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  private def d(v: Double): Option[Double] = Some(v)

  test("exact sum matches Spark's sum: nulls, empty and all-null groups, signs") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      val g = i % 7
      // group 5 is all null; the rest mix signs, ties and nulls
      val v: Option[Double] =
        if (g == 5 || i % 13 == 0) None
        else d((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6)))
      (g, v)
    } ++ Seq((8, d(0.0000005)), (8, d(-0.0000015)), (8, d(-0.0)))
    for (ansi <- Seq(true, false); parts <- Seq(1, 3)) {
      assertSameSums("mixed", rows, "decimal(28,6)", ansi, parts)
      assertSameSums("mixed", rows, "decimal(12,2)", ansi, parts)
    }
    // empty input: the global sum is null, the grouped one has no rows
    assertSameSums("empty", Seq((1, d(1.0))).filter(_._1 > 1), "decimal(28,6)", ansi = true)
    assertSameSums("all null", Seq((1, None), (1, None), (2, d(1.5))), "decimal(28,6)",
      ansi = true)
  }

  test("exact sum matches Spark's sum past 2^63 and past 10^38") {
    // unscaled 10^18 per row: the running sum passes 2^63 by row 10
    val past63 = (1 to 40).map(i => (i % 2, d(if (i % 5 == 0) -1.0e12 else 1.0e12)))
    for (ansi <- Seq(true, false); parts <- Seq(1, 4))
      assertSameSums("past 2^63", past63, "decimal(28,6)", ansi, parts)
    // a running sum over 10^38 that comes back below it is no overflow
    val excursion = Seq((1, d(6.0e37)), (1, d(6.0e37)), (1, d(-6.0e37)))
    for (ansi <- Seq(true, false))
      assertSameSums("excursion", excursion, "decimal(38,0)", ansi)
    // a total past 10^38: null without ANSI, ARITHMETIC_OVERFLOW with it
    val over = Seq((1, d(6.0e37)), (1, d(6.0e37)), (2, d(1.0)))
    for (ansi <- Seq(true, false); parts <- Seq(1, 2))
      assertSameSums("past 10^38", over, "decimal(38,0)", ansi, parts)
    assertSameSums("past 10^38, try_sum", over, "decimal(38,0)", ansi = true, trySum = true)
  }

  test("GraftExtensions installs the FastRound rule both ways") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ext.getClass.getMethod("buildOptimizerRules",
      classOf[org.apache.spark.sql.SparkSession]).invoke(ext, spark)
      .asInstanceOf[Seq[AnyRef]]
    assert(injected.contains(graft.plans.FastRoundRewrite))
    // `apply` injects the same ordered lists `register` installs
    assert(injected == GraftExtensions.optimizerRules)
    val strategies = ext.getClass.getMethod("buildPlannerStrategies",
      classOf[org.apache.spark.sql.SparkSession]).invoke(ext, spark)
      .asInstanceOf[Seq[AnyRef]]
    assert(strategies == GraftExtensions.strategies)
    GraftExtensions.register(spark)
    assert(spark.experimental.extraOptimizations.contains(graft.plans.FastRoundRewrite))
  }
}
