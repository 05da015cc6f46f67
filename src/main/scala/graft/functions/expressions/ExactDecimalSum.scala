package graft.functions.expressions

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  CheckOverflowInSum, Expression, If, IsNull, Literal, SupportQueryContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, LongType}

/** Exact `sum` of a decimal(p, s) child into decimal(min(38, p+10), s),
  * the result type of Spark's `Sum`, with the unscaled values added
  * into a two's-complement (hi, lo) long pair instead of one `Decimal`
  * object per add. Planted by [[graft.plans.FastRoundRewrite]] for
  * results wider than 18 digits (narrower ones already get Spark's
  * `DecimalAggregates` long sum). Declarative, so the hash aggregate
  * keeps its codegen and its map-side partial.
  *
  * Semantics follow Spark's `Sum`: null inputs are skipped; an empty
  * or all-null group gives null. Digits are checked where Spark's hash
  * aggregate checks them, since a value wider than the result type
  * turns null when Spark writes it into an UnsafeRow:
  *  - a partial sum, when it is merged (Spark's partial aggregate
  *    writes it into its output row);
  *  - with grouping keys (`checkEachAdd`), every running value too:
  *    Spark keeps each group's buffer in an UnsafeRow; without keys it
  *    keeps the buffer in locals, and a running value may pass the
  *    bound and come back;
  *  - the final value, through Spark's own `CheckOverflowInSum`.
  * An overflowed group so ends as null (non-ANSI, `try_sum`) or as
  * Spark's ARITHMETIC_OVERFLOW error (ANSI), as Spark's would. A
  * running value that wraps past 2^127 marks the buffer overflowed
  * for good (Spark's 16-byte buffer cannot hold it either).
  */
case class ExactDecimalSum(child: Expression, nullOnOverflow: Boolean,
    checkEachAdd: Boolean)
    extends DeclarativeAggregate with UnaryLike[Expression]
    with SupportQueryContext {

  private def inputType: DecimalType = child.dataType.asInstanceOf[DecimalType]

  override def dataType: DecimalType =
    DecimalType(math.min(inputType.precision + 10, DecimalType.MAX_PRECISION),
      inputType.scale)

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: DecimalType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ExactDecimalSum needs a decimal child, got $other")
    }

  override def initQueryContext(): Option[QueryContext] =
    if (nullOnOverflow) None else Some(origin.context)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    hi :: lo :: isEmpty :: Nil

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  override lazy val updateExpressions: Seq[Expression] =
    Seq(Int128AddDecimal(hi, lo, child, high = true, checkedDigits),
      Int128AddDecimal(hi, lo, child, high = false, checkedDigits),
      And(isEmpty, IsNull(child)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128AddPair(hi.left, lo.left, hi.right, lo.right, high = true,
      dataType.precision, checkedDigits),
    Int128AddPair(hi.left, lo.left, hi.right, lo.right, high = false,
      dataType.precision, checkedDigits),
    And(isEmpty.left, isEmpty.right))

  /** The digit bound of every running value, or 0 for none. */
  private def checkedDigits: Int = if (checkEachAdd) dataType.precision else 0

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(Int128ToDecimal(hi, lo, dataType), dataType,
        nullOnOverflow, getContextOrNull()))

  override def prettyName: String = "exact_decimal_sum"

  override protected def withNewChildInternal(
      newChild: Expression): ExactDecimalSum = copy(child = newChild)
}

/** Two's-complement 128-bit arithmetic on (hi, lo) long pairs, the
  * buffer of [[ExactDecimalSum]]. An add that wraps, or whose hi would
  * be Long.MinValue (a sum of −2^127 + 2^64 or less, far past 10^38),
  * sets hi = [[Overflow]] for good. */
object Int128 {

  /** hi of a sum that has overflowed. */
  val Overflow: Long = Long.MinValue

  /** 10^p as (hi, lo) pairs, p ∈ [0, 38]. */
  private val PowHi = new Array[Long](39)
  private val PowLo = new Array[Long](39)
  locally {
    val ten = java.math.BigInteger.TEN
    for (p <- 0 to 38) {
      val v = ten.pow(p)
      PowHi(p) = v.shiftRight(64).longValue()
      PowLo(p) = v.longValue()
    }
  }

  /** hi of (h, l) + (vh, vl), or [[Overflow]] if either side already
    * overflowed or the pair wraps. */
  def addHi(h: Long, l: Long, vh: Long, vl: Long): Long =
    if (h == Overflow || vh == Overflow) Overflow
    else {
      val lo = l + vl
      val hi = h + vh + (if (java.lang.Long.compareUnsigned(lo, l) < 0) 1L else 0L)
      // a wrap: both operands share a sign the result does not
      if (((h ^ hi) & (vh ^ hi)) < 0 || hi == Overflow) Overflow else hi
    }

  /** |(hi, lo)| < 10^p, for a pair that has not overflowed. */
  def withinDigits(hi: Long, lo: Long, p: Int): Boolean =
    if (hi == (lo >> 63)) // fits in a long: |lo| < 2^63 < 10^19
      p > 18 || (lo != Long.MinValue && Math.abs(lo) < PowLo(p))
    else {
      // the magnitude, negated in two's complement when negative
      val neg = hi < 0
      val mh = if (neg) ~hi + (if (lo == 0L) 1L else 0L) else hi
      val ml = if (neg) -lo else lo
      mh < PowHi(p) ||
        (mh == PowHi(p) && java.lang.Long.compareUnsigned(ml, PowLo(p)) < 0)
    }

  /** hi, or [[Overflow]] if the pair has more than `digits` digits;
    * `digits` 0 checks nothing. */
  def checked(hi: Long, lo: Long, digits: Int): Long =
    if (digits == 0 || hi == Overflow || withinDigits(hi, lo, digits)) hi
    else Overflow

  /** hi of the merge of two partial sums: [[Overflow]] also when the
    * incoming partial (h2, l2) has more than p digits — Spark's
    * partial aggregate writes such a sum into its output row as null —
    * or the merged value has more than `digits` (0: unchecked). */
  def mergeHi(h1: Long, l1: Long, h2: Long, l2: Long, p: Int, digits: Int): Long =
    if (h2 != Overflow && !withinDigits(h2, l2, p)) Overflow
    else checked(addHi(h1, l1, h2, l2), l1 + l2, digits)

  /** The low word of a Decimal's unscaled value. */
  def lowWord(v: Decimal): Long =
    try v.toUnscaledLong
    catch { case _: ArithmeticException => v.toJavaBigDecimal.unscaledValue.longValue }

  /** The high word of a Decimal's unscaled value (sign extension when
    * it fits in a long, which a long-backed Decimal always does). */
  def highWord(v: Decimal): Long =
    try v.toUnscaledLong >> 63
    catch {
      case _: ArithmeticException =>
        v.toJavaBigDecimal.unscaledValue.shiftRight(64).longValue
    }

  def addDecimalHi(h: Long, l: Long, v: Decimal, digits: Int): Long =
    if (h == Overflow) Overflow
    else {
      val vl = lowWord(v)
      checked(addHi(h, l, highWord(v), vl), l + vl, digits)
    }

  def addDecimalLo(l: Long, v: Decimal): Long = l + lowWord(v)

  /** (hi, lo) at scale s as a Decimal: of precision p when it fits,
    * else of its own precision, for `CheckOverflowInSum` to reject. */
  def toDecimal(hi: Long, lo: Long, p: Int, s: Int): Decimal = {
    val fits = withinDigits(hi, lo, p)
    if (fits && hi == (lo >> 63)) Decimal(lo, p, s)
    else {
      val big = java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
      val d = new java.math.BigDecimal(big, s)
      if (fits) Decimal(d, p, s) else Decimal(d)
    }
  }
}

/** One half of (hi, lo) + the unscaled value of a decimal; a null
  * value leaves the pair as it is. */
case class Int128AddDecimal(hi: Expression, lo: Expression, value: Expression,
    high: Boolean, digits: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = value
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input).asInstanceOf[Long]
    val l = lo.eval(input).asInstanceOf[Long]
    val v = value.eval(input).asInstanceOf[Decimal]
    if (v == null) { if (high) h else l }
    else if (high) Int128.addDecimalHi(h, l, v, digits)
    else Int128.addDecimalLo(l, v)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val (h, l, v) = (hi.genCode(ctx), lo.genCode(ctx), value.genCode(ctx))
    val added =
      if (high) s"graft.functions.expressions.Int128.addDecimalHi(${h.value}, ${l.value}, ${v.value}, $digits)"
      else s"graft.functions.expressions.Int128.addDecimalLo(${l.value}, ${v.value})"
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${v.code}
      long ${ev.value} = ${v.isNull} ? ${if (high) h.value else l.value} : $added;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Int128AddDecimal =
    copy(hi = newFirst, lo = newSecond, value = newThird)
}

/** One half of (hi1, lo1) + (hi2, lo2): the merge of two partial sums. */
case class Int128AddPair(hi1: Expression, lo1: Expression, hi2: Expression,
    lo2: Expression, high: Boolean, precision: Int, digits: Int)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = hi1
  override def second: Expression = lo1
  override def third: Expression = hi2
  override def fourth: Expression = lo2
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val Seq(h1, l1, h2, l2) = children.map(_.eval(input).asInstanceOf[Long])
    if (high) Int128.mergeHi(h1, l1, h2, l2, precision, digits) else l1 + l2
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val Seq(h1, l1, h2, l2) = children.map(_.genCode(ctx))
    val added =
      if (high) s"graft.functions.expressions.Int128.mergeHi(${h1.value}, ${l1.value}, ${h2.value}, ${l2.value}, $precision, $digits)"
      else s"${l1.value} + ${l2.value}"
    ev.copy(code = code"""
      ${h1.code}
      ${l1.code}
      ${h2.code}
      ${l2.code}
      long ${ev.value} = $added;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Int128AddPair =
    copy(hi1 = newFirst, lo1 = newSecond, hi2 = newThird, lo2 = newFourth)
}

/** The decimal(p, s) value of a (hi, lo) buffer; null once it
  * overflowed, which Spark's `CheckOverflowInSum` then turns into
  * Spark's null or error. */
case class Int128ToDecimal(hi: Expression, lo: Expression, dataType: DecimalType)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input).asInstanceOf[Long]
    if (h == Int128.Overflow) null
    else Int128.toDecimal(h, lo.eval(input).asInstanceOf[Long],
      dataType.precision, dataType.scale)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val (h, l) = (hi.genCode(ctx), lo.genCode(ctx))
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      boolean ${ev.isNull} = ${h.value} == Long.MIN_VALUE; // Int128.Overflow
      Decimal ${ev.value} = ${ev.isNull} ? null :
        graft.functions.expressions.Int128.toDecimal(
          ${h.value}, ${l.value}, ${dataType.precision}, ${dataType.scale});""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128ToDecimal = copy(hi = newLeft, lo = newRight)
}
