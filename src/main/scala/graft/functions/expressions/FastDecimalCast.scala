package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode,
  Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import graft.functions.FastRound

/** `CAST(child AS DECIMAL(p, s))` for a DoubleType child and s ≤ 15 —
  * bit-identical to Spark's `Cast` by the [[graft.functions.FastRound]]
  * contract, without the per-row `Double.toString` + string-parsed
  * BigDecimal. The unscaled value comes from [[FastRound.unscaled]]
  * and the result is a long-backed `Decimal`; whatever that declines
  * (NaN, ±Infinity, |unscaled| ≥ 2^51, more than p digits) runs
  * Spark's own `Cast` with the same eval mode and query context, so
  * the null-or-ANSI-error outcome is Spark's. Planted by
  * [[graft.plans.FastRoundRewrite]]; never written by query code.
  */
case class FastDecimalCast(child: Expression, dataType: DecimalType,
    evalMode: EvalMode.Value) extends UnaryExpression {

  require(dataType.scale >= 0 && dataType.scale <= FastRound.MaxScale,
    s"FastDecimalCast scale out of range: ${dataType.scale}")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"FastDecimalCast needs a double child, got ${child.dataType}")

  override lazy val nullable: Boolean =
    Cast(child, dataType, None, evalMode).nullable

  /** Spark's cast over one bound double, built in this node's origin so
    * an ANSI error names the same SQL fragment the replaced Cast did. */
  @transient private lazy val reference: Cast =
    CurrentOrigin.withOrigin(origin) {
      Cast(BoundReference(0, DoubleType, nullable = false), dataType, None, evalMode)
    }

  /** Spark's own answer for `d`: a Decimal, null, or the ANSI error. */
  def sparkCast(d: Double): Decimal =
    reference.eval(new GenericInternalRow(Array[Any](d))).asInstanceOf[Decimal]

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val k = FastRound.unscaled(d, dataType.scale, dataType.precision)
      if (k != FastRound.NoFast)
        Decimal.createUnsafe(k, dataType.precision, dataType.scale)
      else sparkCast(d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fastDecimalCast", this)
    val k = ctx.freshName("unscaled")
    val (p, s) = (dataType.precision, dataType.scale)
    nullSafeCodeGen(ctx, ev, c => {
      val slow =
        if (nullable)
          s"""${ev.value} = $self.sparkCast($c);
             |${ev.isNull} = ${ev.value} == null;""".stripMargin
        else s"${ev.value} = $self.sparkCast($c);"
      s"""long $k = graft.functions.FastRound.unscaled($c, $s, $p);
         |if ($k != Long.MIN_VALUE) { // FastRound.NoFast
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe($k, $p, $s);
         |} else {
         |  $slow
         |}""".stripMargin
    })
  }

  override def prettyName: String = "fast_decimal_cast"

  override def sql: String = s"CAST(${child.sql} AS ${dataType.sql})"

  override protected def withNewChildInternal(
      newChild: Expression): FastDecimalCast = copy(child = newChild)
}
