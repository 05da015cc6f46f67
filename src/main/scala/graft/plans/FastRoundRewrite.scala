package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, EvalMode,
  Expression, ExprId, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}
import graft.functions.expressions.{ExactDecimalSum, FastDecimalCast, FastRoundDouble}

/** Optimizer rule (round-12): rewrite `Round(double, literal s)` with
  * HALF_UP semantics into the codegen'd [[FastRoundDouble]] kernel.
  *
  * Why: Spark's RoundBase computes a DoubleType round through
  * `Double.toString` → string-parsed BigDecimal → setScale →
  * doubleValue PER ROW. The house determinism convention (SURVEY §2
  * D1–D5: round at a fixed scale before every cross-engine decimal
  * sum) makes this the hottest scalar in the suite — q_quantile_reg's
  * 80-point grid alone evaluates 48M of them at sf0.1. The kernel
  * decides the unambiguous cases arithmetically and falls back to the
  * exact reference computation inside the ambiguity band around
  * decimal ties (see [[graft.functions.FastRound]] for the error
  * analysis); FastRoundSpec pins bit-equality against Spark's own
  * Round over adversarial inputs, and the DuckDB oracle sweep
  * re-proves every graded value.
  *
  * The match is deliberately NARROW: DoubleType child, foldable
  * non-negative int literal scale ≤ 15 (10^s exactness bound), Round
  * only (HALF_UP — `bround`'s HALF_EVEN is not rewritten). Disable
  * with `spark.graft.fastround.rewrite=false`.
  *
  * The same rule plants the two exact decimal kernels that the
  * round-then-sum convention needs next:
  *  - every `CAST(double AS DECIMAL(p, s))` with s ≤ 15 becomes
  *    [[FastDecimalCast]], which reuses the integer the round kernel
  *    decides;
  *  - every Spark `Sum` whose result is wider than 18 digits (where
  *    Spark's own `DecimalAggregates` long sum stops) and whose input
  *    is such a cast becomes [[ExactDecimalSum]]. The cast may sit in
  *    the sum itself or in a column aliased to it anywhere below the
  *    Aggregate (`withColumn(c, ….cast(…))` then `sum(c)`,
  *    q_quantile_reg's shape). Sums in window frames stay Spark's.
  */
object FastRoundRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.fastround.rewrite", "true") != "true") {
      plan
    } else plan.transformAllExpressions {
      case r: Round
          if r.child.dataType == DoubleType && r.child.resolved &&
            (r.scale match {
              case Literal(s: Int, IntegerType) =>
                s >= 0 && s <= graft.functions.FastRound.MaxScale
              case _ => false
            }) =>
        val Literal(s: Int, IntegerType) = r.scale: @unchecked
        FastRoundDouble(r.child, s)
      case Cast(child, dt: DecimalType, _, mode)
          if child.dataType == DoubleType && child.resolved &&
            dt.scale >= 0 && dt.scale <= graft.functions.FastRound.MaxScale =>
        FastDecimalCast(child, dt, mode)
    }.transform {
      case a: Aggregate => exactSums(a)
    }
  }

  /** Spark sums wider than 18 digits over a [[FastDecimalCast]] — in
    * the sum, or a column aliased to it below the Aggregate — as
    * [[ExactDecimalSum]]. (The exact sum is exact for any decimal
    * input; the cast is what makes its input long-backed and cheap.) */
  private def exactSums(a: Aggregate): Aggregate = {
    // exprIds are unique: a column aliased to the cast anywhere below
    // carries the cast's values up to this Aggregate
    lazy val castCols: Set[ExprId] = a.child.flatMap(_.expressions.flatMap(_.collect {
      case al @ Alias(_: FastDecimalCast, _) => al.exprId
    })).toSet
    def castInput(e: Expression): Boolean = e match {
      case _: FastDecimalCast => true
      case at: Attribute => castCols.contains(at.exprId)
      case _ => false
    }
    val aggs = a.aggregateExpressions.map(_.transformDown {
      case ae @ AggregateExpression(s: Sum, _, false, _, _)
          if castInput(s.child) && wide(s.dataType) =>
        val exact = CurrentOrigin.withOrigin(s.origin) {
          ExactDecimalSum(s.child,
            nullOnOverflow = s.evalContext.evalMode != EvalMode.ANSI,
            checkEachAdd = a.groupingExpressions.nonEmpty)
        }
        if (exact.dataType == s.dataType) ae.copy(aggregateFunction = exact) else ae
    }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression])
    if (aggs == a.aggregateExpressions) a else a.copy(aggregateExpressions = aggs)
  }

  /** A decimal sum result Spark's long-sum rewrite does not cover. */
  private def wide(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case d: DecimalType => d.precision > 18
    case _ => false
  }
}
