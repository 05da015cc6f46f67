package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite threshold comparisons of the UNBOUNDED
  * levenshtein into the banded (3-arg) form:
  *
  * {{{ levenshtein(a, b) <= k   →   levenshtein(a, b, k) >= 0 }}}
  * {{{ levenshtein(a, b) <  k   →   levenshtein(a, b, k-1) >= 0 }}}
  *
  * (plus the mirrored literal-first spellings). The banded kernel
  * computes only a 2k+1-wide diagonal of the DP matrix and exits as
  * soon as the distance provably exceeds k — O(len·k) instead of
  * O(len²); measured ~5× on ~300-char documents at k=60 in this
  * engine's fuzzy-dedup benchmark. Users and BI layers write the
  * unbounded predicate because it reads naturally; the engine should
  * meet the declarative plan where it is (same argument as
  * [[VecDotRewrite]]).
  *
  * Soundness: for the banded form, `result >= 0 ⇔ distance <= k`
  * (it returns the exact distance when ≤ k, −1 otherwise), and NULL
  * inputs yield NULL through both spellings — the comparison node is
  * replaced by a boolean-equivalent expression, so the rewrite is
  * valid in any expression context, not just Filters. The match is
  * restricted to foldable non-negative integer thresholds. Disable
  * it as any Catalyst rule: `spark.sql.optimizer.excludedRules=
  * graft.plans.LevenshteinBandRewrite`.
  */
object LevenshteinBandRewrite extends Rule[LogicalPlan] {

  private object IntThreshold {
    /** Any FOLDABLE IntegerType expression (a bare literal, `50 + 10`,
      * a cast byte/short constant, …), evaluated here at rewrite time
      * — matching the documented contract, not just `Literal`. */
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(k: Int, IntegerType) => Some(k)
      case _ if e.foldable && e.dataType == IntegerType =>
        e.eval() match {
          case k: java.lang.Integer => Some(k.intValue())
          case _ => None // foldable-to-NULL: leave unrewritten
        }
      case _ => None
    }
  }

  private def banded(lev: Levenshtein, k: Int): Expression =
    GreaterThanOrEqual(
      lev.copy(threshold = Some(Literal(k, IntegerType))),
      Literal(0, IntegerType))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // lev(a,b) <= k  /  k >= lev(a,b)
      case LessThanOrEqual(lev: Levenshtein, IntThreshold(k))
          if lev.threshold.isEmpty && k >= 0 => banded(lev, k)
      case GreaterThanOrEqual(IntThreshold(k), lev: Levenshtein)
          if lev.threshold.isEmpty && k >= 0 => banded(lev, k)
      // lev(a,b) < k  /  k > lev(a,b)   (distance < k ⇔ distance <= k-1)
      case LessThan(lev: Levenshtein, IntThreshold(k))
          if lev.threshold.isEmpty && k >= 1 => banded(lev, k - 1)
      case GreaterThan(IntThreshold(k), lev: Levenshtein)
          if lev.threshold.isEmpty && k >= 1 => banded(lev, k - 1)
    }
}
