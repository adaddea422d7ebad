package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: bounded edit-distance evaluation for threshold filters.
  *
  * `levenshtein(a, b) <= k` evaluates the full O(|a|·|b|) dynamic program
  * per row and then throws most of the work away. Spark's Levenshtein
  * expression has a banded variant — `levenshtein(a, b, k)` computes only
  * the diagonal band, O(k·min(|a|,|b|)), returning -1 when the distance
  * exceeds k — but a user (or a generated plan) writing the natural
  * comparison form never gets it. This rule rewrites, inside Filter
  * conditions only:
  *
  * {{{ levenshtein(a, b) <= k   ==>   abs(length(a) - length(b)) <= k
  *                                    AND levenshtein(a, b, k) >= 0 }}}
  *
  * (and the strict `<` form with threshold k-1). The length guard is a
  * necessary condition (an edit changes length by at most 1) evaluated
  * first, so the conjunction short-circuits rows whose lengths already
  * disagree without touching the DP at all; survivors pay the banded cost
  * instead of the full matrix. Three-valued logic is preserved exactly
  * (null strings yield null in both forms, so the rewrite is safe under
  * negation), and the rule is idempotent: the rewritten expression carries
  * a threshold and no longer matches the pattern.
  *
  * Installed by `graft.functions.GraftExtensions` (spark.sql.extensions),
  * which every `graft.Sessions` session carries, so the fuzzy-match
  * query's plan and any other threshold filter get it alike.
  */
object LevenshteinPruning extends Rule[LogicalPlan] {

  /** Peel casts off a comparison operand to find a bare (un-thresholded)
    * levenshtein call. */
  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  private def intLit(e: Expression): Option[Long] = e match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Byte, _) => Some(v.toLong)
    case _ => None
  }

  /** The rewritten comparison: length pre-filter AND banded DP ≥ 0. The
    * original operand tree (casts included) is kept, with the bare
    * Levenshtein swapped for its thresholded twin, so result types are
    * untouched. */
  private def rewrite(wrapped: Expression, lev: Levenshtein, k: Long): Expression = {
    val kInt = Literal(k.toInt)
    val banded = wrapped.transformUp {
      case l: Levenshtein if l.fastEquals(lev) =>
        Levenshtein(l.left, l.right, Some(kInt))
    }
    val lenGuard = LessThanOrEqual(
      Abs(Subtract(Length(lev.left), Length(lev.right))), kInt)
    And(lenGuard, GreaterThanOrEqual(banded, Cast(Literal(0), wrapped.dataType)))
  }

  private def rewriteCmp(cond: Expression): Expression = cond.transformUp {
    case cmp @ LessThanOrEqual(w, kl) =>
      (stripCasts(w), intLit(kl)) match {
        case (lev @ Levenshtein(_, _, None), Some(k)) if k >= 0 && k <= Int.MaxValue =>
          rewrite(w, lev, k)
        case _ => cmp
      }
    case cmp @ LessThan(w, kl) =>
      (stripCasts(w), intLit(kl)) match {
        case (lev @ Levenshtein(_, _, None), Some(k)) if k >= 1 && k <= Int.MaxValue =>
          rewrite(w, lev, k - 1)
        case _ => cmp
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Predicate positions only — Filter and Join conditions share the
    // same three-valued semantics (null = drop), so the boolean-preserving
    // rewrite is safe in both; predicate pushdown moves the comparison
    // between them within the same fixpoint batch. A projected levenshtein
    // column's VALUE must stay the full distance, so Project/Aggregate are
    // off limits.
    case f @ Filter(cond, child) =>
      val newCond = rewriteCmp(cond)
      if (newCond.fastEquals(cond)) f else Filter(newCond, child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val newCond = rewriteCmp(cond)
      if (newCond.fastEquals(cond)) j else j.copy(condition = Some(newCond))
  }
}
