package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: bounded range joins become binned EQUI-joins.
  *
  * The natural way to write an interval join —
  * {{{ a JOIN b ON ... AND b.t > a.t AND b.t <= a.t + W }}}
  * — has no equi-predicate on the time axis, so Spark plans a nested-loop
  * (broadcast or cartesian) join: every left row scans every right row in
  * its key group. The scale-correct form buckets time into W-sized bins
  * (ops.TemporalJoins.rangeJoinBinned): a right match for `a` can only lie
  * in a's bin or the next one, so exploding the left side to those two bin
  * ids and equi-joining on bin turns the nested loop into one linear,
  * skew-bounded hash join plus a residual range filter. This rule performs
  * that rewrite automatically, inside Catalyst, for any INNER join whose
  * condition contains the bounded-range pattern on LongType expressions:
  *
  * {{{ Join(l, r, others ∧ (rt > lt) ∧ (rt <= lt + W))
  *       ==>
  *     Project(l.output ++ r.output,
  *       Filter((rt > lt) ∧ (rt <= lt + W),
  *         Join(Generate(explode([bin(lt), bin(lt)+1]), l)  AS __graft_bin,
  *              Project(r.output :+ bin(rt) AS __graft_bin_r, r),
  *              others ∧ __graft_bin = __graft_bin_r))) }}}
  *
  * Bin ids use exact FLOOR division `(t - pmod(t, W)) div W` (correct for
  * negative/pre-1970 values, where truncating division shifts bins and
  * silently loses boundary pairs). Null times were unmatched in the
  * original inner join and stay unmatched (null bins never equi-match), so
  * results are identical row-for-row. The residual filter sits ABOVE the
  * new join; predicate pushdown may fold it back into the join condition
  * within the same fixpoint batch, which is why eligibility skips any join
  * already carrying a `__graft_bin` attribute — that marker is also what
  * makes the rule idempotent.
  *
  * Installed by graft.functions.GraftExtensions (spark.sql.extensions),
  * which every graft.Sessions session carries; to plan without it, exclude
  * it with `spark.sql.optimizer.excludedRules`.
  */
object RangeJoinBinning extends Rule[LogicalPlan] with PredicateHelper {

  private val BinL = "__graft_bin"
  private val BinR = "__graft_bin_r"

  /** Exact floor-division bin id (see ops.TemporalJoins.binOf). */
  private def binExpr(t: Expression, w: Long): Expression =
    IntegralDivide(Subtract(t, Pmod(t, Literal(w))), Literal(w))

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** (leftTime, rightTime, window, the two range conjuncts). */
  private def findRange(
      conjuncts: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long, Seq[Expression])] = {
    def sideOf(e: Expression): Option[Char] =
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(left.outputSet)) Some('L')
      else if (e.references.subsetOf(right.outputSet)) Some('R')
      else None
    def usable(e: Expression): Boolean = e.deterministic && e.dataType == LongType

    // lower bound: rt > lt (either comparison orientation)
    val lowers = conjuncts.collect {
      case c @ GreaterThan(rt, lt)
        if usable(rt) && usable(lt) && sideOf(rt).contains('R') && sideOf(lt).contains('L') =>
        (lt, rt, c)
      case c @ LessThan(lt, rt)
        if usable(rt) && usable(lt) && sideOf(rt).contains('R') && sideOf(lt).contains('L') =>
        (lt, rt, c)
    }
    // upper bound: rt <= lt + W
    val uppers = conjuncts.collect {
      case c @ LessThanOrEqual(rt, Add(lt, wl, _))
        if usable(rt) && usable(lt) && sideOf(rt).contains('R') && sideOf(lt).contains('L')
          && longLit(wl).exists(_ > 0) =>
        (lt, rt, longLit(wl).get, c)
      case c @ GreaterThanOrEqual(Add(lt, wl, _), rt)
        if usable(rt) && usable(lt) && sideOf(rt).contains('R') && sideOf(lt).contains('L')
          && longLit(wl).exists(_ > 0) =>
        (lt, rt, longLit(wl).get, c)
    }
    (for {
      (lt1, rt1, lowC) <- lowers
      (lt2, rt2, w, upC) <- uppers
      if lt1.semanticEquals(lt2) && rt1.semanticEquals(rt2)
    } yield (lt1, rt1, w, Seq(lowC, upC))).headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !cond.references.exists(a => a.name == BinL || a.name == BinR) =>
      val conjuncts = splitConjunctivePredicates(cond)
      findRange(conjuncts, left, right) match {
        case Some((lt, rt, w, rangePreds)) =>
          val others = conjuncts.filterNot(c => rangePreds.exists(_.fastEquals(c)))
          val binL = binExpr(lt, w)
          val binAttr = AttributeReference(BinL, LongType, nullable = true)()
          val newLeft = Generate(
            Explode(CreateArray(Seq(binL, Add(binL, Literal(1L))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(binAttr), child = left)
          val binRAlias = Alias(binExpr(rt, w), BinR)()
          val newRight = Project(right.output :+ binRAlias, right)
          val newCond = (others :+ EqualTo(binAttr, binRAlias.toAttribute))
            .reduce(And)
          val joined = Join(newLeft, newRight, Inner, Some(newCond), hint)
          Project(left.output ++ right.output,
            Filter(rangePreds.reduce(And), joined))
        case None => j
      }
  }
}
