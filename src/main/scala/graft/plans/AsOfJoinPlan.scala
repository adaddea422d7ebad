package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF join as a FULL custom operator — logical node, planner strategy
  * and physical sort-merge execution (SURVEY.md §7.3 preference (c),
  * exercised once deliberately: the composed form
  * [[graft.ops.TemporalJoins.asOfJoin]] union-tags both sides and runs a
  * window over the merged stream, which carries the right payload through
  * the shuffle TWICE — once in the union row, once in the window frame
  * state. The custom exec declares what the operator actually needs and
  * lets Spark's own machinery provide it:
  *
  *   - `requiredChildDistribution` = ClusteredDistribution(keys) on both
  *     sides → EnsureRequirements inserts (or reuses!) co-partitioning
  *     exchanges exactly like SortMergeJoin;
  *   - `requiredChildOrdering` = (keys, time) ascending on both sides →
  *     the planner inserts the per-partition sorts;
  *   - `doExecute` zips the co-partitioned, sorted iterators and runs the
  *     textbook single-pass backward-as-of merge: both sides stream, the
  *     only per-key state is ONE buffered candidate row (the latest right
  *     row at-or-before the current left time). O(|L|+|R|) per partition,
  *     zero buffering of groups, works at any key cardinality.
  *
  * Semantics (ASOF LEFT JOIN, backward): for each left row, the LAST
  * right row with equal keys and rightTime ≤ leftTime; unmatched left
  * rows null-extend. Null keys never match (SQL join semantics), on
  * either side. Ties among right rows at identical (key, time) resolve
  * to the last in sort order — callers wanting determinism pre-dedupe,
  * as [[graft.queries.EventsMultimodal.asofJoin]] does.
  *
  * The strategy is installed by [[graft.functions.GraftExtensions]]
  * (injectPlannerStrategy), which every [[graft.Sessions]] session
  * carries.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "as-of join needs matching non-empty key lists")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val keyTypes = lk.map(_.dataType)
    val timeTypes = Seq(lt.dataType)
    val nRight = rOut.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(timeTypes)
      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      // the ONLY cross-row state: the latest right row at-or-before the
      // current left position, plus its key (copied — projection buffers
      // are reused by the next call)
      var cand: InternalRow = null
      var candKey: UnsafeRow = null
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        if (cand != null && keyOrd.compare(candKey, lKey) != 0) {
          cand = null; candKey = null
        }
        val lTimeRow = lTimeProj(lRow).copy()
        var scan = true
        while (scan && rBuf.hasNext) {
          val head = rBuf.head
          val rKey = rKeyProj(head)
          val c = keyOrd.compare(rKey, lKey)
          if (c < 0) {
            rBuf.next() // right side is behind this key: discard
          } else if (c == 0 && timeOrd.compare(rTimeProj(head), lTimeRow) <= 0) {
            val r = rBuf.next()
            if (!rKey.anyNull) { cand = r.copy(); candKey = rKey.copy() }
          } else {
            scan = false // right head is beyond (key, time): stop
          }
        }
        val matched = cand != null && !lKey.anyNull
        joined(lRow, if (matched) cand else nullRight)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
