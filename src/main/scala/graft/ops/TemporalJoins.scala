package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Temporal join operators Spark lacks natively, in their scale-correct
  * compositions (SURVEY.md §7.3 preference (a): compose built-ins before
  * reaching for a custom SparkPlan).
  */
object TemporalJoins {

  /** AS-OF join: for each left row, the LATEST right row with
    * rightTime <= leftTime and equal keys; left rows with no prior right
    * row keep nulls (ASOF LEFT JOIN semantics).
    *
    * Composition: tag both sides, union, one window sorted by
    * (time, right-first) per key, `last(right_payload, ignoreNulls)` over
    * the unbounded-preceding frame, keep left rows. ONE shuffle + sort on
    * the key — versus the naive inequality join which Spark plans as a
    * broadcast/cartesian nested loop. Right rows at exactly leftTime match
    * (<=); ties among right rows on (key, time) resolve arbitrarily, as in
    * other engines' ASOF.
    */
  def asOfJoin(
      left: DataFrame, leftTime: String,
      right: DataFrame, rightTime: String,
      keys: Seq[String]): DataFrame = {
    val leftPayload = left.columns.filterNot(keys.contains)
    val rightPayload = right.columns.filterNot(keys.contains)
    val lStruct = StructType(left.schema.filter(f => leftPayload.contains(f.name)))
    val rStruct = StructType(right.schema.filter(f => rightPayload.contains(f.name)))

    val l2 = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as("_t"), lit(0).as("_side"),
        struct(leftPayload.toIndexedSeq.map(col): _*).as("_l"),
        lit(null).cast(rStruct).as("_r")): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(
        col(rightTime).as("_t"), lit(1).as("_side"),
        lit(null).cast(lStruct).as("_l"),
        struct(rightPayload.toIndexedSeq.map(col): _*).as("_r")): _*)

    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, col("_side").desc) // right sorts before left at equal time → <= matches
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l2.unionByName(r2)
      .withColumn("_last_r", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .select(
        keys.map(col) ++
          leftPayload.map(c => col(s"_l.$c").as(c)) ++
          rightPayload.map(c => col(s"_last_r.$c").as(c)): _*)
  }

  /** AS-OF join on the CUSTOM physical operator
    * ([[graft.plans.AsOfJoinExec]] — logical node + strategy + sort-merge
    * exec): same ASOF LEFT semantics as [[asOfJoin]], but the right
    * payload crosses the shuffle ONCE and per-partition state is a single
    * buffered candidate row instead of a window frame over the unioned
    * stream. Key/time columns are resolved against the analyzed child
    * plans; right-side key columns are projected away (they duplicate the
    * left's), everything else null-extends on no-match. */
  def asOfJoinExec(
      left: DataFrame, leftTime: String,
      right: DataFrame, rightTime: String,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val s = left.sparkSession
    val lp = left.queryExecution.analyzed
    // fresh-alias EVERY right column: when both sides derive from the
    // same source, their analyzed plans share exprIds; the analyzer's
    // DeduplicateRelations renumbers the right subtree but cannot remap
    // the key/time expressions of a node type it doesn't know. Fresh
    // top-level aliases make the node's right-side references
    // unambiguous — dedup renumbers below them and stops there.
    val rpRaw = right.queryExecution.analyzed
    val rAliases = rpRaw.output.map(a => Alias(a, a.name)())
    val rp = Project(rAliases, rpRaw)
    val rOut = rAliases.map(_.toAttribute)
    def lattr(n: String) = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"as-of join: left column '$n' not found"))
    def rattr(n: String) = rOut.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"as-of join: right column '$n' not found"))
    val node = graft.plans.AsOfJoin(lp, rp,
      keys.map(lattr), keys.map(rattr), lattr(leftTime), rattr(rightTime))
    val keep = lp.output ++
      rOut.filterNot(a => keys.contains(a.name)).map(_.withNullability(true))
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, Project(keep, node))
  }

  /** Range join via time binning: pairs (a, b) with equal keys and
    * b.time ∈ (a.time, a.time + window]. The naive inequality join is a
    * nested loop; binning by `window`-sized buckets turns it into an
    * EQUI-join — each left row probes its own bin and the next (a right
    * match can only fall in those two), then the exact range predicate
    * filters residually. Shuffle on (key, bin): linear, skew-bounded by
    * bin population, the standard interval-join design at scale.
    */
  /** Integer FLOOR division for bin ids: `(t - pmod(t, w)) div w` is the
    * largest multiple of w ≤ t, exactly, for negative t too. A double
    * divide + cast truncates toward ZERO, which shifts pre-1970 timestamps
    * into the wrong bin and silently loses valid pairs at the boundary. */
  private def binOf(tcol: String, w: Long): Column =
    expr(s"($tcol - pmod($tcol, ${w}L)) div ${w}L")

  def rangeJoinBinned(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      windowMicros: Long): DataFrame = {
    // the bin column uses plans.RangeJoinBinning's marker name on purpose:
    // every factory session runs that rule, the residual range filter
    // below gets pushed back into the join condition, and without the
    // marker the rule would re-bin this ALREADY-binned join (correct but
    // a wasted second explode)
    val bin = "__graft_bin"
    val lb = left
      .withColumn("_t_l", unix_micros(col(leftTime)))
      .withColumn(bin, explode(array(
        binOf("_t_l", windowMicros),
        binOf("_t_l", windowMicros) + 1)))
    val rb = right
      .withColumn("_t_r", unix_micros(col(rightTime)))
      .withColumn(bin, binOf("_t_r", windowMicros))
    lb.join(rb, keys :+ bin)
      .filter(col("_t_r") > col("_t_l") && col("_t_r") <= col("_t_l") + windowMicros)
      .drop(bin, "_t_l", "_t_r")
  }
}
