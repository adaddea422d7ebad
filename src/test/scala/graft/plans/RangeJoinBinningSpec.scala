package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions._

/** RangeJoinBinning, which every factory session runs, must turn the
  * naive bounded-range join into a binned equi-join with IDENTICAL results
  * (boundaries, duplicates, negative times included), leave non-matching
  * joins alone, and be idempotent under the optimizer's fixpoint batches.
  * The rule-off plans come from a clone that excludes it.
  */
class RangeJoinBinningSpec extends SparkSpec {
  import spark.implicits._

  // clicks/purchases with boundary-exact and pre-1970 (negative) times
  private lazy val a = Seq(
    (1L, 10L, 100L), (2L, 10L, 1000L), (3L, 20L, -2500L), (4L, 30L, 0L))
    .toDF("a_id", "k", "a_t")
  private lazy val b = Seq(
    (11L, 10L, 100L),   // == a_t → excluded by strict lower bound
    (12L, 10L, 101L),   // just inside
    (13L, 10L, 700L),   // a1 +600 boundary → included (<=)
    (14L, 10L, 701L),   // just outside
    (15L, 20L, -2000L), // negative-time match (floor-binning case)
    (16L, 20L, -1899L), // outside (-2500+600 = -1900 < -1899)
    (17L, 30L, 600L),   // boundary from 0
    (18L, 99L, 150L))   // key mismatch
    .toDF("b_id", "k", "b_t")

  private def naive: DataFrame =
    a.join(b, a("k") === b("k") && col("b_t") > col("a_t")
      && col("b_t") <= col("a_t") + 600L)
      .select("a_id", "b_id")

  /** [[naive]] in a clone of the session that plans without the rule. */
  private def naiveRuleOff: DataFrame = org.apache.spark.sql.GraftSqlBridge
    .ofRows(excluding(spark, RangeJoinBinning), naive.queryExecution.logical)

  // a1 (k10, t100) → b12 (101), b13 (700 = boundary); a2 (k10, t1000) →
  // nothing in (1000, 1600]; a3 (k20, −2500) → b15 (−2000); a4 (k30, 0) →
  // b17 (600 = boundary; b12 is k10)
  private lazy val expected =
    Set((1L, 12L), (1L, 13L), (3L, 15L), (4L, 17L))

  test("rewrite preserves results exactly, boundaries and negative times included") {
    val off = naiveRuleOff
    assert(off.queryExecution.optimizedPlan.collect { case g: Generate => g }.isEmpty,
      "the baseline must plan without the rule")
    val baseline = off.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(baseline === expected, "naive baseline must match hand-computed pairs")
    val rewritten = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten === expected)
  }

  test("the optimized plan is a binned equi-join: Generate + __graft_bin equality") {
    val plan = naive.queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g }
    assert(gens.size === 1, s"expected one bin explode:\n$plan")
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty &&
      joins.head.condition.get.references.exists(_.name == "__graft_bin"),
      s"join must carry the bin equi-key:\n$plan")
    val phys = naive.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"the nested loop must be gone:\n$phys")
  }

  test("joins without a bounded range are left untouched") {
    val plain = a.join(b, a("k") === b("k") && col("b_t") > col("a_t")) // no upper bound
    assert(plain.queryExecution.optimizedPlan.collect { case g: Generate => g }.isEmpty)
    val oneSided = a.join(b, a("k") === b("k"))
    assert(oneSided.queryExecution.optimizedPlan.collect { case g: Generate => g }.isEmpty)
  }

  test("idempotent: a second application adds no second explode") {
    val once = naive.queryExecution.optimizedPlan
    val twice = RangeJoinBinning(once)
    assert(twice.collect { case g: Generate => g }.size === 1)
  }

  test("the rule never re-bins an already-binned join (marker-column guard)") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val a2 = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
    val b2 = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id"), col("ts").as("b_ts"))
    val df = graft.ops.TemporalJoins
      .rangeJoinBinned(a2, b2, Seq("user_id"), "a_ts", "b_ts", 600000000L)
    // predicate pushdown folds the residual range filter back into the
    // equi-join; the shared __graft_bin marker must stop a second explode
    val gens = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.size === 1, "rule must not double-bin the hand-binned join")
  }

  test("naive events interval join matches ops.TemporalJoins.rangeJoinBinned under the rule") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id").as("k"),
        unix_micros(col("ts")).as("a_t"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id").as("k2"),
        unix_micros(col("ts")).as("b_t"))
    val viaRule = clicks.join(purch,
      col("k") === col("k2") && col("b_t") > col("a_t")
        && col("b_t") <= col("a_t") + 600000000L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cl2 = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
    val pu2 = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id"), col("ts").as("b_ts"))
    val viaOp = graft.ops.TemporalJoins
      .rangeJoinBinned(cl2, pu2, Seq("user_id"), "a_ts", "b_ts", 600000000L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRule === viaOp && viaRule.nonEmpty)
  }
}
