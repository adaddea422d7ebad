package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Correctness + plan-shape guards for the banded-levenshtein optimizer
  * rule: the rewrite must change the PLAN, never the result set, and must
  * leave projected levenshtein VALUES untouched.
  */
class LevenshteinPruningSpec extends SparkSpec {
  import spark.implicits._

  private val pairs = Seq(
    ("kitten", "sitting"),      // dist 3
    ("kitten", "kitten"),       // dist 0
    ("kitten", "mitten"),       // dist 1
    ("abc", "abcd"),            // dist 1
    ("abc", "xyz"),             // dist 3
    ("", "ab"),                 // dist 2
    ("a", null),                // dist null
    ("short", "a much longer string entirely")) // length guard prunes

  test("rewrite fires in filters: banded DP + length guard in q_fuzzy_match's plan") {
    // parquet-backed source: a LocalRelation would be constant-folded away
    // before the plan could be inspected
    val df = graft.queries.Relational.fuzzyMatch.fn(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan.toString
    assert("levenshtein\\([^)]*, Some\\(2\\)\\)".r.findFirstIn(plan).isDefined,
      s"expected a thresholded levenshtein in:\n$plan")
    assert(plan.contains("abs(") && plan.contains("length("),
      s"expected the length pre-filter in:\n$plan")
  }

  test("rewritten filter returns exactly the naive result, nulls included") {
    val df = pairs.toDF("a", "b")
    // expected: compute the distance as a PROJECTED value (the rule leaves
    // projections alone) and filter driver-side
    val expected = df.select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).as("d"))
      .collect()
      .filter(r => !r.isNullAt(2) && r.getInt(2) <= 2)
      .map(r => (r.getString(0), r.getString(1))).toSet
    val got = df.filter(levenshtein(col("a"), col("b")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expected)
    // strict < uses threshold k-1
    val gotStrict = df.filter(levenshtein(col("a"), col("b")) < 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expStrict = df.select(col("a"), col("b"), levenshtein(col("a"), col("b")).as("d"))
      .collect().filter(r => !r.isNullAt(2) && r.getInt(2) < 2)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotStrict === expStrict)
  }

  test("projected levenshtein values keep the full distance (rule is filter-only)") {
    val d = Seq(("abc", "zzzzzzzzz")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b")).as("d"))
      .head.getInt(0)
    assert(d === 9, "a projection must never see the -1 sentinel of the banded form")
  }

  test("rewrite respects three-valued logic under negation") {
    val df = pairs.toDF("a", "b")
    // NOT(dist <= 2): null rows must stay excluded in both forms
    val got = df.filter(!(levenshtein(col("a"), col("b")) <= 2))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = df.select(col("a"), col("b"), levenshtein(col("a"), col("b")).as("d"))
      .collect().filter(r => !r.isNullAt(2) && r.getInt(2) > 2)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expected)
  }

  test("banded levenshtein semantics: -1 above threshold, distance below") {
    val r = spark.sql(
      "SELECT levenshtein('abc','abd',1), levenshtein('abc','xyz',1), levenshtein('a','a',0)")
      .head
    assert(r.getInt(0) === 1)
    assert(r.getInt(1) === -1)
    assert(r.getInt(2) === 0)
  }
}
