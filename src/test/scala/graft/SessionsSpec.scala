package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Pins what [[Sessions]] builds, for every main and for the test
  * session alike. */
class SessionsSpec extends SparkSpec {

  private def assertPinned(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sparkContext.uiWebUrl.isEmpty, "the Spark UI must be off")
    assert(s.conf.get("spark.sql.shuffle.partitions").toInt === s.sparkContext.defaultParallelism)
  }

  private def levenshteinBanded(s: SparkSession): Boolean = {
    val plan = s.range(3).selectExpr("cast(id AS string) AS name")
      .filter("levenshtein(name, 'red widget') <= 2").queryExecution.optimizedPlan
    plan.toString.contains("Some(2)") // the banded form carries its threshold
  }

  private def rangeJoinBinned(s: SparkSession): Boolean = {
    val l = s.range(100).select(col("id").as("lk"), col("id").as("lt"))
    val r = s.range(100).select(col("id").as("rk"), col("id").as("rt"))
    l.join(r, col("rt") > col("lt") && col("rt") <= col("lt") + 10L).queryExecution.optimizedPlan
      .collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.nonEmpty
  }

  test("a fresh factory session carries every pin and no graft optimizer rule or strategy") {
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = Sessions.build("local[4]")
      assert(default.forall(_ ne s), "expected a new session, not the shared one")
      assertPinned(s)
      assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty)
      assert(!s.sessionState.planner.strategies.exists(_.getClass.getName.startsWith("graft.")),
        "no graft planner strategy may be injected")
      // the two graft optimizer rules leave these plans alone ...
      assert(!levenshteinBanded(s) && !rangeJoinBinned(s))
      // ... and rewrite them once registered, so the check above is live
      graft.plans.LevenshteinPruning.register(s)
      graft.plans.RangeJoinBinning.register(s)
      assert(levenshteinBanded(s) && rangeJoinBinned(s))
    } finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("the shared test session comes from the factory") {
    assertPinned(spark)
    assert(spark.sparkContext.appName === "graft")
  }

  test("parallelism follows the local master; other masters are refused") {
    assert(Sessions.parallelism("local") === 1)
    assert(Sessions.parallelism("local[3]") === 3)
    assert(Sessions.parallelism("local[*]") === Runtime.getRuntime.availableProcessors())
    assertThrows[IllegalArgumentException](Sessions.parallelism("spark://host:7077"))
    assertThrows[IllegalArgumentException](Sessions.parallelism("local[2, 4]"))
  }
}
