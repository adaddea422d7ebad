package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.functions.FunctionCatalog
import graft.plans.{AsOfJoinStrategy, LevenshteinPruning, RangeJoinBinning}

/** Pins what [[Sessions]] builds, for every main and for the test
  * session alike. */
class SessionsSpec extends SparkSpec {

  private def assertPinned(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sparkContext.uiWebUrl.isEmpty, "the Spark UI must be off")
    assert(s.conf.get("spark.sql.shuffle.partitions").toInt === s.sparkContext.defaultParallelism)
    assert(s.sparkContext.getConf.get("spark.hadoop.fs.file.impl") === classOf[NioLocalFileSystem].getName)
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

  test("a fresh factory session and its clone carry every pin, the engine functions, both rules and the as-of strategy") {
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = Sessions.build("local[4]")
      assert(default.forall(_ ne s), "expected a new session, not the shared one")
      assertPinned(s)
      for (x <- Seq(s, s.newSession())) {
        val missing = FunctionCatalog.entries.map(_.name).filterNot(x.catalog.functionExists)
        assert(missing.isEmpty, s"unresolved engine functions: $missing")
        assert(levenshteinBanded(x) && rangeJoinBinned(x))
        assert(x.sessionState.planner.strategies.exists(_ eq AsOfJoinStrategy),
          "the as-of join strategy must be planned")
        assert(x.experimental.extraOptimizations.isEmpty && x.experimental.extraStrategies.isEmpty)
      }
      // a clone excluding both rules plans without them, so the checks
      // above are live, and the session it came from keeps them
      val off = excluding(s, LevenshteinPruning, RangeJoinBinning)
      assert(!levenshteinBanded(off) && !rangeJoinBinned(off))
      assert(levenshteinBanded(s) && rangeJoinBinned(s))
    } finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("a query plans the same whatever was built before it in its session, and building installs nothing") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    def snmPlan: String = "#\\d+".r.replaceAllIn(
      SparkEntry.queries("q_snm_pairs")(s, sf).queryExecution.optimizedPlan.toString, "#")
    val before = snmPlan
    // three queries whose plans the two rules rewrite
    for (q <- Seq("q_fuzzy_match", "q_range_join_auto", "q_funnel3"))
      SparkEntry.queries(q)(s, sf).queryExecution.optimizedPlan
    assert(snmPlan === before)
    assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty)
  }

  test("the shared test session comes from the factory") {
    assertPinned(spark)
    assert(spark.sparkContext.appName === "graft")
  }

  test("a session's file: paths resolve to the local filesystem that sets permissions without forking") {
    val table = java.nio.file.Files.createTempDirectory("graft-fs").resolve("t").toString
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.getClass === classOf[NioRawLocalFileSystem])
  }

  test("NioRawLocalFileSystem sets the permission bits asked for, rwx and sticky alike") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("graft-perm")
    def mode = java.nio.file.Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff
    for (bits <- Seq("700", "755", "640", "000", "777", "1755").map(Integer.parseInt(_, 8))) {
      fs.setPermission(new Path(dir.toUri), new FsPermission(bits.toShort))
      assert(mode === bits, f"set $bits%o, got $mode%o")
    }
  }

  test("parallelism follows the local master; other masters are refused") {
    assert(Sessions.parallelism("local") === 1)
    assert(Sessions.parallelism("local[3]") === 3)
    assert(Sessions.parallelism("local[*]") === Runtime.getRuntime.availableProcessors())
    assertThrows[IllegalArgumentException](Sessions.parallelism("spark://host:7077"))
    assertThrows[IllegalArgumentException](Sessions.parallelism("local[2, 4]"))
  }
}
