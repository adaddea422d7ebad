package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), built by
  * [[Sessions]] like every main's, plus a throwaway warehouse dir. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder("local[4]")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  /** A `newSession()` clone of `base` whose optimizer skips `rules`: the
    * plan without them, leaving `base` as it is. */
  def excluding(base: SparkSession, rules: Rule[LogicalPlan]*): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", rules.map(_.ruleName).mkString(","))
    s
  }
}
