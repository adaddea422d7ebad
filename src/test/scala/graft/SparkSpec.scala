package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), built by
  * [[Sessions]] like every main's, plus a throwaway warehouse dir. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder("local[4]")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
