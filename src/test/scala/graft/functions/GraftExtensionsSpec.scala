package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** A factory session carries the extensions: the functions in plain SQL
  * and both optimizer rules live. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("a factory session has the function family in SQL and both optimizer rules") {
    // force a FRESH session (getOrCreate would silently return a shared
    // one); the underlying context is reused
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // same master as SparkSpec: whichever suite starts the shared context
    // fixes its parallelism for the rest of the run
    val spark = graft.Sessions.build("local[4]")
    try {
      assert(spark.sparkContext.getConf.get("spark.sql.extensions") === classOf[GraftExtensions].getName)
      val r = spark.sql(
        """SELECT vector_dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                      array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
          |       vector_norm_f32(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
          |       rolling_hash31('ab') AS h""".stripMargin).head()
      assert(r.getDouble(0) === 11.0)
      assert(r.getDouble(1) === 5.0)
      assert(r.getLong(2) === ('a'.toLong * 31 + 'b'.toLong) % 1000000007L)
      // the injected optimizer rule is live in this session too: a
      // levenshtein threshold filter plans as the banded form
      val df = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .filter("levenshtein(p_name, 'red widget') <= 2")
      val plan = df.queryExecution.optimizedPlan.toString
      assert("levenshtein\\([^)]*Some\\(2\\)\\)".r.findFirstIn(plan).isDefined,
        s"injectOptimizerRule must apply LevenshteinPruning:\n$plan")
      // kmv_sketch (custom aggregate) resolves through SQL
      val sk = spark.sql(
        "SELECT kmv_sketch(x, 2) AS sk FROM VALUES (5L), (3L), (9L), (3L) AS t(x)").head()
      assert(sk.getSeq[Long](0) === Seq(3L, 5L))
      // the range-join binning rule is live too: the naive bounded-range
      // join plans with the bin explode
      import org.apache.spark.sql.functions.col
      val ev = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      val l = ev.select(col("o_orderkey").as("lk"), col("o_custkey").as("lt"))
      val rr = ev.select(col("o_orderkey").as("rk"), col("o_custkey").as("rt"))
      val rj = l.join(rr, col("rt") > col("lt") && col("rt") <= col("lt") + 100L)
      assert(rj.queryExecution.optimizedPlan
        .collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
        .nonEmpty, "injectOptimizerRule must apply RangeJoinBinning")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
    }
  }
}
