package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeBucketSearchSpec extends SparkSpec {
  import spark.implicits._

  test("lowerBound: correct count in ≤ ⌈log₂(n+1)⌉+1 probes at every n and target") {
    for (n <- Seq(0, 1, 2, 3, 7, 8, 9, 1023, 1024, 4096, 10000)) {
      val bound = math.ceil(math.log(n + 1.0) / math.log(2.0)).toInt + 1
      for (target <- Seq(0, 1, n / 3, n - 1, n).filter(t => t >= 0 && t <= n).distinct) {
        var probes = 0
        val r = RangeBucketSearch.lowerBound(n, m => { probes += 1; m < target })
        assert(r === target, s"n=$n target=$target")
        assert(probes <= bound,
          s"n=$n target=$target took $probes probes, log bound is $bound")
      }
    }
  }

  test("SQL surface: bucket = count of boundaries ≤ row, asc and desc") {
    val df = Seq(1L, 5L, 10L, 15L, 20L).toDF("v")
    // asc boundaries 5, 15: v=1 → 0; v=5,10 → 1; v=15,20 → 2
    val asc = df.selectExpr(
      "v",
      """range_bucket_search(array(false),
         array(struct(CAST(5 AS BIGINT)), struct(CAST(15 AS BIGINT))), v) AS b""")
      .as[(Long, Int)].collect().toMap
    assert(asc === Map(1L -> 0, 5L -> 1, 10L -> 1, 15L -> 2, 20L -> 2))
    // desc boundaries 15, 5 (sorted descending): v=20 → 0; v=15,10 → 1; v=5,1 → 2
    val desc = df.selectExpr(
      "v",
      """range_bucket_search(array(true),
         array(struct(CAST(15 AS BIGINT)), struct(CAST(5 AS BIGINT))), v) AS b""")
      .as[(Long, Int)].collect().toMap
    assert(desc === Map(20L -> 0, 15L -> 1, 10L -> 1, 5L -> 2, 1L -> 2))
  }

  test("builder rejects non-literal metadata and type-mismatched boundaries") {
    val df = Seq((1L, "a")).toDF("v", "s")
    // non-foldable desc flags
    val e1 = intercept[Exception] {
      df.selectExpr(
        "range_bucket_search(array(v = 1), array(struct(CAST(5 AS BIGINT))), v) AS b")
        .collect()
    }
    assert(e1.getMessage.contains("must be literals"))
    // boundary field type != key type (INT vs BIGINT) must fail loudly,
    // not compare across types
    val e2 = intercept[Exception] {
      df.selectExpr(
        "range_bucket_search(array(false), array(struct(5)), v) AS b").collect()
    }
    assert(e2.getMessage.contains("exact type"))
    // arity mismatch
    val e3 = intercept[Exception] {
      df.selectExpr(
        """range_bucket_search(array(false),
           array(struct(CAST(5 AS BIGINT), 'x')), v) AS b""").collect()
    }
    assert(e3.getMessage.contains("arity"))
    // non-array boundary literal: the function's own message convention,
    // never a raw ClassCastException (ADVICE r11)
    val e4 = intercept[Exception] {
      df.selectExpr("range_bucket_search(array(false), 5, v) AS b").collect()
    }
    assert(e4.getMessage.contains("range_bucket_search: boundaries must be"),
      s"got: ${e4.getMessage}")
    // array-of-non-struct boundary literal
    val e5 = intercept[Exception] {
      df.selectExpr("range_bucket_search(array(false), array(5), v) AS b").collect()
    }
    assert(e5.getMessage.contains("range_bucket_search: boundaries must be"),
      s"got: ${e5.getMessage}")
    // non-boolean desc flags
    val e6 = intercept[Exception] {
      df.selectExpr(
        "range_bucket_search(array(1), array(struct(CAST(5 AS BIGINT))), v) AS b")
        .collect()
    }
    assert(e6.getMessage.contains("desc_flags must be"), s"got: ${e6.getMessage}")
  }

  test("interpreted eval matches codegen (null keys included)") {
    val df = Seq(Some(1L), Some(7L), None, Some(20L)).toDF("v")
    val q = """range_bucket_search(array(false),
               array(struct(CAST(5 AS BIGINT)), struct(CAST(15 AS BIGINT))), v) AS b"""
    val codegenOn = df.selectExpr("v", q).as[(Option[Long], Int)].collect().toSet
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.selectExpr("v", q).as[(Option[Long], Int)].collect().toSet
      assert(interp === codegenOn)
      // asc → nulls first: the null row precedes every boundary → bucket 0
      assert(codegenOn.contains((None, 0)))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
