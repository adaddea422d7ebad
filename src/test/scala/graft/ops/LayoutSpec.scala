package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: known values, monotone in each dim, within width") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (65535L, 65535L))
      .toDF("x", "y")
    val z = df.select(Layout.zValue(Seq($"x", $"y"), 16).as("z")).as[Long].collect()
    // bit j of x → bit 2j; bit j of y → bit 2j+1
    assert(z(0) === 0L)
    assert(z(1) === 1L)
    assert(z(2) === 2L)
    assert(z(3) === 3L)
    assert(z(4) === (2L | 8L | 4L)) // x=10b → bits 2; y=11b → bits 1,3
    assert(z(5) === (1L << 32) - 1)
  }

  test("zValue rejects widths beyond 63 bits") {
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq($"x", $"y"), 32)
    }
  }
}
