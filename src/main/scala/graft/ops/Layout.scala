package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering keys. A linear sort on (a, b) localizes
  * predicates on `a` but scatters `b`; interleaving the bits of both (the
  * Z-order / Morton curve) gives a key under which neighbouring values
  * stay close in BOTH dimensions. q_zorder_key computes it.
  */
object Layout {

  /** Morton (Z-order) interleave of `cols`, `bits` low bits each —
    * a pure integer expression (codegen'd, no UDF). Columns must already
    * be non-negative integers. Bit j of column i lands at output bit
    * `j * n_cols + i`, so output width = bits × n_cols ≤ 63. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits * cols.size <= 63,
      s"z-value would need ${bits * cols.size} bits; max 63")
    val n = cols.size
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield {
      // ((c >> j) & 1) << (j*n + i)   — spread bit j of column i
      val bit = shiftright(c.cast("long"), j) % 2
      shiftleft(bit.cast("long"), j * n + i)
    }
    terms.reduce(_ + _) // disjoint bit positions: + == | and stays codegen
  }
}
