package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** One verifiable query: a Spark DataFrame program plus the equivalent
  * ANSI SQL the driver runs in DuckDB on the same parquet tables.
  * Column names of `fn`'s result and the oracle's result must match exactly
  * (the driver sorts columns by name before hashing values).
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, oracle)
}

/** Cross-engine determinism helpers.
  *
  * Double SUMs are order-dependent, and Spark's partial/final aggregation
  * order differs from DuckDB's sequential scan. Routing each addend through
  * an exact decimal makes the sum associative, so both engines produce the
  * identical value; the final cast back to double is then also identical.
  * The per-row double arithmetic BEFORE the cast (e.g. price*(1-discount))
  * is plain IEEE754 and bitwise-deterministic in both engines.
  */
object Exact {
  // The addend is first quantized to the 1/256 grid with pure IEEE double
  // ops (×256 is an exponent shift — exact; floor(+0.5) is exact; /256
  // exact), which both engines compute bit-identically. A k/256 double has
  // an EXACT decimal representation at scale 8 (1/256 = 0.00390625), so the
  // decimal cast is exact in both engines too — this sidesteps the real
  // divergence that Spark casts double→decimal via the shortest string
  // representation while DuckDB uses the exact binary expansion, which can
  // round differently at the 8th decimal digit.

  // The sum K/256 returns to double through the exact integer K (sum×256,
  // < 2^53 so exact as BIGINT in both engines) followed by /256.0 — an
  // exponent shift, exact again. A direct decimal→double cast is NOT safe:
  // DuckDB converts via the scaled int128 (sum×10^8), which exceeds 2^53
  // for large sums and rounds differently than Spark's BigDecimal path.

  /** Order-independent, cross-engine-deterministic sum of a double
    * expression (quantized to 1/256); result double. DuckDB twin: sumSql.
    *
    * Implementation (r14): the quantized addend IS the integer
    * floor(c·256 + 0.5) divided by 256, so summing those integers as
    * LONG and shifting back is bit-identical to the original
    * DECIMAL(30,8) route — Σ(kᵢ/256)·256 = Σkᵢ exactly, both forms cast
    * the SAME integer K to double at the end, and both share the SAME
    * validity contract (K < 2⁵³ for the final exact long→double cast;
    * the decimal form's BIGINT cast needed that too). The long sum stays
    * inside whole-stage codegen's primitive path, where DecimalType(30,8)
    * (precision > 18) forced a JavaBigDecimal allocation per row in
    * every partial and final aggregate — measured suite-wide as the top
    * single expression cost (q_corr: five sumD moments over 600k rows).
    * ExactSpec pins new == old on adversarial data; the DuckDB twin
    * (sumSql) is UNCHANGED, so every oracle hash re-proves equality. */
  def sumD(c: Column): Column =
    sum(floor(c * 256d + 0.5d).cast(LongType)).cast(DoubleType) / lit(256d)

  /** The pre-r14 DECIMAL(30,8) route, kept for ExactSpec's equality pin. */
  private[graft] def sumDDecimal(c: Column): Column =
    (sum((floor(c * 256d + 0.5d) / 256d).cast(DecimalType(30, 8))) * 256)
      .cast(LongType).cast(DoubleType) / lit(256d)

  /** SQL fragment for the DuckDB side of [[sumD]]. */
  def sumSql(x: String): String =
    s"CAST(CAST(SUM(CAST(floor(($x) * 256 + 0.5) / 256 AS DECIMAL(30,8))) * 256 AS BIGINT) AS DOUBLE) / 256.0"
}
