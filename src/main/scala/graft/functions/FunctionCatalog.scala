package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

import graft.functions.VectorExpressions.KernelCall

/** Every engine SQL function, in one table. [[GraftExtensions]] injects
  * it into every session [[graft.Sessions]] builds (and into any session
  * of a deploy that sets `spark.sql.extensions` to it).
  *
  * Each entry states its argument count, and [[Entry.builder]] checks it
  * before the entry's own builder runs: a call with too few or too many
  * arguments fails with an IllegalArgumentException that names the
  * function. The fifteen scalar entries are one line each: a
  * [[VectorExpressions.KernelCall]] of a [[VectorKernels]] method with its
  * result type, its column arguments and the literal Int arguments it
  * reads through [[intLiteral]]. The three others build their own
  * expression; `kmv_sketch` and `mg_topk` read `k` through [[intLiteral]]
  * too, and `range_bucket_search` checks that its flags and keys match.
  */
object FunctionCatalog {

  /** One SQL function: exactly `args` arguments, or at least `args` when
    * `variadic`. */
  final case class Entry(
      name: String,
      args: Int,
      build: Seq[Expression] => Expression,
      variadic: Boolean = false) {

    /** [[build]] behind the argument-count check. */
    val builder: Seq[Expression] => Expression = { es =>
      if (es.length < args || (!variadic && es.length > args))
        throw new IllegalArgumentException(
          s"$name takes ${if (variadic) "at least" else "exactly"} $args " +
            s"argument${if (args == 1) "" else "s"}, got ${es.length}")
      build(es)
    }
  }

  /** A literal Int argument of a kernel function, read when the call is
    * built and passed to the kernel after the column arguments. */
  final case class IntParam(name: String, lo: Int, hi: Int = Int.MaxValue)

  /** The value `e` gives argument `p` of function `fn`: `e` must be a
    * non-null integral literal in [p.lo, p.hi], or this throws an
    * IllegalArgumentException that names `fn` and `p`. A bigint is never
    * wrapped and a fraction never truncated into range. */
  def intLiteral(fn: String, p: IntParam, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: ${p.name} must be a literal, got $e")
    val v = e.eval() match {
      case n @ (_: Byte | _: Short | _: Int | _: Long) => n.asInstanceOf[Number].longValue
      case other => throw new IllegalArgumentException(
        s"$fn: ${p.name} must be a non-null integer literal, got " +
          (if (other == null) "NULL" else s"$other (${e.dataType.simpleString})"))
    }
    if (v < p.lo || v > p.hi)
      throw new IllegalArgumentException(s"$fn: ${p.name} must be " +
        (if (p.hi == Int.MaxValue) s">= ${p.lo}" else s"in [${p.lo}, ${p.hi}]") + s", got $v")
    v.toInt
  }

  /** `name(c1, …, cN, p1, …)` as a call of `VectorKernels.<method>` on N
    * column arguments and the literal `params`. */
  private def kernel(name: String, method: String, dataType: DataType, columns: Int,
      params: IntParam*): Entry =
    Entry(name, columns + params.length, es => KernelCall(name, method, dataType,
      es.take(columns), params.zip(es.drop(columns)).map { case (p, e) => intLiteral(name, p, e) }))

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private val HistEntries = ArrayType(StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  val entries: Seq[Entry] = Seq(
    kernel("vector_dot_f32", "dotF32", DoubleType, 2),
    kernel("vector_norm_f32", "normF32", DoubleType, 1),
    kernel("vector_dot_f64", "dotF64", DoubleType, 2),
    kernel("vector_norm_f64", "normF64", DoubleType, 1),
    kernel("vector_l1_i64", "l1I64", LongType, 2),
    kernel("vector_distsq_i64", "distSqI64", LongType, 2),
    kernel("rolling_hash31", "rollingHash31", LongType, 1),
    kernel("window_hash31", "windowHash31", Longs, 2),
    kernel("hilbert_d2", "hilbertD2", LongType, 2, IntParam("bits", 1, 31)),
    kernel("damerau_levenshtein", "damerauLevenshtein", LongType, 2),
    kernel("minhash_bands8", "minhashBands8", Strings, 1, IntParam("k", 1)),
    kernel("md5_seeded8", "md5Seeded8", Strings, 1),
    kernel("charhist_entries", "charHistEntries", HistEntries, 1, IntParam("blocks", 1)),
    // aligned_counts(entries, keys) and marginal_counts(entries, keys)
    // binary-search sorted input: entries as charhist_entries gives them
    // ((k, c) structs, k strictly ascending), and for marginal_counts keys
    // strictly ascending too. Unsorted input fails the row with an
    // IllegalArgumentException naming the function, never a wrong count.
    kernel("aligned_counts", "alignedCounts", Longs, 2),
    kernel("marginal_counts", "marginalCounts", Longs, 2),
    Entry("range_bucket_search", 3, RangeBucketSearch.build, variadic = true),
    Entry("kmv_sketch", 2, SketchAggregates.build),
    Entry("mg_topk", 2, SketchAggregates.buildMg))
}
