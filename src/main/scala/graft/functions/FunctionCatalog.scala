package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.VectorExpressions._

/** Every engine SQL function, in one table. The deploy-wide
  * [[GraftExtensions]] injects it and the per-session
  * [[VectorExpressions.register]] installs it, so both routes expose the
  * same names with the same builders.
  *
  * Each entry states its argument count, and [[Entry.builder]] checks it
  * before the entry's own builder runs: a call with too few or too many
  * arguments fails with an IllegalArgumentException that names the
  * function. Checks beyond the count (a literal `k` or `bits`, the
  * matching lengths of `range_bucket_search`'s flags and keys) stay in the
  * builders.
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

  val entries: Seq[Entry] = Seq(
    Entry("vector_dot_f32", 2, es => VectorDotF32(es(0), es(1))),
    Entry("vector_norm_f32", 1, es => VectorNormF32(es(0))),
    Entry("vector_dot_f64", 2, es => VectorDotF64(es(0), es(1))),
    Entry("vector_norm_f64", 1, es => VectorNormF64(es(0))),
    Entry("vector_l1_i64", 2, es => VectorL1I64(es(0), es(1))),
    Entry("vector_distsq_i64", 2, es => VectorDistSqI64(es(0), es(1))),
    Entry("rolling_hash31", 1, es => RollingHash31(es(0))),
    Entry("window_hash31", 2, es => WindowHash31(es(0), es(1))),
    Entry("hilbert_d2", 3, hilbertBuilder),
    Entry("damerau_levenshtein", 2, es => DamerauLevenshtein(es(0), es(1))),
    Entry("minhash_bands8", 2, minhashBands8Builder),
    Entry("md5_seeded8", 1, es => Md5Seeded8(es(0))),
    Entry("charhist_entries", 2, charHistEntriesBuilder),
    Entry("aligned_counts", 2, es => AlignedCounts(es(0), es(1))),
    Entry("marginal_counts", 2, es => MarginalCounts(es(0), es(1))),
    Entry("range_bucket_search", 3, RangeBucketSearch.build, variadic = true),
    Entry("kmv_sketch", 2, SketchAggregates.build),
    Entry("mg_topk", 2, SketchAggregates.buildMg))
}
