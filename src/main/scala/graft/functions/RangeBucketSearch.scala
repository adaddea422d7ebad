package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}

/** Binary-search range-bucket assignment — the sub-linear evaluation of
  * [[graft.ops.Scale.rangeBucket]]'s frozen-boundary bucketing.
  *
  * Semantics: the bucket is the COUNT of boundary tuples `b` with
  * `b ≤ row` under the lexicographic sort order (per-key asc/desc with
  * Spark's default null placement: asc → nulls first, desc → nulls
  * last) — exactly the Σ `when(bᵢ ≤ row, 1)` chain it replaces, but
  * found as a lower-bound binary search over the sorted boundary array:
  * `⌈log₂(parts)⌉` tuple comparisons per row instead of `parts − 1`
  * predicate chains. At the ER consumers' parts = 8 the two are
  * equivalent; at a web-scale vocabulary's parts ~10³–10⁴ the chain is
  * thousands of comparison terms per row and a generated method large
  * enough to abandon whole-stage codegen — this expression's generated
  * code is CONSTANT-size in `parts` (the boundary table rides along as
  * one reference object), so the plan stays codegen'd at any fan-out.
  *
  * Replan-safety is inherited, not re-earned: the boundaries arrive as a
  * FOLDABLE literal (frozen at construction by `Scale.rangeBucket`), so
  * the expression is a pure function of the row — any number of
  * independently re-planned consuming branches agree by construction.
  *
  * The NaN caveat of `Scale.rangeBucket` applies unchanged: SQL
  * comparisons and this ordering both come from the same per-type
  * interpreted ordering, but a NaN row under the OLD chain compared
  * `false` everywhere (bucket 0) while SortOrder ranks NaN greatest —
  * canonicalize NaNs out before bucketing floating-point keys. The
  * production keys are strings and longs.
  *
  * Exposure follows the repo convention (`Column(expr)` is private[sql]
  * in Spark 4): registered as `range_bucket_search(desc_flags,
  * boundaries, key…)` where the first two arguments MUST be foldable —
  * the builder evaluates them once and embeds the data in the
  * expression, so neither array survives into the per-row plan.
  */
case class RangeBucketSearch(
    keys: Seq[Expression],
    descFlags: IndexedSeq[Boolean],
    boundaries: IndexedSeq[IndexedSeq[Any]]) extends Expression {

  require(keys.nonEmpty && descFlags.length == keys.length,
    "range_bucket_search: one desc flag per key")
  require(boundaries.forall(_.length == keys.length),
    "range_bucket_search: each boundary tuple must match the key arity")

  override def children: Seq[Expression] = keys
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "range_bucket_search"

  @transient private lazy val fieldOrd: Array[Ordering[Any]] =
    keys.map(k => TypeUtils.getInterpretedOrdering(k.dataType)).toArray

  @transient private lazy val bnd: Array[Array[Any]] =
    boundaries.map(_.toArray).toArray

  /** boundary `b` vs `row` under the lexicographic sort order: negative
    * when the boundary strictly precedes the row. Null placement matches
    * SortOrder's defaults (asc nulls first, desc nulls last), which is
    * also what the replaced literal chain implemented. */
  private def cmp(b: Array[Any], row: Array[Any]): Int = {
    var i = 0
    while (i < b.length) {
      val bv = b(i)
      val rv = row(i)
      val c =
        if (bv == null && rv == null) 0
        else if (bv == null) { if (descFlags(i)) 1 else -1 }
        else if (rv == null) { if (descFlags(i)) -1 else 1 }
        else {
          val n = fieldOrd(i).compare(bv, rv)
          if (descFlags(i)) -n else n
        }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Bucket of a key tuple = |{b : b ≤ row}| by lower-bound search.
    * Public so the generated code (and the spec) can call it directly. */
  def search(row: Array[Any]): Int =
    RangeBucketSearch.lowerBound(bnd.length, m => cmp(bnd(m), row) <= 0)

  override def eval(input: InternalRow): Any = {
    val row = new Array[Any](keys.length)
    var i = 0
    while (i < row.length) { row(i) = keys(i).eval(input); i += 1 }
    search(row)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rangeBucketSearch", this,
      classOf[RangeBucketSearch].getName)
    val evals = keys.map(_.genCode(ctx))
    val arr = ctx.freshName("rbsRow")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"$arr[$i] = ${e.isNull} ? null : (Object) ${e.value};"
    }.mkString("\n")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(
      code = code"""
        $childCode
        Object[] $arr = new Object[${keys.length}];
        $fill
        final int ${ev.value} = $ref.search($arr);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(keys = newChildren)
}

object RangeBucketSearch {

  /** First index in [0, n) where `le` is false — `le` must be a
    * true-prefix predicate (monotone), which `boundary ≤ row` over the
    * SORTED boundary array is. Factored with the predicate injected so
    * the spec can count probes and pin the ⌈log₂(n+1)⌉ bound without a
    * hot-path counter. */
  def lowerBound(n: Int, le: Int => Boolean): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (le(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Registry builder: `range_bucket_search(desc_flags, boundaries,
    * key…)`. The first two arguments must be foldable; they are
    * evaluated ONCE here and frozen into the expression — the per-row
    * plan carries only the key children plus one reference object. */
  private[functions] def build(es: Seq[Expression]): Expression = {
    val descE = es.head
    val bndE = es(1)
    val keys = es.drop(2)
    require(descE.foldable && bndE.foldable,
      "range_bucket_search: desc_flags and boundaries must be literals")
    require(descE.dataType match {
      case ArrayType(org.apache.spark.sql.types.BooleanType, _) => true
      case _ => false
    }, s"range_bucket_search: desc_flags must be ARRAY<BOOLEAN>, got ${descE.dataType}")
    val desc = descE.eval().asInstanceOf[ArrayData].toBooleanArray().toIndexedSeq
    require(desc.length == keys.length,
      s"range_bucket_search: ${desc.length} desc flags for ${keys.length} keys")
    // pattern-match, not cast: a non-array or non-struct-element boundary
    // literal must fail with this function's message convention, not a
    // raw ClassCastException (ADVICE r11)
    val st = bndE.dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"range_bucket_search: boundaries must be ARRAY<STRUCT<...>>, got $other")
    }
    require(st.length == keys.length,
      s"range_bucket_search: boundary arity ${st.length} != key arity ${keys.length}")
    keys.zip(st.fields).zipWithIndex.foreach { case ((k, f), i) =>
      require(k.dataType == f.dataType,
        s"range_bucket_search: key $i is ${k.dataType} but boundary field is " +
          s"${f.dataType} — cast the boundary literal to the key's exact type")
    }
    val arr = bndE.eval().asInstanceOf[ArrayData]
    val boundaries = IndexedSeq.tabulate(arr.numElements()) { i =>
      val r = arr.getStruct(i, st.length)
      IndexedSeq.tabulate(st.length) { j =>
        if (r.isNullAt(j)) null else r.get(j, st(j).dataType)
      }
    }
    RangeBucketSearch(keys, desc, boundaries)
  }
}
