package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

import graft.functions.FunctionCatalog.IntParam

/** Custom AGGREGATE functions — the §2.11 tier between built-in aggregates
  * and mapPartitions: a `TypedImperativeAggregate` participates in Spark's
  * partial/final aggregation exactly like a built-in (map-side combine,
  * ObjectHashAggregate, codegen'd surroundings), so a sketch built with it
  * ships k values per partition per group instead of the raw stream.
  *
  * [[KmvSketchAgg]] is the KMV (bottom-k distinct hashes) sketch as ONE
  * aggregate: `kmv_sketch(hash_col, k)` → the k smallest DISTINCT hash
  * values, ascending. The merge is set-union-then-truncate — commutative,
  * associative, and idempotent per value — so the result is IDENTICAL under
  * any partitioning or merge order: the property that makes it
  * oracle-verifiable where probabilistic accumulators are not, and the
  * reason a 1000-executor rollup can combine per-shard sketches without a
  * second scan. The window-based form (ops.Scale.topKPerGroup, used by
  * q_sketch_kmv/q_kmv_jaccard) computes the same thing via shuffle+rank;
  * this form keeps the bound INSIDE the aggregation buffer — at 100 TB the
  * shuffle carries k longs per (partition × group) instead of the full
  * per-group hash stream ahead of the rank.
  */
object SketchAggregates {

  /** Bottom-k distinct LongType values as a sorted array. */
  case class KmvSketchAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

    require(k >= 1, s"kmv_sketch k must be >= 1, got $k")

    override def prettyName: String = "kmv_sketch"
    override def children: Seq[Expression] = child :: Nil
    // analysis-time typing: integral children are accepted (INT/SHORT/BYTE
    // widen losslessly in update()); anything else is a readable analysis
    // error — not a ClassCastException mid-execution
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch requires an integral hash column, got ${other.simpleString}")
    }
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    override def update(
        buf: java.util.TreeSet[java.lang.Long],
        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Number => n.longValue() // int/short/byte widen
      })
      buf
    }

    override def merge(
        buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = other.iterator()
      while (it.hasNext) add(buf, it.next())
      buf
    }

    private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
      if (buf.size < k) { buf.add(v); () }
      else if (v < buf.last) {
        if (buf.add(v)) buf.remove(buf.last)
      }
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val arr = new Array[Long](buf.size)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      new GenericArrayData(arr)
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  /** Misra-Gries heavy-hitters summary as ONE aggregate:
    * `mg_topk(string_col, k)` → array<struct<item, lb>> of at most k
    * candidates with their lower-bound counts, sorted by item.
    *
    * Bounds (Misra-Gries '82; merge rule + error bound from Agarwal et
    * al., "Mergeable Summaries", PODS '12): after any sequence of
    * updates and merges over a stream of n items, every tracked item's
    * counter satisfies f(x) − n/(k+1) ≤ lb(x) ≤ f(x), and any item with
    * true frequency f(x) > n/(k+1) is GUARANTEED present. The summary
    * itself is order-dependent (different partitionings track different
    * light items), which is why the query layer treats it as a CANDIDATE
    * generator and re-counts candidates exactly — the no-false-negative
    * guarantee makes candidate-exact-count ≡ the full GROUP BY for the
    * heavy tail, while the aggregation buffer that crosses the shuffle
    * holds ≤ k entries per partition instead of one row per distinct
    * value. That is the 100 TB story: heavy hitters over a 10⁹-type
    * column cost k·#partitions shuffle bytes + one broadcast semi-join,
    * never a full-cardinality exchange.
    *
    * Merge: pointwise count addition, then if more than k entries
    * survive, subtract the (k+1)-th largest count from all and drop
    * non-positives — the PODS'12 rule that preserves the n/(k+1) bound
    * under arbitrary merge trees (MgSketchSpec checks it empirically
    * under random chunkings and merge orders).
    */
  case class MgTopKAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

    require(k >= 1, s"mg_topk k must be >= 1, got $k")

    override def prettyName: String = "mg_topk"
    override def children: Seq[Expression] = child :: Nil
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"mg_topk requires a string column, got ${other.simpleString}")
    }
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("lb", LongType, nullable = false))),
      containsNull = false)

    override def createAggregationBuffer(): java.util.HashMap[String, Long] =
      new java.util.HashMap[String, Long]()

    override def update(
        buf: java.util.HashMap[String, Long],
        input: InternalRow): java.util.HashMap[String, Long] = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.toString
        // a tracked entry never holds 0 (decrementAll removes at <=1),
        // so getOrDefault's 0 sentinel means "absent"
        val cur = buf.getOrDefault(s, 0L)
        if (cur != 0L) buf.put(s, cur + 1L)
        else if (buf.size < k) buf.put(s, 1L)
        else decrementAll(buf) // classic MG: full + unseen item → all counters down 1
      }
      buf
    }

    private def decrementAll(buf: java.util.HashMap[String, Long]): Unit = {
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }

    override def merge(
        buf: java.util.HashMap[String, Long],
        other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        buf.put(e.getKey, buf.getOrDefault(e.getKey, 0L) + e.getValue)
      }
      if (buf.size > k) {
        // (k+1)-th largest count, subtracted from everyone (PODS'12 merge)
        val counts = new Array[Long](buf.size)
        var i = 0
        val vit = buf.values().iterator()
        while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(counts)
        val pivot = counts(buf.size - k - 1) // descending rank k+1
        val eit = buf.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          if (e.getValue <= pivot) eit.remove() else e.setValue(e.getValue - pivot)
        }
      }
      buf
    }

    override def eval(buf: java.util.HashMap[String, Long]): Any = {
      val keys = new Array[String](buf.size)
      buf.keySet().toArray(keys)
      java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
      val rows = keys.map { key =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(key),
          buf.getOrDefault(key, 0L))
      }
      new GenericArrayData(rows.asInstanceOf[Array[Any]])
    }

    override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
      var bytes = 4
      val it0 = buf.entrySet().iterator()
      while (it0.hasNext) {
        bytes += 4 + it0.next().getKey.getBytes("UTF-8").length + 8
      }
      val bb = ByteBuffer.allocate(bytes)
      bb.putInt(buf.size)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val kb = e.getKey.getBytes("UTF-8")
        bb.putInt(kb.length)
        bb.put(kb)
        bb.putLong(e.getValue)
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val kb = new Array[Byte](len)
        bb.get(kb)
        buf.put(new String(kb, "UTF-8"), bb.getLong)
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MgTopKAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MgTopKAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  /** SQL builders: the second argument is the literal `k`. */
  private[functions] def buildMg(es: Seq[Expression]): Expression =
    MgTopKAgg(es.head, FunctionCatalog.intLiteral("mg_topk", IntParam("k", 1), es(1)))

  private[functions] def build(es: Seq[Expression]): Expression =
    KmvSketchAgg(es.head, FunctionCatalog.intLiteral("kmv_sketch", IntParam("k", 1), es(1)))

  /** Column entry point (resolves through GraftExtensions). */
  def kmv_sketch(c: Column, k: Int): Column = call_function("kmv_sketch", c, lit(k))

  /** Column entry point (resolves through GraftExtensions). */
  def mg_topk(c: Column, k: Int): Column = call_function("mg_topk", c, lit(k))
}
