package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The TypedImperativeAggregate KMV sketch must (1) equal the window-rank
  * formulation exactly, (2) be invariant to partitioning — the union-merge
  * is commutative/associative — and (3) actually run as a partial/final
  * ObjectHashAggregate, the property that bounds shuffle traffic to k longs
  * per map-side group at scale.
  */
class SketchAggregatesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = {
    // 3 groups × 400 rows with duplicates (each value appears twice)
    (0 until 1200).map(i => (s"g${i % 3}", (i / 2 * 2654435761L) % 1000000007L))
      .toDF("g", "hv")
  }

  private def windowForm(k: Int) =
    graft.ops.Scale.topKPerGroup(data.distinct(), Seq("g"), col("hv").asc, k)
      .groupBy("g").agg(sort_array(collect_list("hv")).as("sk"))

  test("kmv_sketch equals the window-rank bottom-k, duplicates collapsed") {
    val agg = data.groupBy("g")
      .agg(SketchAggregates.kmv_sketch(col("hv"), 10).as("sk"))
    val expected = windowForm(10)
    assert(agg.join(expected.toDF("g", "sk2"), "g")
      .filter(col("sk") =!= col("sk2")).count() === 0L)
  }

  test("kmv_sketch is partitioning-invariant (merge order cannot matter)") {
    val one = data.repartition(1).groupBy("g")
      .agg(SketchAggregates.kmv_sketch(col("hv"), 10).as("sk")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val many = data.repartition(13).groupBy("g")
      .agg(SketchAggregates.kmv_sketch(col("hv"), 10).as("sk")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(one === many)
  }

  test("kmv_sketch holds fewer than k when the group has fewer distinct values") {
    val tiny = Seq(("a", 5L), ("a", 5L), ("a", 7L)).toDF("g", "hv")
    val r = tiny.groupBy("g")
      .agg(SketchAggregates.kmv_sketch(col("hv"), 10).as("sk"))
      .collect().head.getSeq[Long](1)
    assert(r === Seq(5L, 7L))
  }

  test("kmv_sketch plans as partial+final ObjectHashAggregate (map-side combine)") {
    val plan = data.groupBy("g")
      .agg(SketchAggregates.kmv_sketch(col("hv"), 10).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kmv_sketch"), s"no partial aggregation:\n$plan")
  }

  test("kmv_sketch resolves through the SQL surface") {
    data.createOrReplaceTempView("kmv_input")
    val r = spark.sql(
      "SELECT g, kmv_sketch(hv, 3) AS sk FROM kmv_input GROUP BY g ORDER BY g")
      .collect()
    assert(r.length === 3 && r.forall(_.getSeq[Long](1).size === 3))
  }

  // ---------------------------------------------------------------- mg_topk

  /** Zipf-ish synthetic stream: item i appears ~n/i times. */
  private def zipfStream(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val items = (1 to 40).flatMap(i => Seq.fill(1200 / i)(s"item$i"))
    rnd.shuffle(items)
  }

  test("mg_topk: error bound and no-false-negative guarantee under random merge trees") {
    val k = 9
    for (seed <- Seq(1, 2, 3)) {
      val stream = zipfStream(seed)
      val n = stream.length
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val rnd = new scala.util.Random(seed + 100)
      // random chunking → per-chunk update-only summaries → random-order merges
      val chunks = stream.grouped(1 + rnd.nextInt(97)).toVector
      val agg = SketchAggregates.MgTopKAgg(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.StringType, nullable = true), k)
      val bufs = scala.collection.mutable.ArrayBuffer(chunks.map { ch =>
        val b = agg.createAggregationBuffer()
        ch.foreach { s =>
          agg.update(b, org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        }
        b
      }: _*)
      while (bufs.size > 1) { // merge two random summaries until one remains
        val i = rnd.nextInt(bufs.size)
        val a = bufs.remove(i)
        val j = rnd.nextInt(bufs.size)
        bufs(j) = agg.merge(bufs(j), a)
      }
      val result = bufs.head
      import scala.jdk.CollectionConverters._
      val lb = result.asScala.toMap
      assert(lb.size <= k)
      // PODS'12 bound: f(x) - n/(k+1) <= lb(x) <= f(x), for ALL x
      lb.foreach { case (item, c) =>
        assert(c <= truth(item), s"lb over-counts $item: $c > ${truth(item)}")
      }
      truth.foreach { case (item, f) =>
        val c = lb.getOrElse(item, 0L)
        assert(f - c <= n.toLong / (k + 1),
          s"seed=$seed: error bound broken for $item: f=$f lb=$c n/(k+1)=${n / (k + 1)}")
        if (f > n.toLong / (k + 1))
          assert(lb.contains(item), s"seed=$seed: heavy hitter $item (f=$f) missing")
      }
    }
  }

  test("mg_topk through DataFrame surface: candidates cover exact heavy hitters at any partitioning") {
    val k = 9
    val stream = zipfStream(42)
    val n = stream.length.toLong
    val df = stream.toDF("item")
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val heavy = truth.filter { case (_, f) => f > n / (k + 1) }.keySet
    for (parts <- Seq(1, 7, 31)) {
      val cand = df.repartition(parts)
        .agg(SketchAggregates.mg_topk(col("item"), k).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item"))
        .as[String].collect().toSet
      assert(heavy.subsetOf(cand),
        s"parts=$parts: missing heavy hitters ${heavy -- cand}")
      assert(cand.size <= k)
    }
  }

  test("mg_topk plans as partial+final ObjectHashAggregate and rejects bad arguments") {
    val df = zipfStream(7).toDF("item")
    val plan = df.agg(SketchAggregates.mg_topk(col("item"), 5).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_mg_topk"), s"no partial aggregation:\n$plan")
    // analysis-time rejection: non-string child
    val ex = intercept[Exception] {
      Seq(1L, 2L).toDF("v").agg(expr("mg_topk(v, 3)")).collect()
    }
    assert(ex.getMessage.contains("string"), ex.getMessage)
    // non-literal k
    val ex2 = intercept[Exception] {
      df.agg(expr("mg_topk(item, length(item))")).collect()
    }
    assert(ex2.getMessage.toLowerCase.contains("literal"), ex2.getMessage)
  }
}
