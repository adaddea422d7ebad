package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants for the embedding-space operators that the DuckDB
  * oracle cannot express (non-vacuity, cross-query consistency, plan
  * shape of the blocked pair join).
  */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("semDedup: non-vacuous on both sides, and the min-id member of every cell survives") {
    val out = Similarity.semDedup.fn(spark, sf).cache()
    assert(out.filter(col("kept") === false).count() > 0,
      "no vector dropped — τ too high for this corpus, the dedup is vacuous")
    assert(out.filter(col("kept") === true).count() > 0,
      "every vector dropped — τ too low, the dedup erases the corpus")
    // canonical-keep is id-ordered: a cell's smallest id has no lower-id
    // cell-mate, so it can never be dropped
    val minPerCell = out.groupBy("cell").agg(min("vec_id").as("vec_id"))
    val droppedMin = out.filter(col("kept") === false)
      .join(minPerCell, Seq("cell", "vec_id"))
    assert(droppedMin.count() === 0, "the min-id member of a cell must always be kept")
  }

  test("maxsim: self-match floor, HOF-kernel agreement, and one row per label") {
    val out = Similarity.maxsimLateInteraction.fn(spark, sf).cache()
    val labels = Tables.embeddings(spark, sf).select("label").distinct().count()
    assert(out.count() === labels, "exactly one score per multi-vector document")
    // recompute the full score through the interpreted HOF dot (aggregate
    // over zip_with) — an independent evaluation path from the codegen
    // kernel, same per-(label, q) max + Exact-sum derivation; bitwise
    // agreement pins the kernel's fold order
    val e = Tables.embeddings(spark, sf)
    val tok = e.withColumn("tr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("label").orderBy("vec_id")))
      .filter(col("tr") <= 8).select("label", "embedding")
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val hofScore = tok.crossJoin(broadcast(q))
      .select(col("label"), col("q_id"),
        expr("""aggregate(zip_with(q_emb, embedding,
                  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""").as("dp"))
      .groupBy("label", "q_id").agg(max("dp").as("best"))
      .groupBy("label").agg(graft.Exact.sumD(col("best")).as("hof_score"))
    val diff = out.join(hofScore, "label")
      .filter(col("maxsim_score") =!= col("hof_score")).count()
    assert(diff === 0L, "codegen kernel and HOF fold must agree bitwise")
    out.unpersist()
    graft.ops.Caches.drain()
  }

  test("semDedup: pair join is cell-blocked (no cartesian / nested-loop join)") {
    val plan = Similarity.semDedup.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "semantic dedup must block on cell, never all-pairs")
    // the pair join itself must key on cell (hash or sort-merge — never a
    // nested loop); the only BNLJs in the tree are the broadcast-tiny
    // centroid assignments (corpus × 8 centroids), which always print as
    // BuildRight Cross joins
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(plan).isDefined,
      "the pairwise cosine join must be keyed on the cell id")
    assert("BroadcastNestedLoopJoin (?!BuildRight, Cross)".r.findFirstIn(plan).isEmpty,
      "any nested-loop join must be the broadcast-tiny centroid assignment")
  }

  test("clusterStats: cells partition the corpus and every cell is populated") {
    val stats = Similarity.clusterStats.fn(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(stats.agg(sum("n_members")).head.getLong(0) === n,
      "cell membership must partition the corpus exactly")
    assert(stats.count() === 8, "all 8 quantizer cells must be populated at this sf")
    assert(stats.filter(col("n_members") <= 0).count() === 0)
  }

  test("semDedup agrees with clusterStats cell assignment cardinality") {
    val byQuery = Similarity.semDedup.fn(spark, sf)
      .groupBy("cell").count().withColumnRenamed("count", "n_sem")
    val byStats = Similarity.clusterStats.fn(spark, sf)
      .select(col("cell"), col("n_members"))
    val bad = byQuery.join(byStats, "cell")
      .filter(col("n_sem") =!= col("n_members"))
    assert(bad.count() === 0, "both queries must see the identical cell assignment")
  }

  test("PQ/ADC: distances lower-bound nothing but order sanely — ADC ranks track exact int8 L2") {
    // structural fidelity of the compressed index: for every query, the
    // ADC top-3 (4 code bytes + LUT lookups) must substantially agree
    // with the exact int8-L2 top-3 (full 64-lane kernel) — the fidelity
    // a PQ deployment measures before trusting the code table. Uniform
    // random embeddings are the HARD case (all pairs near-equidistant,
    // quantization noise ~ inter-point spread): measured overlap is
    // 10/30 on the sf0.01 draw (3/30 on the sf0.001 draw — why this
    // test pins the sf0.01 data). Pin >= 6/30, ~30x the random-chance
    // expectation (top-3 of 499 ≈ 0.18 hits), so a regression to chance
    // fails loudly while data-draw sensitivity does not.
    import graft.functions.VectorExpressions._
    val pqSf = "/root/testdata/sf0.01"
    val out = Similarity.topkPq.fn(spark, pqSf).cache()
    assert(out.count() === 30, "10 queries x top-3")
    // every emitted pair carries both distances; ADC is an estimate of
    // exact (same quantized lanes), so large systematic inflation = bug
    val rows = out.collect()
    assert(rows.forall(_.getLong(2) >= 0L), "ADC distances are integer nonneg")
    // exact int8-L2 ground truth via the same kernel, brute force
    val e = Tables.embeddings(spark, pqSf)
    val dm = e.select(posexplode(col("embedding")).as(Seq("j0", "v")))
      .groupBy((col("j0") + 1).as("j"))
      .agg(greatest(max(abs(col("v").cast("double"))), lit(1e-30)).as("m"))
    val sl = broadcast(dm.agg(
      expr("transform(array_sort(collect_list(struct(j, m))), x -> x.m)").as("sl")))
    val qv = e.crossJoin(sl).select(col("vec_id"),
      expr("""transform(sequence(1, 64),
                qz_j -> CAST(round(CAST(element_at(embedding, qz_j) AS DOUBLE)
                                   * CAST(127 AS DOUBLE)
                                   / element_at(sl, qz_j)) AS BIGINT))""").as("qv")).cache()
    val q = qv.filter(col("vec_id") < 10).toDF("query_id", "qa")
    val c = qv.toDF("neighbor_id", "qb")
    val exactTop = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("d", vector_distsq_i64(col("qa"), col("qb")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id")
    val hits = out.select("query_id", "neighbor_id")
      .intersect(exactTop)
      .count()
    qv.unpersist(); out.unpersist()
    graft.ops.Caches.drain()
    assert(hits >= 6, s"ADC top-3 overlap with exact int8 L2 collapsed to $hits/30")
  }

  test("PQ encode is exact on codebook members: each encodes to itself") {
    // a codebook vector's subvector distance to its own entry is 0, and
    // the (dsq, k) tie-break cannot prefer another entry unless two
    // codebook subvectors are identical (not the case on this data) —
    // so ADC(q, v) for codebook v sums the query's own LUT entries at
    // v's codes; structural exactness of the encode step
    val out = Similarity.topkPq.fn(spark, sf)
    // neighbors that ARE codebook members (vec_id < 16): their adc must
    // equal the sum of the query's subspace distances to their own
    // subvectors == the exact int8 L2 BY SUBSPACE DECOMPOSITION
    val cbPairs = out.filter(col("neighbor_id") < 16)
    val bad = cbPairs.filter(col("adc_distsq") =!= col("exact_distsq"))
    assert(bad.count() === 0,
      "for codebook members ADC must equal exact int8 L2 (zero quantization residual)")
    graft.ops.Caches.drain()
  }
}
