package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants + plan guards for the curation operators — the
  * properties the DuckDB oracle cannot express (cross-query consistency,
  * sketch guarantees, build-side choices).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("nbPredictOf: crafted separable corpus — 100% holdout accuracy, deterministic ties") {
    // three classes with disjoint signature tokens; the shared filler
    // token carries no signal. Train = doc_id % 3 != 0, so ids 0/3/6…
    // are the holdout the model never saw.
    val rows = for {
      (label, word) <- Seq(("ca", "alpha"), ("cb", "beta"), ("cc", "gamma"))
      i <- 0 until 30
    } yield (Seq("ca", "cb", "cc").indexOf(label) * 100L + i,
      label, s"$word $word filler $word")
    val labeled = rows.toDF("doc_id", "label", "text")
    val out = Curation.nbPredictOf(labeled).cache()
    val test = rows.count(_._1 % 3 == 0)
    assert(out.count() === test, "one prediction per holdout doc")
    assert(out.filter($"correct" === 0).count() === 0,
      "signature tokens are fully separable — holdout accuracy must be 100%")
    // tie determinism: a corpus where every class has IDENTICAL text —
    // all scores equal up to priors; equal priors → smallest label wins
    val tied = (for {
      label <- Seq("x1", "x2"); i <- 0 until 9
    } yield (Seq("x1", "x2").indexOf(label) * 50L + i, label, "same same"))
      .toDF("doc_id", "label", "text")
    val tiedOut = Curation.nbPredictOf(tied)
    assert(tiedOut.select("pred_label").distinct().as[String].collect().toSeq
      === Seq("x1"), "equal scores must break to the smallest label")
    out.unpersist()
  }

  test("hdr quantile sketch: bucket math error bound, monotonicity, mergeability") {
    // Evaluate the SHARED SQL bucket expressions (the same strings both
    // engines run) over every cents value up to 200k: index monotone
    // nondecreasing, lower bound ≤ value, relative error ≤ 1/8
    val grid = spark.range(1, 200001).selectExpr("id AS cents")
      .selectExpr("cents", s"${Curation.hdrIndexSql} AS idx")
      .selectExpr("cents", "idx",
        s"${Curation.hdrLowerSql.replace("eidx", "idx")} AS lb")
    val bad = grid.filter("lb > cents OR (cents - lb) * 8 > cents").count()
    assert(bad === 0, "lower bound must satisfy lb <= c and (c - lb)/c <= 1/8")
    val nonMono = grid
      .selectExpr("cents", "idx", "lag(idx) OVER (ORDER BY cents) AS pidx")
      .filter("pidx IS NOT NULL AND pidx > idx").count()
    assert(nonMono === 0, "bucket index must be monotone in the value")
    // mergeability: sketch(A ∪ B) == per-bucket sum of sketch(A), sketch(B)
    val a = spark.range(1, 5000).selectExpr("id * 7 % 90000 + 1 AS cents")
    val b = spark.range(1, 3000).selectExpr("id * 11 % 70000 + 1 AS cents")
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr(s"${Curation.hdrIndexSql} AS idx")
        .groupBy("idx").agg(count(lit(1)).as("cnt"))
    val whole = sketch(a.union(b))
    val merged = sketch(a).union(sketch(b))
      .groupBy("idx").agg(sum("cnt").as("cnt"))
    assert(whole.except(merged).count() === 0 && merged.except(whole).count() === 0,
      "bucket-count sketches must merge by addition")
  }

  test("retrievalMrr: bounds, self-presence, and a crafted unique probe ranks first") {
    val out = Curation.retrievalMrr.fn(spark, sf).cache()
    val probes = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).count()
    assert(out.count() === probes, "one row per probe document")
    // rank ∈ [1, n_cands]; rr consistent with rank; candidates include self
    assert(out.filter(col("rnk") < 1 || col("rnk") > col("n_cands")).count() === 0L)
    assert(out.filter(col("rr_ppm") =!= expr("1000000L div rnk")).count() === 0L)
    out.unpersist()
    // a probe whose prefix words exist NOWHERE else must rank exactly 1:
    // score > 0 only for the probe itself, so the strictly-better count
    // is 0 — pins the rank arithmetic end-to-end on a controlled corpus
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft-mrr").toString
      val docsDf = Seq(
        (0L, "zqx wvu ytr plk mnb zqx filler tail words here", "en", "s", 10L),
        (1L, "common words appear in every other document body", "en", "s", 10L),
        (2L, "common words appear in every other document tail", "en", "s", 10L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
      docsDf.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = Curation.retrievalMrr.fn(spark, dir)
        .filter(col("q_id") === 0L).head()
      assert(r.getLong(1) === 1L, "unique-prefix probe must be rank 1")
      assert(r.getLong(2) === 1000000L)
    }
    graft.ops.Caches.drain()
  }

  test("shuffleShard: contiguous per-shard positions, full coverage, replayable") {
    val a = Curation.shuffleShard.fn(spark, sf).cache()
    assert(a.count() === Tables.documents(spark, sf).count(),
      "every document gets exactly one (shard, pos)")
    // positions within a shard are exactly 1..n (min/max/sum pin it)
    val bad = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"),
        max("pos").as("mx"), sum("pos").as("sm"))
      .filter(col("mn") =!= 1L || col("mx") =!= col("n")
        || col("sm") =!= expr("n * (n + 1) div 2"))
    assert(bad.count() === 0L)
    // the order is a pure function of content: a re-evaluation bit-matches
    val b = Curation.shuffleShard.fn(spark, sf)
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
    a.unpersist()
    graft.ops.Caches.drain()
  }

  test("packChunks: every doc's chunk offsets cover exactly its tokens, contiguously") {
    val chunks = Curation.packChunks.fn(spark, sf).cache()
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    // coverage: per-doc sum of (off_end - off_begin) == token count
    val covered = chunks.groupBy("doc_id")
      .agg(sum(col("off_end") - col("off_begin")).as("covered"),
        count(lit(1)).as("n_chunks"),
        (max("chunk_id") - min("chunk_id") + 1).as("span"))
    val bad = covered.join(nTok, "doc_id")
      .filter(col("covered") =!= col("n_tok") || col("n_chunks") =!= col("span"))
    assert(bad.count() === 0, "chunk offsets must tile each doc's tokens with contiguous chunk ids")
    // offsets stay inside the context window
    assert(chunks.filter(col("off_begin") < 0 || col("off_end") > 128 ||
      col("off_begin") >= col("off_end")).count() === 0)
  }

  test("packChunks: adjacent docs in a shard abut inside the packed stream") {
    // doc i's global end == doc i+1's global start, per source: the packing
    // really is a concatenation, not per-doc restarts
    val chunks = Curation.packChunks.fn(spark, sf)
    val ends = chunks.groupBy("source", "doc_id")
      .agg(max(col("chunk_id") * 128 + col("off_end")).as("g_end"),
        min(col("chunk_id") * 128 + col("off_begin")).as("g_begin"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("doc_id")
    val gaps = ends.withColumn("prev_end", lag("g_end", 1).over(w))
      .filter(col("prev_end").isNotNull && col("g_begin") =!= col("prev_end"))
    assert(gaps.count() === 0, "packed stream must be gap-free within each source shard")
  }

  test("sketchBloom: no false negatives, non-vacuously (positive controls present)") {
    val out = Curation.sketchBloom.fn(spark, sf).cache()
    assert(out.filter(col("exact_dup") === 1 && col("bloom_candidate") === 0).count() === 0,
      "a bloom filter must never reject a true member")
    // the probe batch must actually CONTAIN members, or the assertion above
    // tests nothing (the testdata corpus has zero exact duplicates, so the
    // query plants doc_id%4==3 probes inside the corpus as controls)
    assert(out.filter(col("exact_dup") === 1).count() > 0,
      "no positive controls in the probe batch — membership check is vacuous")
    assert(out.filter(col("exact_dup") === 0).count() > 0,
      "no non-members in the probe batch — false-positive rate unmeasured")
  }

  test("production sketches track the exact diagnostics: HLL++ and approx_percentile") {
    // the scaladocs point to approx_count_distinct / approx_percentile as
    // the at-scale paths (not oracle-matchable); pin that they agree with
    // the exact computations on real data within their error bounds
    val grams = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val exact = grams.distinct().count()
    val approx = grams.agg(approx_count_distinct("tok", 0.02).as("a"))
      .head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"HLL++ estimate $approx vs exact $exact")

    val o = Tables.orders(spark, sf)
    val exactQs = graft.ops.Quantiles.exactQuantiles(o, "o_totalprice", Seq(0.25, 0.5, 0.75))
    val approxQs = o.stat.approxQuantile("o_totalprice", Array(0.25, 0.5, 0.75), 0.01)
    exactQs.zip(approxQs).foreach { case (e, a) =>
      assert(math.abs(a - e) / e < 0.05, s"approx quantile $a vs exact $e") }
  }

  test("sketchHll: estimate lands within the expected error band of the true count") {
    val row = Curation.sketchHll.fn(spark, sf).head()
    val est = row.getAs[Long]("est_distinct").toDouble
    val truth = row.getAs[Long]("true_distinct").toDouble
    // m=64 → ~13% standard error; allow 4 sigma
    assert(truth > 0)
    assert(est / truth > 0.5 && est / truth < 2.0,
      s"HLL estimate $est too far from true $truth")
  }

  test("decontaminate: train side only, and the eval-gram set is the broadcast side") {
    val out = Curation.decontaminate.fn(spark, sf)
    assert(out.filter(col("doc_id") % 20 === 0).count() === 0,
      "eval docs must not appear as contaminated TRAIN docs")
    val plan = out.queryExecution.executedPlan.toString
    // the eval-gram join must broadcast: the corpus-side shingle stream
    // (a shared InMemoryRelation since the dedup-family memoization; its
    // df-cap anti-join shape is pinned in PlanSpec via shingledFresh)
    // never shuffles for the eval join
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shingle stream must not shuffle for the eval join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast for the eval-gram join:\n$plan")
  }

  test("piiRedact: redaction removes every pattern it counts") {
    val out = Curation.piiRedact.fn(spark, sf).cache()
    assert(out.filter(col("n_emails") < 1 || col("n_phones") < 1).count() === 0,
      "synthesized text must contain the PII the scrub is exercised on")
    val leftover = out.filter(
      col("redacted").rlike("[a-z0-9.]+@[a-z0-9.]+") ||
      col("redacted").rlike("[0-9]{2}-[0-9]{3}-[0-9]{4}"))
    assert(leftover.count() === 0, "redacted text still matches a PII pattern")
  }

  test("sampleWeighted: rate_q=4 sources keep every document") {
    val kept = Curation.sampleWeighted.fn(spark, sf).cache()
    assert(kept.filter(col("rate_q") < 1 || col("rate_q") > 4).count() === 0)
    val all4 = Tables.documents(spark, sf)
      .filter(expr("CAST(substring(source, 4) AS INT) % 4 + 1") === 4)
    assert(kept.filter(col("rate_q") === 4).count() === all4.count(),
      "the 'zz' threshold must be a keep-all")
  }

  test("sourceOverlap: non-vacuous, canonicalized, and includes cross-source pairs") {
    val out = Curation.sourceOverlap.fn(spark, sf).cache()
    assert(out.count() > 0, "overlap matrix is empty — the diagnostic is vacuous")
    assert(out.filter(col("src_a") > col("src_b")).count() === 0,
      "pairs must be least/greatest-canonicalized")
    assert(out.filter(col("src_a") =!= col("src_b")).count() > 0,
      "no cross-source near-dups found — the audit's whole point")
  }

  test("histogramEquidepth: buckets partition the table in value order") {
    val h = Curation.histogramEquidepth.fn(spark, sf).cache()
    val total = Tables.orders(spark, sf).count()
    assert(h.agg(sum("n")).head.getLong(0) === total)
    assert(h.count() === 10)
    val rows = h.orderBy("bucket").collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"),
        s"bucket ${a.getLong(0)} overlaps bucket ${b.getLong(0)}")
    }
  }

  test("tfidfTopk: at most 3 distinct tokens per doc, rank-ordered by score") {
    val out = Curation.tfidfTopk.fn(spark, sf).cache()
    assert(out.filter(col("rnk") > 3).count() === 0)
    val perDoc = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), countDistinct("token").as("nd"))
    assert(perDoc.filter(col("n") > 3 || col("n") =!= col("nd")).count() === 0)
  }

  test("bpeMerges: 5 ranked merges with non-increasing counts over single-char seeds") {
    val out = Curation.bpeMerges.fn(spark, sf).orderBy("merge_rank").collect()
    assert(out.length === 5)
    // any pair at step i+1 either existed at step i (count can only have
    // shrunk) or was created by the merge (count bounded by the merged
    // pair's) — so the winning count is non-increasing
    val counts = out.map(_.getLong(3))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
      s"merge counts must be non-increasing: ${counts.mkString(",")}")
    // early merges operate on raw characters; merged symbols grow later
    assert(out.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
    assert(out.head.getString(1).length === 1 && out.head.getString(2).length === 1)
  }

  test("qualityAudit: reports both passing and failing constraints, metrics in [0,1]") {
    val out = Curation.qualityAudit.fn(spark, sf).cache()
    assert(out.count() === 6)
    assert(out.filter(col("passed") === true).count() > 0,
      "an audit where everything fails means the constraints are miswired")
    assert(out.filter(col("passed") === false).count() > 0,
      "an audit where everything passes tests nothing — min_len_coverage is tuned to fail here")
    assert(out.filter(col("metric") < 0 || col("metric") > 1).count() === 0)
    // the single-scan claim: no exchange of data rows, only the agg tuple
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), "the audit must not join row data")
  }

  test("contentChunks: chunks tile each doc exactly and boundaries are insertion-shift stable") {
    // tiling: chunk [start, start+len) intervals cover 1..n contiguously
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(50)
    val chunks = Curation.contentChunks(base).cache()
    val n = base.select(col("doc_id"), length(col("text")).cast("long").as("n"))
    val bad = chunks.groupBy("doc_id")
      .agg(sum("chunk_len").as("covered"), count(lit(1)).as("k"), max("chunk_idx").as("mx"))
      .join(n, "doc_id")
      .filter(col("covered") =!= col("n") || col("k") =!= col("mx"))
    assert(bad.count() === 0, "chunks must tile the document exactly")
    // THE CDC property: prepend an edit, and every chunk after the first
    // boundary keeps its hash — only the chunk(s) touching the edit
    // change. A fixed-width chunker loses every hash after the edit.
    val doc = Tables.documents(spark, sf)
      .filter(col("doc_id") === 7).select("text").head.getString(0)
    val pair = Seq((1L, doc), (2L, "EDITED PREFIX " + doc)).toDF("doc_id", "text")
    val ch = Curation.contentChunks(pair)
      .select("doc_id", "chunk_hash").collect()
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getString(1)).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getString(1)).toSet
    val kept = (h1 intersect h2).size
    chunks.unpersist()
    // all of doc 1's chunks except (at most) the first survive the edit
    assert(kept >= h1.size - 1,
      s"shift stability broken: only $kept of ${h1.size} chunk hashes survived a prefix edit")
    assert(h1.size >= 3, "doc 7 must split into enough chunks for the property to be non-vacuous")
  }

  test("importanceHashgram: raw docs only, contiguous ranks, non-degenerate ratios") {
    val out = Curation.importanceHashgram.fn(spark, sf).cache()
    try {
      val rows = out.orderBy("rnk").collect()
      assert(rows.length > 50, "top-k selection must be well-populated")
      // only RAW (non-target) docs are resampled
      val tgtDocs = Tables.documents(spark, sf)
        .filter(col("source").isin("src0", "src1")).select("doc_id")
      assert(out.join(tgtDocs, "doc_id").count() === 0,
        "target-domain docs must never appear in the resampled output")
      // ranks are 1..n with scores non-increasing (deterministic tie-break)
      assert(rows.map(_.getLong(3)).toSeq === (1L to rows.length))
      val scores = rows.map(_.getLong(1)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "scores must be non-increasing in rank")
      // non-degenerate: the head is genuinely target-enriched (ratio > 1.0
      // in millionths) and the scores are not all one value
      assert(scores.head > 1000000L, s"head score ${scores.head} must exceed neutral 1e6")
      assert(scores.distinct.size > 10, "score distribution must not collapse")
    } finally { out.unpersist(); () }
  }

  test("splitLeakageSafe: no near-dup pair straddles a split boundary") {
    // reconstruct the per-doc assignment exactly as the query derives it
    // (cluster-id hash), then check it against the ACTUAL near-dup pair
    // list: every J>=0.1 pair must land in one split. The oracle hash
    // pins engine equality; this pins the leakage property itself.
    val comp = graft.queries.TextDedup.dedupComponents.fn(spark, sf)
    val perDoc = Tables.documents(spark, sf).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
      .withColumn("b", substring(md5(col("cluster").cast("string")), 1, 2))
      .withColumn("split",
        when(col("b") < "e6", "train").when(col("b") < "f3", "val").otherwise("test"))
      .select("doc_id", "split")
    val pairs = graft.queries.TextDedup.dedupJaccard.fn(spark, sf).select("a_id", "b_id")
    assert(pairs.count() > 0, "near-dup pair list must be non-empty or the property is vacuous")
    val straddlers = pairs
      .join(perDoc.toDF("a_id", "a_split"), "a_id")
      .join(perDoc.toDF("b_id", "b_split"), "b_id")
      .filter(col("a_split") =!= col("b_split"))
    assert(straddlers.count() === 0, "a near-dup pair crossed a split boundary")
    // and the query's census agrees with this INLINE reconstruction —
    // the split policy constants here are deliberately written out
    // long-hand (not via Curation.splitCol), so a drift in the shared
    // helper's boundaries fails this test rather than moving both sides
    val census = Curation.splitLeakageSafe.fn(spark, sf)
      .select("split", "n_docs", "n_clusters").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val mine = perDoc
      .join(comp, Seq("doc_id"), "left")
      .select(col("split"), coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
      .groupBy("split")
      .agg(count(lit(1)).as("nd"), countDistinct(col("cluster")).as("nc"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(census === mine)
    graft.ops.Caches.drain()
  }

  test("sketchHdrGrouped: the merged '__all__' rollup equals the single-tenant sketch") {
    // the mergeability contract at the query surface: summing per-shard
    // bucket tables and estimating must give exactly what the ungrouped
    // sketch (one global bucket table) estimates over the same rows
    val rows = Curation.sketchHdrGrouped.fn(spark, sf)
      .select("shard", "pct", "est_cents").as[(String, Long, Long)].collect()
    val grouped = rows.collect { case ("__all__", p, e) => p -> e }.toMap
    val single = Curation.sketchHdrQuantile.fn(spark, sf)
      .select("pct", "est_cents").as[(Long, Long)].collect().toMap
    assert(grouped === single,
      s"merged rollup drifted from the direct sketch: $grouped vs $single")
    assert(rows.collect { case (s, _, _) if s != "__all__" => s }.distinct.length === 3,
      "lineitem has three return flags — three tenant groups expected")
    graft.ops.Caches.drain()
  }

  test("nbCalibrationOf: separable corpus is confident-and-right; tied corpus is margin-0 at coin-flip accuracy") {
    // disjoint signature tokens → every holdout doc classified right
    // with a LARGE margin: all occupied buckets must be 100% accurate
    // and bucket 0 (margin < 1) must be empty
    val rows = for {
      (label, word) <- Seq(("ca", "alpha"), ("cb", "beta"), ("cc", "gamma"))
      i <- 0 until 30
    } yield (Seq("ca", "cb", "cc").indexOf(label) * 100L + i,
      label, s"$word $word filler $word")
    val sep = Curation.nbCalibrationOf(rows.toDF("doc_id", "label", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sep.nonEmpty && sep.forall { case (_, n, c, acc) => n == c && acc == 1000000L },
      s"separable corpus must be perfectly accurate in every bucket: ${sep.toSeq}")
    assert(!sep.exists(_._1 == 0L), "signature margins must clear bucket 0")
    assert(sep.map(_._2).sum === rows.count(_._1 % 3 == 0), "every holdout doc bucketed once")
    // identical text everywhere → all scores tie → margin 0, bucket 0
    // only, accuracy = the smallest label's share of the holdout
    val tied = (for {
      label <- Seq("x1", "x2"); i <- 0 until 9
    } yield (Seq("x1", "x2").indexOf(label) * 50L + i, label, "same same"))
      .toDF("doc_id", "label", "text")
    val t = Curation.nbCalibrationOf(tied)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(t.toSeq === Seq((0L, 6L, 500000L, 0L, 0L)),
      s"tied corpus must collapse to one margin-0 bucket at 50%: ${t.toSeq}")
  }

  test("isqrtExpr: exact integer sqrt across word sizes and near-2^52 boundaries") {
    // the ±1 correction must land w² ≤ n < (w+1)² even where the
    // double conversion or sqrt rounding crosses an integer boundary
    val ns = (0L to 120L) ++
      Seq(1L << 31, (1L << 31) - 1, (1L << 31) + 1).map(x => x * x) ++
      Seq((1L << 26) - 1, 1L << 26, (1L << 26) + 1).map(x => x * x - 1) ++
      Seq((1L << 52) - 1, 1L << 52, (1L << 52) + 1, 4503599560980121L)
    val out = ns.toDF("n_tok").withColumn("w", Curation.isqrtExpr("n_tok"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, w) =>
      assert(w * w <= n && n < (w + 1) * (w + 1), s"isqrt($n) = $w out of bounds")
    }
  }

  test("temperatureApportion: exact budget, Hamilton rounding, deterministic ties") {
    // perfectly divisible: squares 100/400/2500 → weights 10/20/50 of 80
    val sq = Seq(("a", 100L), ("b", 400L), ("c", 2500L)).toDF("source", "n_tok")
    val got = Curation.temperatureApportion(sq, budget = 1000000L)
      .select("source", "w_sqrt", "target_tok").as[(String, Long, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq(("a", 10L, 125000L), ("b", 20L, 250000L), ("c", 50L, 625000L)))
    // non-divisible: three weight-1 sources share 1e6 → 333334/333333/333333
    // with the +1 going to the LEXICALLY SMALLEST source on the full rem tie
    val tie = Seq(("x", 1L), ("y", 2L), ("z", 3L)).toDF("source", "n_tok")
    val tieOut = Curation.temperatureApportion(tie, budget = 1000000L)
      .select("source", "target_tok").as[(String, Long)].collect().toMap
    assert(tieOut === Map("x" -> 333334L, "y" -> 333333L, "z" -> 333333L))
    // the property a downstream packer relies on, at the query surface:
    // Σ target_tok == budget bit-for-bit on the real corpus
    val total = Curation.mixTemperature.fn(spark, sf)
      .agg(sum("target_tok")).as[Long].collect().head
    assert(total === 1000000L, s"apportionment must be exact, got $total")
    graft.ops.Caches.drain()
  }
}
