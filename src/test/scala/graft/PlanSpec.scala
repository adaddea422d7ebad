package graft

import org.apache.spark.sql.execution.FormattedMode

/** Regression guards for the physical-plan properties the engine is
  * designed around — if one of these breaks, a 100 TB run regresses even
  * though every correctness gate stays green.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  test("q_scan_project: filter and projection reach the parquet scan") {
    val plan = formatted("q_scan_project")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("LessThan(l_shipdate"), "shipdate predicate not pushed")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45.0)"), "quantity predicate not pushed")
    // pruned read schema: only the 4 referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double,l_shipdate:timestamp_ntz>"))
  }

  test("q_rank_quartile: dimension joins broadcast; window and final agg share one shuffle") {
    val plan = formatted("q_rank_quartile")
    assert(plan.contains("BroadcastHashJoin"), "dimension joins should broadcast")
    assert(!plan.contains("SortMergeJoin"), "no SMJ expected in the single-pass form")
    // exactly 2 non-broadcast exchanges: revenue agg + join_key repartition
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 shuffles, got $shuffles:\n$plan")
    // single lineitem scan (the CTE+join form had two)
    val scans = "lineitem.parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 lineitem scan, got $scans")
  }

  test("q_pricing_summary: partial/final hash aggregation with pushed date filter") {
    val plan = formatted("q_pricing_summary")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("grouped top-k lowers to partial+final WindowGroupLimit (bounded heaps, no full sort needed)") {
    // proof the BUILT-IN covers the operator — the reason no custom
    // SparkPlan exists for top-k-per-group (SURVEY.md §4.3)
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, sf)
    val plan = graft.ops.Scale.topKPerGroup(df, Seq("l_returnflag"), col("l_quantity").desc, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    assert(plan.contains("Partial") && plan.contains("Final"))
  }

  test("shingle df-cap: no pair-join shuffle key can fan out beyond MaxShingleDf²") {
    import org.apache.spark.sql.functions._
    import graft.queries.TextDedup
    // the capped stream that feeds every shingle self-join
    val capped = TextDedup.shingledFresh(spark, sf, 3)
    val cappedMax = capped.groupBy("shingle").count()
      .agg(max("count")).head.getLong(0)
    assert(cappedMax <= TextDedup.MaxShingleDf,
      s"hot shingle survived the cap: df=$cappedMax")
    // and the cap is genuinely exercised at this scale, not vacuous: the raw
    // (uncapped) stream must contain at least one shingle above the cap
    val raw = Tables.documents(spark, sf)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) >= 3
           THEN array_distinct(transform(sequence(1, size(ws) - 2),
                                         i -> concat_ws(' ', slice(ws, i, 3))))
           ELSE array() END""")).as("shingle"))
    val rawMax = raw.groupBy("shingle").count().agg(max("count")).head.getLong(0)
    assert(rawMax > TextDedup.MaxShingleDf,
      s"cap is vacuous at test scale (raw max df=$rawMax) — lower MaxShingleDf")
  }

  test("shingle df-cap executes as a broadcast anti-join (hot rows drop map-side)") {
    // the cap must not cost a shuffle of the exploded shingle stream: the
    // hot set is tiny and ships broadcast; a SortMergeJoin LeftAnti here
    // would mean the whole stream shuffles just to apply the cap
    val plan = graft.queries.TextDedup.shingledFresh(spark, sf, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left_anti for the hot-shingle drop:\n$plan")
  }

  test("q_sample_balanced lowers to partial+final WindowGroupLimit") {
    // the balanced sample must stay bounded-heap per partition — a full
    // per-group sort here would regress the one shape that makes
    // k-per-source sampling viable on a 10^11-row source
    val plan = SparkEntry.queries("q_sample_balanced")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial") && plan.contains("Final"), plan)
  }

  test("q_curation_ingest: corpus screen is a broadcast anti-join at test scale") {
    val plan = formatted("q_curation_ingest")
    assert(plan.contains("LeftAnti"), s"dedup screen must be an anti-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no SMJ expected at broadcastable corpus size:\n$plan")
  }

  test("q_tfidf_topk: per-doc top-3 is WindowGroupLimit-bounded, not a full per-doc sort") {
    val plan = SparkEntry.queries("q_tfidf_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q_sketch_kmv: the k-min selection runs as TakeOrdered, never a global sort") {
    // scaladoc claims per-partition top-k + tiny merge; pin it — a global
    // Sort+Limit here would shuffle every distinct hash to one task
    val plan = SparkEntry.queries("q_sketch_kmv")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_sim_topk: the QUERY SET is the broadcast build side; the corpus streams") {
    val plan = formatted("q_sim_topk")
    // q is the left relation → BuildLeft proves the tiny filtered query set is
    // what ships to executors. BuildRight here would broadcast the full corpus
    // (OOM at scale) even though "a broadcast exists".
    assert("""BroadcastNestedLoopJoin \w+ BuildLeft""".r.findFirstIn(plan).isDefined,
      s"query set must be the build side:\n$plan")
    // and the broadcast input really is the filtered set: the vec_id<10
    // predicate is pushed into (exactly one of) the embeddings scans
    assert(plan.contains("LessThan(vec_id,10)"), "query-set filter not pushed to scan")
  }

  test("q_window_extras: column pruning survives the window — the scan reads 3 columns") {
    val plan = formatted("q_window_extras")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"),
      "a window over 3 columns must not widen the orders scan")
    // one shuffle (on o_custkey) feeds one sort feeding ALL six window
    // functions (formatted mode lists Exchange arguments separately)
    assert("hashpartitioning\\(o_custkey".r.findAllIn(plan).size === 1,
      "all six window functions must share the single per-customer exchange")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).size === 1,
      "the six window expressions must collapse into one Window operator")
  }

  test("q_merge_upsert: one full-outer join on the key, no extra exchanges after AQE") {
    val plan = formatted("q_merge_upsert")
    assert(plan.contains("FullOuter"), "merge must be a single full-outer join")
    // both sides shuffle once on the key; nothing re-exchanges the result
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected at most the two key exchanges, got $exchanges")
  }

  test("q_cdc_diff: single-pass diff — one full-outer join, explode, three scans") {
    val plan = formatted("q_cdc_diff")
    assert(plan.contains("FullOuter"), "the diff must join full-outer")
    assert("""\(\d+\) \w*Join""".r.findAllIn(plan).size === 1,
      s"the diff must be exactly one join operator:\n$plan")
    assert(plan.contains("Generate") && plan.contains("explode"),
      "change rows must come from one explode pass")
    // old side scans documents once, the synthesized new snapshot twice —
    // the oracle's four-branch UNION ALL form costs 8+; regressing to it
    // would double-scan both 100 TB snapshots per change type
    val scans = "documents.parquet".r.findAllIn(plan).size
    assert(scans === 3, s"expected 3 documents scans, got $scans:\n$plan")
  }

  test("q_embed_quantize: the 64-entry scale vector broadcasts; corpus never shuffles") {
    val plan = formatted("q_embed_quantize")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "scales must join via broadcast cross-join")
    // the quantizing pass must not exchange the embeddings table: the only
    // shuffle is the 64-row dimension aggregation
    val exchanges = "hashpartitioning\\(j".r.findAllIn(plan).size
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"only the tiny per-dim agg may shuffle:\n$plan")
  }

  test("q_kmv_jaccard: per-source sketches stay WindowGroupLimit-bounded") {
    val plan = SparkEntry.queries("q_kmv_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "bottom-k sketch selection must be a bounded heap, not a full per-source sort")
  }

  test("q_gap_fill: spine join and forward fill reuse the user_id partitioning") {
    val plan = formatted("q_gap_fill")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).size === 1,
      "one Window operator carries the forward fill")
    assert(!plan.contains("SortMergeJoin") || plan.contains("hashpartitioning(user_id"),
      s"spine join must key on user_id:\n$plan")
  }

  test("q_outlier_zscore: the per-group moment table broadcasts back onto the scan") {
    val plan = formatted("q_outlier_zscore")
    assert(plan.contains("BroadcastHashJoin"),
      "moments must broadcast — an SMJ here shuffles the full event stream")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_triangle_count: closing joins are equi-joins, never a cartesian product") {
    val plan = formatted("q_triangle_count")
    assert(!plan.contains("CartesianProduct"),
      s"triangle enumeration must stay equi-keyed:\n$plan")
  }

  test("q_pagerank: per-round checkpoints truncate the iteration lineage") {
    val plan = formatted("q_pagerank")
    assert(plan.contains("ExistingRDD"),
      "rank iterations must read the checkpointed previous round, not replay it")
  }

  test("runtime bloom-filter join: a selective dim filter injects a bloom probe on the fact side") {
    // the runtime-filter path that matters at 100 TB: when the dimension
    // side of a shuffle join is filtered selectively, Spark builds a bloom
    // over its join keys and pre-filters the fact scan (InjectRuntimeFilter)
    // — rows that can't match never enter the fact-side exchange. Pin that
    // the engine's tables + plans are eligible for it (thresholds lowered
    // to fire at test scale; at production scale the defaults govern).
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1") // force a shuffle join: that's the case bloom helps
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val plan = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q_interval_merge: both windows and the island aggregation share ONE user_id shuffle") {
    val plan = formatted("q_interval_merge")
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(plan).size
    // hashpartitioning(user_id) satisfies the (user_id, island_id) grouping
    // (subset clustering), so the final agg must NOT re-shuffle
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
  }

  test("q_markov_transitions: normalizing window runs over the #types² table, not the events") {
    val plan = formatted("q_markov_transitions")
    // lag shuffle (events) + transition-count agg + src-partition window —
    // everything after the first exchange carries #types² rows
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(plan).size
    assert(shuffles == 3, s"expected 3 shuffles, got $shuffles:\n$plan")
    assert("events.parquet".r.findAllIn(plan).size == 1, "one event scan")
  }

  test("q_anomaly_mad: both robust-statistic tables broadcast back onto the scan") {
    val plan = formatted("q_anomaly_mad")
    assert("""BroadcastHashJoin""".r.findAllIn(plan).size >= 2,
      s"median and MAD tables must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_pareto_front: linear skyline — no self-join of the raw table, verdict broadcasts") {
    val plan = formatted("q_pareto_front")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"skyline must not pair-join the table:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "per-price verdict should broadcast")
    // raw scan + per-price aggregate scan only — the quadratic oracle form
    // would show a third
    assert("part.parquet".r.findAllIn(plan).size == 2, plan)
  }

  test("q_lateral_topk: the LATERAL subquery decorrelates into WindowGroupLimit, not a loop") {
    val plan = formatted("q_lateral_topk")
    assert(plan.contains("WindowGroupLimit"),
      s"per-outer-row LIMIT must lower to bounded heaps:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      "decorrelation must produce a single equi-join")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_scalar_subquery: correlated scalar subqueries decorrelate to agg+join, not a loop") {
    val plan = formatted("q_scalar_subquery")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the per-outer-row re-aggregation must not survive as a loop join:\n$plan")
    // each subquery becomes ONE per-partkey aggregate joined back on the
    // correlation key: outer scan + 2 subquery-agg scans, no more (a
    // regression to per-row evaluation would not show lineitem scans at
    // all — it would show a loop join above)
    assert("lineitem.parquet".r.findAllIn(plan).size == 3, plan)
    assert(plan.contains("BroadcastHashJoin"), "agg side should broadcast at this SF")
  }

  test("q_scalar_subquery_fused: one combined agg pass — 2 lineitem scans, not 3") {
    val plan = formatted("q_scalar_subquery_fused")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the fused form must stay equi-join only:\n$plan")
    // count+sum computed together: outer scan + ONE per-partkey
    // aggregate scan — the full fact-table pass the declarative twin's
    // unmerged subqueries re-pay (its pin above: 3 scans)
    assert("lineitem.parquet".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("BroadcastHashJoin"), "agg + dim sides should broadcast at this SF")
  }

  test("q_linear_fit: all four sufficient statistics in ONE aggregation pass") {
    val plan = formatted("q_linear_fit")
    assert("events.parquet".r.findAllIn(plan).size == 1,
      s"one event scan computes sx/sy/sxy/sxx together:\n$plan")
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
  }

  test("q_centroid_shift: no whole vector crosses the wire — shuffles key on (label, grp, dim)") {
    val plan = formatted("q_centroid_shift")
    assert(plan.contains("hashpartitioning(label"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_range_join_auto: the RangeJoinBinning rule fires — bin explode, no nested loop") {
    def explodes(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size
    val df = SparkEntry.queries("q_range_join_auto")(spark, sf)
    assert(explodes(df) == 1, s"expected the bin explode:\n${df.queryExecution.optimizedPlan}")
    // the explode is the rule's: a clone without it plans none
    val off = SparkEntry.queries("q_range_join_auto")(excluding(spark, graft.plans.RangeJoinBinning), sf)
    assert(explodes(off) == 0)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"naive range join must not plan as a nested loop:\n$phys")
  }

  test("q_funnel3: BOTH naive range joins rewrite to binned equi-joins through the aggregation") {
    val df = SparkEntry.queries("q_funnel3")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    // s1's rewritten subtree appears twice (stage-2 input + its own
    // count branch), so ≥2 distinct explodes is the invariant
    assert(opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size >= 2, s"expected a bin explode per funnel stage:\n$opt")
    // the only remaining non-equi joins must be the 1-row summary
    // crossJoins, never a range stage: every range join carries a bin key
    val rangeJoins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name.startsWith("__graft_bin"))) => j
    }
    assert(rangeJoins.size >= 2, s"both stages must join on the bin key:\n$opt")
  }

  test("q_inverted_index: one exploded pass, no joins") {
    val plan = formatted("q_inverted_index")
    assert(!plan.contains("Join"), s"index build is explode+aggregate only:\n$plan")
    assert("documents.parquet".r.findAllIn(plan).size == 1, "one corpus scan")
  }

  test("q_sim_pq / q_sim_ivfpq: the LUT broadcasts and no search path is all-pairs") {
    // PQ's scale contract: search touches 4-int codes + a broadcast M×K
    // lookup table — never the raw vectors, never an unkeyed pair join
    val pq = formatted("q_sim_pq")
    assert(pq.contains("BroadcastHashJoin"), "the query LUT must broadcast")
    // simple-plan string for the join-type details (formatted mode prints
    // build side on separate attribute lines)
    val ivfpq = SparkEntry.queries("q_sim_ivfpq")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ivfpq.contains("BroadcastHashJoin"), "LUT/centroid joins must broadcast")
    // the candidate join keys on the cell id (coarse pruning), so any
    // nested-loop join in the tree is a broadcast-tiny one (the 1-row
    // quantize-scale vector / 8-row centroid cross joins)
    assert("BroadcastNestedLoopJoin (?!BuildRight, Cross)".r.findFirstIn(ivfpq).isEmpty,
      s"no streaming-side nested loop in the IVF-PQ search:\n$ivfpq")
    graft.ops.Caches.drain()
  }

  test("q_lm_fluency: the LM probes by broadcast; q_cooccur_pmi top-k is TakeOrdered") {
    // the fluency score joins the corpus bigram stream to the model
    // (bigram + unigram counts) — at scale the corpus side must never
    // shuffle on the gram key, so both model joins broadcast
    val lm = formatted("q_lm_fluency")
    assert(lm.contains("BroadcastHashJoin"), "the bigram/unigram model must broadcast")
    assert(!lm.contains("SortMergeJoin"),
      s"the corpus stream must not shuffle on the gram key:\n$lm")
    graft.ops.Caches.drain()
    // the PMI top-25 must be per-partition heaps + driver merge — a global
    // sort (or a full-width single-task rank window) would serialize the
    // pair-type table at a web-scale vocabulary
    val pmi = SparkEntry.queries("q_cooccur_pmi")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pmi.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$pmi")
    graft.ops.Caches.drain()
  }

  test("q_bm25_topk: posting filter reaches the scan; top-k is TakeOrdered") {
    // the query-term filter must hit the token stream BEFORE any shuffle
    // (the inverted-index shape), the df/scalar tables broadcast, and the
    // ranking must be per-partition heaps, not a global sort
    val plan = formatted("q_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"BM25 top-k must be TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "df table must broadcast")
    val pmi = SparkEntry.queries("q_hybrid_rrf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pmi.contains("TakeOrderedAndProject"),
      s"both fused rankings must TakeOrdered:\n$pmi")
    graft.ops.Caches.drain()
  }

  test("q_vocab_zipf: no single-task window ever sees the type table") {
    // the rank goes through Scale.distributedRank (keyed on the
    // deterministic range bucket) and the running sum through
    // Scale.prefixSum (keyed on the bucket) — the only unpartitioned
    // windows left are over per-bucket counts / totals, metadata-sized by
    // construction. A 10⁹-type vocabulary would rank at full parallelism.
    val opt = SparkEntry.queries("q_vocab_zipf")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val rn = opt.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("_drb")),
      s"the vocab rank must be per-range-bucket (_drb), got:\n$rn")
    val cum = opt.linesIterator
      .filter(l => l.contains("sum(") && l.contains("specifiedwindowframe")
        && l.contains("unboundedpreceding"))
      .toSeq
    // every full-width running sum keys on a bucket column
    assert(cum.forall(l => l.contains("_psb") || l.contains("_drb") || l.contains("_drn")
        || l.contains("_psum")),
      s"running-sum windows must be bucketed:\n${cum.mkString("\n")}")
  }

  test("q_edit1_neighbors: the neighborhood join is an equi-join, never all-pairs") {
    // SymSpell's whole point: the O(n²) product exists only oracle-side;
    // the engine joins on near-unique variant keys and verifies in-bucket
    val plan = formatted("q_edit1_neighbors")
    assert(!plan.contains("CartesianProduct"), s"all-pairs product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(plan.contains("vh"), "join must key on the hashed deletion variant")
    // the banded threshold levenshtein (O(len), not O(len²)) verifies
    // in-bucket BEFORE the pair distinct
    assert(plan.contains("levenshtein"), "in-bucket verify must survive in the plan")
  }

  test("q_window_distinct_kmv: sketch build and merge are WindowGroupLimit-bounded") {
    // the per-day k-min must lower to a group-limit (per-partition top-k
    // BEFORE the exchange) — the distributed sketch-build shape; a plain
    // full-sort window here would serialize each day's distinct users
    val plan = SparkEntry.queries("q_window_distinct_kmv")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"rank filter not pushed:\n$plan")
    graft.ops.Caches.drain()
  }

  test("q_profile_columns / q_fd_audit: profiling never joins the table to itself") {
    val prof = formatted("q_profile_columns")
    // one wide aggregate over one scan; the long-form reshape (stack)
    // applies to the single aggregated row, and the multi-distinct goes
    // through Expand — still a single pass over orders
    val scans = "orders.parquet".r.findAllIn(prof).size
    assert(scans == 1, s"expected 1 orders scan, got $scans:\n$prof")
    assert(prof.contains("Expand"), "multi-distinct should use the Expand rewrite")
    val fd = formatted("q_fd_audit")
    assert(!fd.contains("Join"), s"FD audit must be pure aggregation:\n$fd")
  }

  test("q_hard_negatives: anchors broadcast; per-anchor top-k is group-limited") {
    val plan = SparkEntry.queries("q_hard_negatives")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"anchor set must broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-k not group-limited:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "corpus must stream against broadcast anchors")
  }

  test("q_kcore / q_bfs_hops: per-round checkpoints bound the iteration lineage") {
    // like q_pagerank: the executed plan of round-3 output must hang off
    // checkpoint-backed scans, not a 3-round join tower over the corpus
    for (q <- Seq("q_kcore", "q_bfs_hops")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
        s"$q round input should be a checkpoint scan:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q must stay vertex-keyed:\n$plan")
      assert(!plan.contains("parquet"), s"$q final round must not rescan the corpus:\n$plan")
    }
    graft.ops.Caches.drain()
  }

  test("q_dedup_ppjoin / q_link_predict: candidate generation stays equi-keyed — never all-pairs") {
    // PPJoin's claim is exactness WITHOUT the quadratic product: the
    // prefix join keys on rarest-first tokens and verification is
    // candidate-linear; link prediction's wedge join keys on the middle
    // vertex. Either showing a CartesianProduct/nested loop means the
    // O(n²) oracle shape leaked into the engine.
    for (q <- Seq("q_dedup_ppjoin", "q_link_predict")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q all-pairs product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q nested loop:\n$plan")
      graft.ops.Caches.drain()
    }
  }

  test("q_snm_pairs: the global name rank is range-bucketed, never single-task") {
    // sorted-neighborhood blocking needs a TOTAL order over the names; a
    // plain row_number() window would serialize the table through one
    // task at a web-scale entity set (the q_vocab_zipf lesson). The rank
    // must come from Scale.distributedRank's per-range-bucket windows.
    val opt = SparkEntry.queries("q_snm_pairs")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val rn = opt.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("_drb")),
      s"the SNM rank must be per-range-bucket (_drb), got:\n$rn")
  }

  test("q_basket_rules / q_share_drift: scalars broadcast onto map-side-combined counts") {
    // baskets: the only big shuffles are the distinct (user, type) pass
    // and the user-keyed pair join; singles and the user count broadcast
    // back onto the #types²-row rule table
    val basket = SparkEntry.queries("q_basket_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!basket.contains("CartesianProduct"), s"basket rules product:\n$basket")
    assert(basket.contains("BroadcastHashJoin"), "single-type supports must broadcast")
    // drift: one labeled counting pass + one bounds scan — the half label
    // is a per-row projection against the broadcast date bounds, and the
    // leased #types-row count table feeds both the grand total and the
    // final projection (cached, so the stream is counted once)
    val drift = SparkEntry.queries("q_share_drift")(spark, sf)
    val plan = drift.queryExecution.explainString(FormattedMode)
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the per-type count table must be leased, not re-derived:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "no shuffle join anywhere in share drift")
    graft.ops.Caches.drain()
  }

  test("q_sample_priority: both top-k selections are TakeOrdered, never a global sort") {
    val plan = SparkEntry.queries("q_sample_priority")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"priority top-k must be per-partition heaps + driver merge:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global range sort over the corpus:\n$plan")
  }

  test("q_decay_score / q_attrib_last_touch: broadcast scalars, per-user windows only") {
    // decay: the single-row max-day broadcasts back onto the (user, day)
    // counts — never a shuffle join; weights are per-row projections
    val decay = SparkEntry.queries("q_decay_score")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(decay.contains("BroadcastNestedLoopJoin") || decay.contains("BroadcastHashJoin"),
      s"max-day must broadcast:\n$decay")
    assert(!decay.contains("SortMergeJoin"), "no shuffle join in decay score")
    // attribution: ONE user-partitioned window pass (no unpartitioned
    // window, which would serialize the stream through one task)
    val attrib = SparkEntry.queries("q_attrib_last_touch")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val wins = attrib.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("user_id")),
      s"attribution windows must partition by user:\n${wins.mkString("\n")}")
  }

  test("q_user_streak: per-user window; streak aggregates reuse the user partitioning") {
    val q = SparkEntry.queries("q_user_streak")(spark, sf)
    val opt = q.queryExecution.optimizedPlan.toString
    val wins = opt.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("user_id")),
      s"the island window must partition by user:\n${wins.mkString("\n")}")
    // exactly 2 shuffles: the distinct day grid (user, ed) and the window's
    // user re-key; BOTH island aggregates ride the window's HashPartitioning
    // (user) — HashPartitioning(user) satisfies ClusteredDistribution(user,
    // isl), so no third Exchange appears
    val plan = q.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 shuffles, got $shuffles:\n$plan")
  }

  test("q_bitmap_distinct: map-side-combined words; the type rollup joins broadcast") {
    val plan = SparkEntry.queries("q_bitmap_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    // the word build is partial/final hash aggregation — the one-hot words
    // OR together map-side, so the shuffle carries words, not raw ids
    assert(plan.contains("HashAggregate"), s"word build must hash-aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded #event_types audit join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join:\n$plan")
    graft.ops.Caches.drain()
  }

  test("q_rfm: quartile boundaries broadcast; no window anywhere (the ntile trap)") {
    val q = SparkEntry.queries("q_rfm")(spark, sf)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("windowspecdefinition"),
      s"RFM must not use windows — an unpartitioned ntile serializes the user table:\n$opt")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the single boundary row must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join in RFM:\n$plan")
    graft.ops.Caches.drain()
  }

  test("q_heavy_hitters: MG candidates map-side combine; verify is broadcast, never a full-cardinality shuffle") {
    val q = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // phase 1: the MG aggregate runs partial/final (<=k entries cross the wire)
    assert(plan.contains("ObjectHashAggregate"), s"MG sketch not object-hash-aggregated:\n$plan")
    assert(plan.contains("partial_mg_topk"), s"no map-side MG combine:\n$plan")
    // phase 2: candidates broadcast into a semi-join — the event stream
    // never shuffles on event_type ahead of the candidate filter
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate verify must be a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join in heavy hitters:\n$plan")
  }

  test("q_expectations: all six constraints ride ONE scan and one single-row exchange") {
    val q = SparkEntry.queries("q_expectations")(spark, sf)
    val plan = q.queryExecution.explainString(FormattedMode)
    val scans = "orders.parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 orders scan for 6 constraints, got $scans:\n$plan")
    // pruned read: only the 6 referenced columns
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>"),
      s"constraint scan not pruned:\n$plan")
  }

  test("q_fuzzy_damerau: candidates from equi-join blocking, never a cartesian") {
    // the fresh builder: the memoized query form plans as an
    // InMemoryTableScan, which would hide the join shape under audit
    val q = graft.queries.Relational.fuzzyDamerauFresh(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"damerau pairing must stay blocked:\n$plan")
    assert(plan.contains("damerau_levenshtein"), s"custom expression missing:\n$plan")
  }

  test("q_text_diversity: one posting aggregation; shuffle carries (source, token) counts only") {
    val q = SparkEntry.queries("q_text_diversity")(spark, sf)
    val plan = q.queryExecution.explainString(FormattedMode)
    val scans = "documents.parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans")
    assert(plan.contains("HashAggregate"), "posting counts must hash-aggregate (partial/final)")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"diversity is join-free:\n$plan")
  }

  test("q_ab_test / q_text_boilerplate: broadcast scalars; posting join, no product") {
    val ab = SparkEntry.queries("q_ab_test")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ab.contains("BroadcastNestedLoopJoin") || ab.contains("BroadcastHashJoin"),
      s"variant totals must broadcast onto the #types rows:\n$ab")
    assert(!ab.contains("CartesianProduct"), s"ab test product:\n$ab")
    val bp = SparkEntry.queries("q_text_boilerplate")(spark, sf)
    val plan = bp.queryExecution.explainString(FormattedMode)
    assert(!plan.contains("CartesianProduct"), s"boilerplate product:\n$plan")
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the segment stream must be leased (df count + posting join):\n$plan")
    graft.ops.Caches.drain()
  }
}
