package graft

import org.apache.spark.sql.SparkSession

/** Layer-by-layer cost of suite queries. For each query and each data dir
  * it does a first run (session memos and schema inference cold) and a
  * warm run, each measured by [[Meter.measure]] as Bench measures it, and
  * prints one `PROBE` line per run:
  *  - driver seconds: `build` (the query closure: DataFrame construction,
  *    relation resolution, analysis), `plan` (optimizer and physical
  *    planning), `exec` (the planned query run: codegen, job round-trips,
  *    tasks), and the driver thread's CPU seconds in each of the three;
  *  - the [[Meter]] counts of the run: jobs, stages, tasks; task run, CPU,
  *    GC and blocked seconds; shuffle write/read MB (1e6 bytes), shuffle
  *    write time, fetch wait; memory and disk spill MB; input records;
  *  - `us_per_record`: run seconds per input record read, and on a warm
  *    line after the first dir, `x_prev`: this warm total over the
  *    previous dir's, the growth factor across tiers.
  * The warm run's jobs follow as one `JOB` line each. Derived tiers are
  * generated by [[TierGen]], not here.
  *
  * Usage: runMain graft.Probe <dir[,dir...]> <query...|family>
  * where a family is one of [[families]]' keys. SPARK_GRAFT_CPUS sets the
  * local parallelism (default 4), as for Bench and Verify.
  */
object Probe {
  /** Named query sets: `scale`, the headline operators across tiers;
    * `shuffle`, the shuffle-bearing set; the three families that the
    * derived tiers of [[TierGen]] scale (`dedup` over documents, `er` over
    * customer, `sim` over embeddings; q_entity_cluster reads part, which
    * the tiers do not derive); and `kernels`, every query whose plans call
    * one of the scalar kernel functions of
    * [[graft.functions.FunctionCatalog]] (read from the SQL execution
    * plans of each query's noop write at sf0.01). */
  val families: Map[String, Seq[String]] = Map(
    "scale" -> Seq(
      "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_jaccard",
      "q_dedup_adversarial_bucket", "q_sim_adversarial_bucket",
      "q_graph_adversarial", "q_importance_hashgram", "q_sessionize_skew",
      "q_dedup_keep_best", "q_dedup_weighted_jaccard",
      "q_graph_sssp", "q_linkage_fs", "q_sim_maxsim",
      "q_er_golden", "q_er_incremental", "q_retrieval_mrr", "q_retrieval_mrr_fixed", "q_ppr_seed",
      "q_graph_scc_pivot", "q_graph_scc",
      "q_classify_nb", "q_sketch_hdr_quantile", "q_graph_landmarks",
      "q_sim_lsh_bucketed", "q_pack_chunks", "q_curation_ingest",
      "q_decontaminate", "q_rank_quartile", "q_text_ngram_profile",
      "q_sketch_bloom", "q_histogram_equidepth", "q_tfidf_topk",
      "q_scalar_subquery"),
    "shuffle" -> Seq(
      "q_dedup_exact", "q_dedup_incremental", "q_dedup_minhash_lsh",
      "q_dedup_jaccard", "q_curation_ingest", "q_decontaminate",
      "q_pack_chunks", "q_rank_quartile", "q_pricing_summary",
      "q_sketch_bloom", "q_histogram_equidepth", "q_sim_lsh_bucketed"),
    "dedup" -> Seq(
      "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_jaccard",
      "q_dedup_ppjoin", "q_dedup_components"),
    "er" -> Seq("q_snm_pairs", "q_linkage_fs", "q_er_golden", "q_er_incremental"),
    "sim" -> Seq(
      "q_sim_topk", "q_sim_lsh_bucketed", "q_sim_ivf", "q_sim_pq",
      "q_sim_ivfpq", "q_sim_maxsim", "q_dedup_embed_cosine", "q_semdedup"),
    "kernels" -> Seq(
      "q_bfs_hops", "q_chunk_content", "q_cluster_kmeans", "q_dedup_adversarial_bucket",
      "q_dedup_embed_cosine", "q_dedup_incremental_lsh", "q_dedup_minhash_estimate",
      "q_embed_stats", "q_entity_cluster", "q_fuzzy_damerau", "q_hard_negatives",
      "q_hilbert_key", "q_multimodal_blockhash", "q_multimodal_histdup", "q_semdedup",
      "q_sim_adversarial_bucket", "q_sim_ivf", "q_sim_ivfpq", "q_sim_lsh_bucketed",
      "q_sim_lsh_multiprobe", "q_sim_maxsim", "q_sim_pq", "q_sim_recall", "q_sim_topk",
      "q_sketch_countmin", "q_text_fingerprint"))

  private def run(spark: SparkSession, name: String, dir: String): Meter.Run = {
    val r = Meter.measure(spark)(SparkEntry.queries(name)(spark, dir))
    r.failure.foreach(throw _)
    r
  }

  private def line(name: String, dir: String, label: String, r: Meter.Run, prev: Option[Double]): String = {
    val c = r.counts
    def mb(b: Long) = b / 1e6
    val run = c.runMs / 1e3
    val cpu = c.cpuNs / 1e9
    val gc = c.gcMs / 1e3
    val perRecord = if (c.recordsRead > 0) r.total * 1e6 / c.recordsRead else Double.NaN
    f"PROBE $name $dir $label total=${r.total}%.3f build=${r.build}%.3f " +
      f"plan=${r.plan}%.3f exec=${r.exec}%.3f build_cpu=${r.buildCpu}%.3f " +
      f"plan_cpu=${r.planCpu}%.3f exec_cpu=${r.execCpu}%.3f jobs=${c.jobs} stages=${c.stages} " +
      f"tasks=${c.tasks} task_run=$run%.2f task_cpu=$cpu%.2f gc=$gc%.2f " +
      f"blocked=${math.max(0.0, run - cpu - gc)}%.2f " +
      f"shuffle_write_mb=${mb(c.shuffleWriteBytes)}%.3f " +
      f"shuffle_read_mb=${mb(c.shuffleReadBytes)}%.3f " +
      f"shuffle_write_s=${c.shuffleWriteNs / 1e9}%.2f fetch_wait_s=${c.fetchWaitMs / 1e3}%.2f " +
      f"spill_mem_mb=${mb(c.memorySpillBytes)}%.1f spill_disk_mb=${mb(c.diskSpillBytes)}%.1f " +
      f"records_in=${c.recordsRead} us_per_record=$perRecord%.2f" +
      prev.fold("")(p => f" x_prev=${r.total / p}%.2f")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Probe <dir[,dir...]> <query...|family>")
    val dirs = args(0).split(',').toSeq
    val names = args.toSeq.tail.flatMap(a => families.getOrElse(a, Seq(a)))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries or families: ${unknown.mkString(", ")}; " +
      s"families: ${families.keys.toSeq.sorted.mkString(", ")}")
    val spark = Sessions.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("ERROR")
    // absorb session and executor start-up before the first measured run
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      dirs.foldLeft(Option.empty[Double]) { (prev, dir) =>
        println(line(name, dir, "first", run(spark, name, dir), None))
        val warm = run(spark, name, dir)
        println(line(name, dir, "warm", warm, prev))
        warm.jobs.foreach(j =>
          println(f"JOB ${j.id}%5d ${j.seconds}%7.3f s stages=${j.stages}%3d  ${j.callSite}"))
        Some(warm.total)
      }
    }
    spark.stop()
  }
}
