package graft

import org.apache.spark.sql.SparkSession


/** Canonical plan-shape fingerprints for every oracle query — the scale
  * regression baseline PlanFingerprintSpec enforces: a code change that
  * silently adds an Exchange, degrades a hash join to a nested loop, or
  * introduces a Cartesian product must fail a test, not be discovered in
  * the next bench. The fingerprint counts physical operators the 100 TB
  * budget cares about; it deliberately ignores projections/filters (free)
  * and exact child order (cosmetic).
  *
  * `runMain graft.PlanFingerprints` regenerates the committed baseline at
  * `src/test/resources/plan_fingerprints.json` — rerun it (and review the
  * diff like code) when a plan change is INTENTIONAL.
  *
  * ENVIRONMENT COUPLING: the committed baseline is only valid under the
  * generator's environment — `local[4]` (defaultParallelism 4, shuffle
  * partitions 4) over the driver-generated single-row-group sf0.001
  * testdata. `Scale.fanOutScan` plans an extra keyed exchange exactly
  * when data-bearing splits × 2 < defaultParallelism, so a ≤2-core
  * session or regenerated multi-row-group testdata flips ~13 queries'
  * exchange counts. PlanFingerprintSpec asserts the preconditions up
  * front so a mismatch points at the environment, not the queries.
  */
object PlanFingerprints {
  final case class Fp(exchanges: Int, smj: Int, bhj: Int, shj: Int,
      bnlj: Int, cartesian: Int, sorts: Int, windows: Int)

  /** Counts over the pre-execution physical plan text (deterministic at
    * a fixed SF: no AQE re-plan has run yet, so the shape is the
    * planner's verdict, not the runtime's — counting the EXPLAIN text
    * rather than walking the tree because AdaptiveSparkPlanExec hides its
    * inner plan from `collect`). `exchanges` counts SHUFFLE exchanges
    * only; broadcast exchanges are the cheap kind the budget encourages
    * and ride under `bhj`/`bnlj`. */
  def fingerprint(explainText: String): Fp = {
    def n(re: String): Int = re.r.findAllMatchIn(explainText).size
    Fp(
      exchanges = n("""Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"""),
      smj = n("""SortMergeJoin"""),
      bhj = n("""BroadcastHashJoin"""),
      shj = n("""ShuffledHashJoin"""),
      bnlj = n("""BroadcastNestedLoopJoin"""),
      cartesian = n("""CartesianProduct"""),
      sorts = n("""[^a-zA-Z]Sort \["""),
      windows = n("""[^a-zA-Z]Window(GroupLimit)? \["""))
  }

  def render(queries: Map[String, Fp]): String =
    queries.toSeq.sortBy(_._1).map { case (q, f) =>
      s"""  "$q": {"exchanges":${f.exchanges},"smj":${f.smj},"bhj":${f.bhj},"shj":${f.shj},"bnlj":${f.bnlj},"cartesian":${f.cartesian},"sorts":${f.sorts},"windows":${f.windows}}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def parse(json: String): Map[String, Fp] = {
    val entry =
      """"(q_\w+)":\s*\{"exchanges":(\d+),"smj":(\d+),"bhj":(\d+),"shj":(\d+),"bnlj":(\d+),"cartesian":(\d+),"sorts":(\d+),"windows":(\d+)\}""".r
    entry.findAllMatchIn(json).map { m =>
      m.group(1) -> Fp(m.group(2).toInt, m.group(3).toInt, m.group(4).toInt,
        m.group(5).toInt, m.group(6).toInt, m.group(7).toInt,
        m.group(8).toInt, m.group(9).toInt)
    }.toMap
  }

  /** Shared-snapshot BUILD plans pinned alongside the queries. A memo
    * backed by an eager localCheckpoint or cache (minhashCandShared,
    * simhashShared, gram3h8, the BPE train) hides its build from every
    * consumer's fingerprint — they see only the snapshot scan (0
    * exchanges) — so a regression in the build pipeline itself would
    * never fail the gate without these entries. Named q_builder_* to
    * ride the existing parse/render format; they are NOT oracle queries
    * (no SparkEntry/Verify registration). */
  def builders: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q_builder_minhash_cand" -> ((s, d) => graft.queries.TextDedup.minhashCandFresh(s, d)),
    "q_builder_simhash" -> ((s, d) => graft.queries.TextDedup.simhashDf(s, d)),
    "q_builder_gram3h8" -> ((s, d) => graft.queries.Curation.gram3h8Fresh(s, d)),
    "q_builder_bpe" -> ((s, d) => graft.queries.Curation.bpeIterFresh(s, d)),
    "q_builder_ivf_cells" -> ((s, d) => graft.queries.Similarity.ivfAssignFresh(s, d)),
    "q_builder_nb_ranked" -> ((s, d) => graft.queries.Curation.nbRankedFresh(s, d))) ++
    iterativeRounds

  /** Per-ROUND plans of the five synchronous iterative loops (CC,
    * k-core, BFS, PageRank, weighted SSSP) — the cost that repeats
    * 3–30× per query, gated as a NAMED unit. How much of a round each
    * oracle query's own fingerprint already sees varies by loop: CC and
    * SSSP checkpoint inside a while loop, so their final plans are bare
    * LogicalRDD scans (a round regression is INVISIBLE there); k-core /
    * BFS / PageRank skip the checkpoint only on the last round, so one
    * round shows — but buried in a composite count where a +1 exchange
    * does not say "the round body regressed". These entries pin each
    * round in isolation, with a name that points at the loop.
    *
    * Inputs: the graph loops here run over [[graft.queries.GraphOps
    * .adversarialEdges]] rather than the LSH-memo candidate edges the
    * production queries feed them — deliberate, NOT a fidelity gap: the
    * memo build is an eager action (these entries must stay
    * action-free) and its plan is already pinned by
    * q_builder_minhash_cand; the round body's shape is independent of
    * which edge table flows in. SSSP uses its real crafted edge build.
    * Counts therefore cover the stand-in input prep + one round. */
  private def iterativeRounds
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    import graft.queries.{GraphOps, TextDedup}
    Map(
      "q_builder_cc_round" -> { (s, d) =>
        val edges = GraphOps.adversarialEdges(s, d)
          .toDF("src", "dst").repartition(col("dst"))
        val labels = edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
        TextDedup.ccRound(edges, labels)
      },
      // r13: the production CC loop stages propagate and each pointer
      // jump behind their OWN lazy checkpoints (CcJumpsPerRound doubling
      // jumps per round), so the composed cc_round entry above no longer
      // matches what executes — these pin the two staged units that do.
      "q_builder_cc_propagate" -> { (s, d) =>
        val edges = GraphOps.adversarialEdges(s, d)
          .toDF("src", "dst").repartition(col("dst"))
        val labels = edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
        TextDedup.ccPropagate(edges, labels)
      },
      "q_builder_cc_jump" -> { (s, d) =>
        val edges = GraphOps.adversarialEdges(s, d)
          .toDF("src", "dst").repartition(col("dst"))
        val labels = edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
        TextDedup.ccJump(labels)
      },
      "q_builder_kcore_round" -> { (s, d) =>
        val e = GraphOps.adversarialEdges(s, d)
        GraphOps.kcoreRound(e, e.select(col("src").as("v")).distinct())
      },
      "q_builder_bfs_round" -> { (s, d) =>
        val e = GraphOps.adversarialEdges(s, d)
        val seeds = e.select(col("src").as("v")).distinct()
          .filter(col("v") % 17 === 0)
          .select(col("v"), lit(0).as("hop"))
        GraphOps.bfsRound(e, seeds)
      },
      "q_builder_pagerank_round" -> { (s, d) =>
        val e = GraphOps.adversarialEdges(s, d)
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        val edgesDeg = e.join(deg, "src")
        val nodes = edgesDeg.select(col("src").as("doc_id")).distinct()
        val base = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
          .select(col("doc_id"), expr("1000000000000 div n").as("tele"))
        TextDedup.pagerankRound(edgesDeg, base,
          base.select(col("doc_id"), col("tele").as("pr")))
      },
      "q_builder_sssp_round" -> { (s, d) =>
        val edges = GraphOps.ssspEdges(s, d).repartition(col("src"))
        val dist = s.range(1).select(lit(0L).as("v"), lit(0L).as("dist"))
        GraphOps.ssspRelax(edges, dist)
      },
      "q_builder_scc_trim_round" -> { (s, d) =>
        // the real crafted edge build + ONE COMPOSED restrict+trim over
        // the production input shape — the (v, g) subset-keyed active
        // table against the src-partitioned tagged edges (ADVICE r11:
        // gating the trim over raw edges left the restrict step's two
        // joins invisible; production always runs them composed)
        val e = GraphOps.bidiTag(GraphOps.sccFullEdges(s, d))
          .repartition(col("src"))
        val active = graft.Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("v"), lit(0L).as("g"))
        val eA = GraphOps.sccSubsetRestrict(e, active)
        GraphOps.sccTrimRound(eA.filter(col("dir") === 0), active)
      },
      "q_builder_scc_reach_round" -> { (s, d) =>
        // one batched (v, dir, g)-keyed reachability relaxation over the
        // restricted edges — the round body every pivoted subset shares
        val e = GraphOps.bidiTag(GraphOps.sccFullEdges(s, d))
          .repartition(col("src"))
        val active = graft.Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("v"), lit(0L).as("g"))
        val eA = GraphOps.sccSubsetRestrict(e, active)
        val seed = active.groupBy("g").agg(min("v").as("p"))
          .select(col("p").as("v"),
            explode(array(lit(0), lit(1))).as("dir"),
            col("g"), lit(0L).as("dist"))
        GraphOps.sccReachRound(eA, seed)
      },
      "q_builder_bidi_round" -> { (s, d) =>
        // the REAL tagging helper + one relaxation — hand-copying the
        // tag here would let the production body and the gate drift
        val e = GraphOps.bidiTag(GraphOps.sccEdges(s, d)).repartition(col("src"))
        val seed = s.range(2)
          .select(lit(0L).as("v"), col("id").cast("int").as("dir"), lit(0L).as("dist"))
        GraphOps.bidiRelax(e, seed)
      },
      "q_builder_landmark_round" -> { (s, d) =>
        // real crafted edge build + one (v, lm)-keyed relaxation
        val e = GraphOps.landmarkEdges(s, d).repartition(col("src"))
        val seeds = graft.Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("v"))
          .filter(col("v").isin(1L, 2L, 3L))
          .select(col("v"), col("v").as("lm"), lit(0L).as("hop"))
        GraphOps.landmarkRound(e, seeds)
      },
      "q_builder_stress_sigma_round" -> { (s, d) =>
        // real butterfly edge build + one forward σ path-count round
        val ids = graft.Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("id"))
        val e = GraphOps.butterflyEdges(ids, 256L).repartition(col("src"))
        val seeds = ids.filter(col("id").isin(1L, 2L, 3L))
          .select(col("id").as("v"), col("id").as("s"), lit(1L).as("sigma"))
        GraphOps.stressSigmaRound(e, seeds)
      },
      "q_builder_stress_h_round" -> { (s, d) =>
        // one backward dependency round re-anchored on the pair set
        val ids = graft.Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("id"))
        val e = GraphOps.butterflyEdges(ids, 256L).repartition(col("src"))
        val pairs = ids.filter(col("id") >= 1 && col("id") < 256L)
          .select(col("id").as("v"), lit(1L).as("s"))
        GraphOps.stressHRound(e, pairs, pairs.withColumn("h", lit(0L)))
      })
  }

  /** ALPHABETICAL construction order, matching the bench: session-shared
    * memos materialize under the first consumer and later queries plan
    * against InMemoryTableScan — the order must be fixed or fingerprints
    * would depend on which query ran first. Callers pass a session with
    * no memos built yet (the spec uses a fresh `newSession`). */
  def collectAll(spark: SparkSession, sfDir: String): Map[String, Fp] =
    (SparkEntry.queries ++ builders).toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fingerprint(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1)
      else "src/test/resources/plan_fingerprints.json"
    val spark = Sessions.build("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val fps = collectAll(spark, sfDir)
    val p = java.nio.file.Paths.get(out)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, render(fps))
    println(s"FINGERPRINTS ${fps.size} -> $out")
    spark.stop()
  }
}
