package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Invariant gate for the ten queries whose DuckDB oracles are
  * intractable at the 10× derived tier (`scripts/tier_queries.txt`
  * header: recursive-CTE closures over the 50k-vertex candidate graph,
  * the deliberately quadratic edit-1 recall proof, the all-pairs
  * multimodal near-dup oracles). Their completeness is proven at
  * sf0.001/sf0.01 by the hash-exact oracle twins; what was missing one
  * tier up was any check beyond "the Spark side ran clean". This
  * harness closes that gap with INDEPENDENT invariants evaluated at the
  * tier — soundness re-verification (every emitted edit-1 pair really
  * is edit distance ≤ 1; every multimodal near-dup pair's distance
  * recomputed from the raw payloads), conservation laws (PageRank mass
  * never exceeds the teleport budget; every vertex holds its teleport
  * floor), structural laws (BFS labels admit a parent at hop−1 and
  * violate no edge relaxation; LPA communities partition the vertex set
  * and never span two connected components — judged against the
  * TIER-HASH-VERIFIED q_dedup_components labeling), and full
  * independent twins where one is tractable (triangle census recomputed
  * by neighbor-set intersection instead of the three-way join; the
  * k-core peel re-run with a differently-shaped semi-join kernel).
  *
  * Every checker is a pure (outputs, references) → violations function
  * returning rows that BREAK the invariant (empty == pass), so
  * TierInvariantsSpec can both prove the real queries clean at sf0.001
  * and prove each checker non-vacuous by planting a corruption and
  * watching it surface. `runMain graft.TierInvariants [tierDir]`
  * (default derived/sf1) runs all checks and exits non-zero on any
  * violation.
  */
object TierInvariants {
  val Scale = 1000000000000L

  /** Symmetrized candidate edges from the TIER-VERIFIED
    * q_dedup_minhash_lsh relation (a_id, b_id) — the same graph every
    * gated query consumes, reconstructed through the public query
    * surface rather than the private memo. */
  def symEdges(cand: DataFrame): DataFrame =
    cand.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(cand.select(col("b_id").as("src"), col("a_id").as("dst")))

  // -----------------------------------------------------------------
  // PageRank / personalized PageRank: conservation + teleport floor
  // -----------------------------------------------------------------

  /** Violations for an integer-mass PageRank output (doc_id, pr) over
    * `edges`, with `seed` the teleport predicate (None = uniform).
    * Laws: one row per graph vertex; pr ≥ 0; every teleport target
    * holds at least its closed-form floor (15% of its equal share —
    * contributions only add); total mass never exceeds Scale (integer
    * floors only LOSE mass, each round is 0.15·S + 0.85·(≤ Σ prev)). */
  def pagerankViolations(pr: DataFrame, edges: DataFrame,
      seed: Option[Column]): DataFrame = {
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    val seeds = seed.map(p => nodes.filter(p)).getOrElse(nodes)
    val nSeeds = seeds.count()
    val floorPr = if (nSeeds == 0) 0L else (15L * (Scale / nSeeds)) / 100L
    val missing = nodes.join(pr, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("vertex_missing").as("violation"))
    val extra = pr.join(nodes, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("row_not_a_vertex").as("violation"))
    val dup = pr.groupBy("doc_id").agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("doc_id"), lit("duplicate_vertex").as("violation"))
    val neg = pr.filter(col("pr") < 0)
      .select(col("doc_id"), lit("negative_mass").as("violation"))
    val floorV = seeds.join(pr, Seq("doc_id"))
      .filter(col("pr") < floorPr)
      .select(col("doc_id"), lit("below_teleport_floor").as("violation"))
    val mass = pr.agg(coalesce(sum("pr"), lit(0L)).as("m"))
      .filter(col("m") > Scale)
      .select(lit(-1L).as("doc_id"), lit("mass_exceeds_budget").as("violation"))
    missing.unionByName(extra).unionByName(dup).unionByName(neg)
      .unionByName(floorV).unionByName(mass)
  }

  /** PPR-only extra law: a non-seed with NO in-edges receives neither
    * teleport nor contribution — its mass must be exactly zero.
    * COVERAGE NOTE (ADVICE r12): the tier candidate graph is
    * SYMMETRIZED, so every vertex with any edge has an in-edge and
    * this law cannot fire there — it holds vacuously at the tier and
    * bites only on directed inputs (TierInvariantsSpec's crafted
    * directed frames prove it non-vacuous). Kept because the checker
    * is input-shape-generic and the vacuity is a property of today's
    * tier graph, not of the law. */
  def pprIsolatedViolations(pr: DataFrame, edges: DataFrame, seed: Column): DataFrame =
    edges.select(col("src").as("doc_id")).distinct()
      .filter(!seed)
      .join(edges.select(col("dst").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .join(pr, Seq("doc_id"))
      .filter(col("pr") =!= 0L)
      .select(col("doc_id"), lit("isolated_nonseed_nonzero").as("violation"))

  // -----------------------------------------------------------------
  // BFS: hop-range, parent existence, edge relaxation
  // -----------------------------------------------------------------

  /** Violations for a min-hop BFS output (doc_id, hops) from `seeds`
    * (one-column `v`) through `edges`, depth-limited at `maxHops`.
    * Laws: every seed labeled 0; hops ∈ [0, maxHops]; every labeled
    * non-seed has an in-neighbor labeled exactly hops−1 (a BFS
    * certificate); no edge (u → v) with both ends labeled violates
    * hops(v) ≤ hops(u) + 1 (minimality within the depth budget). */
  def bfsViolations(out: DataFrame, edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    val seedBad = seeds.join(out, col("v") === col("doc_id"), "left")
      .filter(col("hops").isNull || col("hops") =!= 0L)
      .select(col("v").as("doc_id"), lit("seed_not_zero").as("violation"))
    val range = out.filter(col("hops") < 0 || col("hops") > maxHops)
      .select(col("doc_id"), lit("hops_out_of_range").as("violation"))
    val parents = edges.join(out.select(col("doc_id").as("src"),
        col("hops").as("ph")), "src")
      .select(col("dst").as("doc_id"), col("ph"))
    val noParent = out.filter(col("hops") > 0)
      .join(parents, Seq("doc_id"), "left")
      .groupBy("doc_id", "hops")
      .agg(max(when(col("ph") === col("hops") - 1, 1).otherwise(0)).as("ok"))
      .filter(col("ok") =!= 1)
      .select(col("doc_id"), lit("no_parent_at_hops_minus_1").as("violation"))
    val relax = edges
      .join(out.select(col("doc_id").as("src"), col("hops").as("hu")), "src")
      .join(out.select(col("doc_id").as("dst"), col("hops").as("hv")), "dst")
      .filter(col("hv") > col("hu") + 1)
      .select(col("dst").as("doc_id"), lit("edge_relaxation").as("violation"))
    seedBad.unionByName(range).unionByName(noParent).unionByName(relax)
  }

  // -----------------------------------------------------------------
  // K-core: independent twin peel (semi-join kernel)
  // -----------------------------------------------------------------

  /** Independent re-peel of the k-core with a DIFFERENT round kernel
    * (left_semi restriction instead of inner-join degree build), then
    * the symmetric difference against the query output — a full twin,
    * tractable because the peel is linear in edges. */
  def kcoreViolations(out: DataFrame, edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var alive = edges.select(col("src").as("v")).distinct().localCheckpoint()
    var dg: DataFrame = null
    for (i <- 1 to rounds) {
      val sub = edges
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
      dg = sub.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg2"))
      val next = dg.filter(col("dg2") >= k).select("v")
      alive = if (i < rounds) next.localCheckpoint() else next
    }
    val twin = dg.filter(col("dg2") >= k)
      .select(col("v").as("doc_id"), col("dg2").cast("long").as("core_deg"))
    val missing = twin.join(out, Seq("doc_id", "core_deg"), "left_anti")
      .select(col("doc_id"), lit("twin_row_missing_in_output").as("violation"))
    val extra = out.join(twin, Seq("doc_id", "core_deg"), "left_anti")
      .select(col("doc_id"), lit("output_row_not_in_twin").as("violation"))
    missing.unionByName(extra)
  }

  // -----------------------------------------------------------------
  // LPA: partition laws + component refinement
  // -----------------------------------------------------------------

  /** Violations for an LPA output (doc_id, community, n_members)
    * against a connected-components labeling (doc_id, cluster_id) of
    * the SAME graph. Laws: each vertex labeled once; n_members equals
    * the community's actual row count; labels can only travel along
    * edges, so a community NEVER spans two components — the refinement
    * law TextDedupSpec proves on synthetic topologies, here judged at
    * scale by a structurally different algorithm (pointer-jumping CC
    * vs majority label propagation) over the same edge set. The graphs
    * MUST match: the first draft of this gate compared LPA (which runs
    * on the LSH candidate graph) against q_dedup_components (which
    * runs on the verified-Jaccard graph) and fired 69 spurious
    * violations at the 10× tier — communities legitimately span
    * verified-graph components when the candidate graph bridges them. */
  def lpaViolations(out: DataFrame, cc: DataFrame): DataFrame = {
    // vertex completeness both ways (ADVICE r12: without the missing
    // check, an LPA output that silently DROPS vertices passes): cc is
    // one row per graph vertex, so it doubles as the vertex universe
    val missing = cc.select("doc_id").join(out, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("vertex_missing").as("violation"))
    val extra = out.join(cc.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("row_not_a_vertex").as("violation"))
    val dup = out.groupBy("doc_id").agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("doc_id"), lit("duplicate_vertex").as("violation"))
    val sz = out.groupBy("community").agg(count(lit(1)).as("actual"))
    val szBad = out.join(sz, "community")
      .filter(col("n_members") =!= col("actual"))
      .select(col("doc_id"), lit("n_members_mismatch").as("violation"))
    val spans = out.join(cc, "doc_id")
      .groupBy("community")
      .agg(countDistinct("cluster_id").as("ncc"))
      .filter(col("ncc") > 1)
      .select(col("community").as("doc_id"),
        lit("community_spans_components").as("violation"))
    missing.unionByName(extra).unionByName(dup).unionByName(szBad)
      .unionByName(spans)
  }

  // -----------------------------------------------------------------
  // Triangle census: neighbor-set-intersection twin
  // -----------------------------------------------------------------

  /** Independent triangle/wedge recompute: neighbor sets per vertex
    * (degree is LSH-band-bounded, so the arrays are small), triangles
    * as Σ_{(a,b) ∈ cand} |N(a) ∩ N(b)| / 3 — each triangle counted
    * once per edge — against the query's three-way-join census. */
  def triangleViolations(out: DataFrame, cand: DataFrame): DataFrame = {
    val nb = symEdges(cand).groupBy(col("src").as("v"))
      .agg(collect_set(col("dst")).as("nbs"))
    // every cand endpoint appears as a src in the symmetrized edges (its
    // counterpart is its neighbor), so the inner joins lose no pair
    val tri3 = cand
      .join(nb.select(col("v").as("a_id"), col("nbs").as("na")), "a_id")
      .join(nb.select(col("v").as("b_id"), col("nbs").as("nbv")), "b_id")
      .select(size(array_intersect(col("na"), col("nbv"))).cast("long").as("nc"))
      .agg(coalesce(sum("nc"), lit(0L)).as("t3"))
    val deg = symEdges(cand).groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val wdg = deg.agg(coalesce(sum(expr("dg * (dg - 1) div 2")), lit(0L)).as("w2"))
    out.crossJoin(tri3).crossJoin(wdg)
      .filter(col("n_triangles") * 3 =!= col("t3")
        || col("n_wedges") =!= col("w2")
        || (col("n_wedges") > 0
            && col("clustering_coeff") =!= lit(3.0) * col("n_triangles")
               / col("n_wedges").cast("double"))
        || (col("n_wedges") === 0 && col("clustering_coeff") =!= 0.0))
      .select(lit(-1L).as("doc_id"), lit("census_mismatch").as("violation"))
  }

  // -----------------------------------------------------------------
  // Link prediction: formula + degree-bound + is_new re-derivation
  // -----------------------------------------------------------------

  /** Violations for (a_id, b_id, n_common, jaccard_ppm, is_new) against
    * the candidate relation. Laws: both endpoints are real graph
    * vertices (ADVICE r12: the first draft's INNER degree joins let a
    * fabricated pair referencing an unknown id vanish instead of flag —
    * left joins + a null-degree law close that, the edit1Violations
    * name_not_in_vocab pattern); canonical a<b order; n_common within
    * [1, min(deg a, deg b)]; jaccard_ppm re-derived exactly by
    * inclusion-exclusion; is_new == 1 exactly when the pair has no
    * direct candidate edge. */
  def linkPredictViolations(out: DataFrame, cand: DataFrame): DataFrame = {
    val deg = symEdges(cand).groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val hit = cand.select(col("a_id"), col("b_id"), lit(1L).as("_hit"))
    val j = out
      .join(deg.select(col("v").as("a_id"), col("dg").as("da")), Seq("a_id"), "left")
      .join(deg.select(col("v").as("b_id"), col("dg").as("db")), Seq("b_id"), "left")
      .join(hit, Seq("a_id", "b_id"), "left")
    val unknown = j.filter(col("da").isNull || col("db").isNull)
      .select(col("a_id").as("doc_id"), lit("endpoint_not_a_vertex").as("violation"))
    val invalid = j.filter(col("da").isNotNull && col("db").isNotNull
        && (col("a_id") >= col("b_id")
          || col("n_common") < 1
          || col("n_common") > least(col("da"), col("db"))
          || col("jaccard_ppm") =!=
             expr("(n_common * 1000000L) div (da + db - n_common)")
          || col("is_new") =!= when(col("_hit").isNull, 1L).otherwise(0L)))
      .select(col("a_id").as("doc_id"), lit("link_row_invalid").as("violation"))
    unknown.unionByName(invalid)
  }

  // -----------------------------------------------------------------
  // Edit-1 neighborhood: per-pair soundness re-verification
  // -----------------------------------------------------------------

  /** Violations for (a_name, b_name): every emitted pair re-verified
    * with the FULL (unbanded) levenshtein; canonical order; no
    * duplicates; both names drawn from the vocabulary. Completeness is
    * the quadratic half the sf0.01 all-pairs oracle proves. */
  def edit1Violations(out: DataFrame, names: DataFrame): DataFrame = {
    val bad = out.filter(col("a_name") >= col("b_name")
        || levenshtein(col("a_name"), col("b_name")) > 1)
      .select(col("a_name").as("doc_id"), lit("pair_invalid").as("violation"))
    val dup = out.groupBy("a_name", "b_name").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("a_name").as("doc_id"), lit("duplicate_pair").as("violation"))
    val unknown = out.select(col("a_name").as("t"))
      .unionByName(out.select(col("b_name").as("t")))
      .join(names, Seq("t"), "left_anti")
      .select(col("t").as("doc_id"), lit("name_not_in_vocab").as("violation"))
    bad.unionByName(dup).unionByName(unknown)
  }

  // -----------------------------------------------------------------
  // Multimodal near-dup: per-pair distance recomputed from payloads
  // -----------------------------------------------------------------

  /** Shared recompute for the two multimodal near-dup gates: restrict
    * the corpus to docs appearing in output pairs (the output is
    * near-dup-sized, so the recompute never touches the full cross
    * product), rebuild each doc's histogram with an INDEPENDENT
    * formulation (posexplode of the char split — no fan-out scan, no
    * map-alignment machinery), and re-derive the pair's intersection
    * and L1 distance. `key` maps (0-based position i, n, ascii byte)
    * to the histogram key. */
  private def histRecompute(out: DataFrame, docs: DataFrame,
      keySql: String): DataFrame = {
    val ids = out.select(col("a_id").as("doc_id"))
      .unionByName(out.select(col("b_id").as("doc_id"))).distinct()
    val d = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
    val hist = d.select(col("doc_id"), col("n"),
        posexplode(split(col("text"), "")))
      .select(col("doc_id"), expr(keySql).as("k"))
      .groupBy("doc_id", "k").agg(count(lit(1)).as("c"))
    out.select("a_id", "b_id")
      .join(hist.select(col("doc_id").as("a_id"), col("k"), col("c").as("ca")), "a_id")
      .join(hist.select(col("doc_id").as("b_id"), col("k"), col("c").as("cb")),
        Seq("b_id", "k"))
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("ca"), col("cb"))).as("inter2"))
  }

  /** q_multimodal_histdup (a_id, b_id, na, nb, n_inter, l1_dist):
    * lengths, intersection, distance, and the ≤10% gate re-derived.
    * Length joins are LEFT with a null-length law (ADVICE r12: inner
    * joins silently dropped a fabricated pair referencing a doc id
    * absent from the corpus instead of flagging it). */
  def histdupViolations(out: DataFrame, docs: DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val rec = histRecompute(out, docs, "CAST(ascii(col) AS BIGINT)")
    out.join(rec, Seq("a_id", "b_id"), "left")
      .join(lens.select(col("doc_id").as("a_id"), col("len").as("la")),
        Seq("a_id"), "left")
      .join(lens.select(col("doc_id").as("b_id"), col("len").as("lb")),
        Seq("b_id"), "left")
      .filter(col("la").isNull || col("lb").isNull
        || col("na") =!= col("la") || col("nb") =!= col("lb")
        || coalesce(col("inter2"), lit(0L)) =!= col("n_inter")
        || col("l1_dist") =!= col("na") + col("nb") - lit(2) * col("n_inter")
        || lit(20) * col("l1_dist") > col("na") + col("nb"))
      .select(col("a_id").as("doc_id"), lit("histdup_row_invalid").as("violation"))
  }

  /** q_multimodal_blockhash (a_id, b_id, na, nb, block_l1): the 4-block
    * positional histogram distance re-derived per emitted pair; LEFT
    * length joins with the null-length law, as [[histdupViolations]]. */
  def blockhashViolations(out: DataFrame, docs: DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val rec = histRecompute(out, docs,
      "(CAST(pos AS BIGINT) * 4 div n) * 1000 + ascii(col)")
    out.join(rec, Seq("a_id", "b_id"), "left")
      .join(lens.select(col("doc_id").as("a_id"), col("len").as("la")),
        Seq("a_id"), "left")
      .join(lens.select(col("doc_id").as("b_id"), col("len").as("lb")),
        Seq("b_id"), "left")
      .filter(col("la").isNull || col("lb").isNull
        || col("na") =!= col("la") || col("nb") =!= col("lb")
        || col("block_l1") =!=
           col("na") + col("nb") - lit(2) * coalesce(col("inter2"), lit(0L))
        || lit(20) * col("block_l1") > col("na") + col("nb"))
      .select(col("a_id").as("doc_id"), lit("blockhash_row_invalid").as("violation"))
  }

  // -----------------------------------------------------------------
  // Harness
  // -----------------------------------------------------------------

  /** All ten gates as (query, checker) pairs; each checker runs the
    * real query through the public SparkEntry surface. */
  def checks(s: SparkSession, d: String): Seq[(String, () => DataFrame)] = {
    def q(n: String) = SparkEntry.queries(n)(s, d)
    lazy val cand = q("q_dedup_minhash_lsh")
    lazy val edges = symEdges(cand)
    Seq(
      "q_pagerank" -> (() =>
        pagerankViolations(q("q_pagerank"), edges, None)),
      "q_ppr_seed" -> (() =>
        pagerankViolations(q("q_ppr_seed"), edges, Some(col("doc_id") % 17 === 0))
          .unionByName(pprIsolatedViolations(q("q_ppr_seed"), edges,
            col("doc_id") % 17 === 0))),
      "q_bfs_hops" -> (() =>
        bfsViolations(
          q("q_bfs_hops").select(col("doc_id"), col("hops")),
          edges,
          edges.select(col("src").as("v")).distinct().filter(col("v") % 17 === 0),
          3)),
      "q_kcore" -> (() => kcoreViolations(q("q_kcore"), edges, 2, 3)),
      "q_communities_lpa" -> (() =>
        lpaViolations(q("q_communities_lpa"),
          graft.queries.TextDedup.connectedComponents(edges)
            .select(col("id").as("doc_id"), col("label").as("cluster_id")))),
      "q_triangle_count" -> (() => triangleViolations(q("q_triangle_count"), cand)),
      "q_link_predict" -> (() => linkPredictViolations(q("q_link_predict"), cand)),
      "q_edit1_neighbors" -> (() =>
        edit1Violations(q("q_edit1_neighbors"),
          Tables.customer(s, d).select(col("c_name").as("t")).distinct())),
      "q_multimodal_histdup" -> (() =>
        histdupViolations(q("q_multimodal_histdup"), Tables.documents(s, d))),
      "q_multimodal_blockhash" -> (() =>
        blockhashViolations(q("q_multimodal_blockhash"), Tables.documents(s, d))))
  }

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.getOrElse(TierGen.defaultTier)
    val spark = Sessions.build("local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0L
    checks(spark, tier).foreach { case (name, f) =>
      val t0 = System.nanoTime()
      val viol = f().groupBy("violation").agg(count(lit(1)).as("n")).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      if (viol.isEmpty) println(f"INVARIANT $name%-24s OK    $secs%6.1f s")
      else viol.foreach { r =>
        bad += r.getLong(1)
        println(f"INVARIANT $name%-24s VIOLATION ${r.getString(0)} x${r.getLong(1)}")
      }
      graft.ops.Caches.drain()
    }
    println(s"TIER-INVARIANTS ${if (bad == 0) "ALL OK" else s"$bad VIOLATIONS"} at $tier")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
