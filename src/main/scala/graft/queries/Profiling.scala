package graft.queries

import graft.QuerySpec
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling and drift-audit operators — the "know your data" passes
  * a pipeline runs before and after every ingest: one-pass column
  * profiles, functional-dependency audits, changepoint detection on
  * arrival volumes, mergeable sliding-window distinct sketches, and a
  * complete edit-distance-1 neighborhood join for key-typo discovery.
  *
  * Reference context: the reference validates shape only implicitly (its
  * staging asserts nothing beyond pandas dtype coercion,
  * `/root/reference/src/main.py`); these are the extension operators a
  * 100 TB lakehouse needs to trust what it ingested.
  */
object Profiling {

  // -------------------------------------------------------------------
  // One-pass column profiler
  // -------------------------------------------------------------------

  /** Column profile of `orders` in ONE scan: row count, null count,
    * exact distinct count, min/max per column, emitted long-form (one row
    * per column). All metrics compute in a single wide aggregate — the
    * multi-distinct goes through Spark's Expand-based rewrite, still one
    * pass over the data with partial aggregation — and the reshape to
    * long form is a `stack` over the ONE aggregated row (metadata-sized,
    * never a per-row unpivot of the table).
    *
    * min/max are aggregated in their native type and cast to string
    * AFTER aggregation (casting first would compare "100" < "99"
    * lexicographically). Only integer/varchar columns are profiled so the
    * string rendering is engine-identical (double formatting is not). */
  val profileColumns = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    QuerySpec(
      "q_profile_columns",
      s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr,
                 ${cols.zipWithIndex.map { case (c, i) =>
                   s"""CAST(COUNT($c) AS BIGINT) AS nn$i,
                       CAST(COUNT(DISTINCT $c) AS BIGINT) AS nd$i,
                       CAST(MIN($c) AS VARCHAR) AS mn$i,
                       CAST(MAX($c) AS VARCHAR) AS mx$i"""
                 }.mkString(",\n")}
                 FROM orders)
          ${cols.zipWithIndex.map { case (c, i) =>
            s"""SELECT '$c' AS column_name, nr AS n_rows, nr - nn$i AS n_nulls,
                       nd$i AS n_distinct, mn$i AS min_val, mx$i AS max_val FROM a"""
          }.mkString("\nUNION ALL\n")}""") {
      (s, d) =>
        // the multi-distinct Expand multiplies rows ×(cols+1) BEFORE the
        // first exchange — fan the pruned scan out so it isn't single-task
        val o = graft.ops.Scale.fanOutScan(
          Tables.orders(s, d).select(cols.map(col): _*), col("o_orderkey"))
        val aggs = count(lit(1)).cast("long").as("nr") +:
          cols.zipWithIndex.flatMap { case (c, i) =>
            Seq(
              count(col(c)).cast("long").as(s"nn$i"),
              countDistinct(col(c)).cast("long").as(s"nd$i"),
              min(col(c)).cast("string").as(s"mn$i"),
              max(col(c)).cast("string").as(s"mx$i"))
          }
        val one = o.agg(aggs.head, aggs.tail: _*)
        val stacked = cols.zipWithIndex.map { case (c, i) =>
          s"'$c', nr, nr - nn$i, nd$i, mn$i, mx$i"
        }.mkString(", ")
        one.select(expr(s"stack(${cols.size}, $stacked)")
          .as(Seq("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")))
    }
  }

  // -------------------------------------------------------------------
  // Functional-dependency audit
  // -------------------------------------------------------------------

  /** Functional-dependency audit over candidate det→dep pairs: for each
    * pair, the group count, how many determinant groups map to more than
    * one dependent value (violations), and the maximum branching factor.
    * FD mining is the schema-inference workhorse (key discovery,
    * normalization checks, join-safety proofs before a 100 TB backfill).
    *
    * Scale shape per pair: one distinct-aggregate keyed on the
    * determinant (map-side partial distinct, then a count rollup of the
    * group table) — the table is scanned once per pair with only the two
    * columns read (pruned scan), and no pair ever joins the table to
    * itself. */
  val fdAudit = {
    final case class Fd(tbl: String, det: String, dep: String)
    val pairs = Seq(
      Fd("orders", "o_orderkey", "o_custkey"),      // key: holds
      Fd("orders", "o_custkey", "o_orderpriority"), // violated
      Fd("lineitem", "l_orderkey", "l_returnflag"), // violated
      Fd("lineitem", "l_partkey", "l_suppkey"))     // violated
    QuerySpec(
      "q_fd_audit",
      pairs.map { p =>
        s"""SELECT '${p.tbl}' AS tbl, '${p.det}' AS det, '${p.dep}' AS dep,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violating,
                   CAST(MAX(nd) AS BIGINT) AS max_branching,
                   CAST(CASE WHEN COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0
                        THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
            FROM (SELECT ${p.det}, COUNT(DISTINCT ${p.dep}) AS nd
                  FROM ${p.tbl} GROUP BY 1) g"""
      }.mkString("\nUNION ALL\n")) {
      (s, d) =>
        pairs.map { p =>
          val t = Tables.table(s, d, p.tbl)
          t.groupBy(col(p.det)).agg(countDistinct(col(p.dep)).as("nd"))
            .agg(
              count(lit(1)).cast("long").as("n_groups"),
              coalesce(sum(when(col("nd") > 1, 1L).otherwise(0L)), lit(0L))
                .cast("long").as("n_violating"),
              max("nd").cast("long").as("max_branching"))
            .select(
              lit(p.tbl).as("tbl"), lit(p.det).as("det"), lit(p.dep).as("dep"),
              col("n_groups"), col("n_violating"), col("max_branching"),
              when(col("n_violating") === 0, 1L).otherwise(0L)
                .cast("long").as("fd_holds"))
        }.reduce(_ unionByName _)
    }
  }

  // -------------------------------------------------------------------
  // Edit-distance-1 neighborhood join (SymSpell shape)
  // -------------------------------------------------------------------

  /** COMPLETE edit-distance-1 pairing of customer names via the deletion
    * neighborhood (SymSpell): each name generates itself plus every
    * single-character deletion as candidate keys; two names within edit
    * distance 1 provably share a key (substitution → delete the differing
    * position from both; insert/delete → the shorter string IS a deletion
    * variant of the longer), so the equi-join on variants finds every
    * pair and `levenshtein ≤ 1` discards the distance-2 collisions the
    * neighborhood also admits (e.g. "abc"/"acb" share "ab").
    *
    * The oracle is deliberately the ALL-PAIRS filter — same result set by
    * a different algorithm, so the hash-match is a completeness proof for
    * the neighborhood join (the q_dedup_lsh_recall pattern, but exact:
    * SymSpell at distance 1 has recall 1 by construction, and this query
    * verifies it).
    *
    * Scale shape: |names|·(len+1) variant rows shuffle on near-unique
    * string keys; the expensive verify runs on in-bucket candidates only.
    * The all-pairs O(n²) product exists ONLY oracle-side. */
  /** The neighborhood join over a (t) vocabulary — factored so the spec
    * can prove recall-1 against brute force on crafted vocabularies. */
  private[graft] def edit1Of(v: DataFrame): DataFrame = {
    // the join keys on xxhash64(variant), not the variant string: an
    // 8-byte shuffle key instead of a name-length one. A hash collision
    // can only ADD a candidate (same string always hashes the same, so
    // completeness is untouched), and the levenshtein verify kills it —
    // the LSH-bucket pattern, but here the verify keeps exactness
    val vars = v.select(col("t"), explode(expr(
      """concat(array(t),
                transform(sequence(1, length(t)),
                  i -> concat(substr(t, 1, i - 1), substr(t, i + 1, length(t)))))"""))
      .as("variant"))
      .select(col("t"), xxhash64(col("variant")).as("vh"))
      .distinct()
    // shuffle-hash, NOT broadcast: the variant table is O(n·len) — a
    // growing side, never a dim table — and at bench SF the planner's
    // size estimate ducks under the broadcast threshold, making every
    // run build a ~10⁵-row hashed relation on the driver-side path (the
    // r11 bench's most contention-volatile row: a 3× wall spread under
    // neighboring queries' heap pressure). Hinting the hash join onto
    // the vh shuffle is 2× faster warm in isolation, drops the
    // broadcast build entirely, and is the only shape that survives n
    // growing past any broadcast threshold
    vars.toDF("a_name", "vh").hint("shuffle_hash")
      .join(vars.toDF("b_name", "vh"), "vh")
      .filter(col("a_name") < col("b_name"))
      // banded threshold levenshtein (O(len) per pair, not O(len²)) runs
      // BEFORE the pair distinct: verifying the ~3x-duplicated candidate
      // stream is cheaper than shuffling it wide for distinct first
      .filter(levenshtein(col("a_name"), col("b_name"), 1) === 1)
      .select("a_name", "b_name")
      .distinct()
  }

  val edit1Neighbors = QuerySpec(
    "q_edit1_neighbors",
    """WITH v AS (SELECT DISTINCT c_name AS t FROM customer)
       SELECT a.t AS a_name, b.t AS b_name
       FROM v a JOIN v b ON a.t < b.t
       WHERE levenshtein(a.t, b.t) <= 1""") {
    (s, d) =>
      edit1Of(Tables.customer(s, d).select(col("c_name").as("t")).distinct())
  }

  // -------------------------------------------------------------------
  // CUSUM changepoint on daily volumes
  // -------------------------------------------------------------------

  /** CUSUM changepoint per event type: the day where the cumulative
    * arrival count deviates most from the uniform-rate line — the audit
    * that catches "source X halved its volume on the 12th" before the
    * model trained on it. The statistic is kept INTEGER: with prefix_i
    * the running count after day i (of n days, grand total T), the
    * deviation is D_i = n·prefix_i − i·T (the CUSUM residual scaled by
    * n — sign and argmax unchanged), so both engines agree bit-exactly
    * and no double drift is possible. Changepoint = earliest day of
    * maximal |D|.
    *
    * Scale shape: one map-side-combinable (type, day) count, then windows
    * over the AGGREGATED day series — |types|·|days| rows, metadata-sized
    * regardless of event volume; the raw stream is scanned once. */
  /** CUSUM over a (event_type, d, c) day-count series — factored so the
    * spec can pin the changepoint on a synthetic rate step. */
  private[graft] def cusumOf(dc: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val byDay = byType.orderBy("d")
    val st = dc.select(col("event_type"), col("d"), col("c"),
      row_number().over(byDay).cast("long").as("i"),
      sum("c").over(byDay).as("pfx"),
      sum("c").over(byType).as("total"),
      count(lit(1)).over(byType).as("n_days"))
    val dev = st.withColumn("dd", col("n_days") * col("pfx") - col("i") * col("total"))
    dev.withColumn("rn",
        row_number().over(byType.orderBy(abs(col("dd")).desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("cp_day"),
        abs(col("dd")).cast("long").as("max_dev"),
        col("n_days").cast("long").as("n_days"),
        col("total").cast("long").as("total"))
  }

  val cusumChangepoint = QuerySpec(
    "q_cusum_changepoint",
    """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, d, c,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
                     SUM(c) OVER (PARTITION BY event_type ORDER BY d) AS pfx,
                     SUM(c) OVER (PARTITION BY event_type) AS total,
                     COUNT(*) OVER (PARTITION BY event_type) AS n_days
              FROM dc),
       dev AS (SELECT event_type, d, n_days, total,
                      n_days * pfx - i * total AS dd
               FROM st)
       SELECT event_type, d AS cp_day, CAST(abs(dd) AS BIGINT) AS max_dev,
              CAST(n_days AS BIGINT) AS n_days, CAST(total AS BIGINT) AS total
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY abs(dd) DESC, d) AS rn
             FROM dev) t
       WHERE rn = 1""") {
    (s, d) =>
      cusumOf(Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("c")))
  }

  // -------------------------------------------------------------------
  // Sliding-window distinct via mergeable KMV sketches
  // -------------------------------------------------------------------

  /** Trailing-3-day distinct users per day via MERGEABLE KMV sketches:
    * one corpus pass builds a k=16 minimum-values sketch per day; every
    * trailing window is then answered by merging three SKETCHES (≤3k
    * hashes) instead of re-scanning three days of raw events — the
    * sketch-algebra pattern that turns an O(window·data) sliding distinct
    * into O(data) + O(days·k) at 100 TB (contrast [[EventsMultimodal]]'s
    * q_stickiness, which pays the exact range join). The exact trailing
    * count rides along as the diagnostic, mirroring q_sketch_kmv.
    *
    * Determinism: hashes are md5-hex prefixes (fixed-width lowercase hex
    * compares lexicographically == numerically); merge = distinct-union
    * then k smallest; estimate = (k−1)·2³²/kth via integer division; a
    * window holding fewer than k hashes IS the exact set, so the estimate
    * equals the true count there. The per-day k-min runs as a rank filter
    * Spark executes as WindowGroupLimit — per-partition top-k BEFORE the
    * exchange, the distributed sketch-build shape. */
  /** The sketch-build + merge over a distinct (day, user_id) frame —
    * factored so the spec can prove est == exact below the sketch
    * capacity and bounded error above it. */
  private[graft] def kmvTrailingOf(du: DataFrame, k: Int): DataFrame = {
    val h = du.select(col("day"),
      expr("substr(md5(cast(user_id as string)), 1, 8)").as("h8")).distinct()
    val byDay = Window.partitionBy("day").orderBy("h8")
    val sk = h.withColumn("rn", row_number().over(byDay)).filter(col("rn") <= k)
      .select("day", "h8")
    val days = du.select("day").distinct()
    val mg = sk.select(explode(expr("sequence(0, 2)")).as("off"), col("day"), col("h8"))
      .select(expr("date_add(day, off)").as("day"), col("h8"))
      .join(days, "day")
      .distinct()
    val kk = mg.withColumn("rn", row_number().over(byDay)).filter(col("rn") <= k)
      .groupBy("day")
      .agg(count(lit(1)).cast("long").as("cnt"), max("h8").as("kth"))
    val ex = du.select(explode(expr("sequence(0, 2)")).as("off"), col("day"), col("user_id"))
      .select(expr("date_add(day, off)").as("day"), col("user_id"))
      .join(days, "day")
      .groupBy("day")
      .agg(countDistinct("user_id").as("true_distinct"))
    kk.join(ex, "day")
      .select(col("day"),
        expr(s"case when cnt < $k then cnt else (${k - 1} * 4294967296L) div conv(kth, 16, 10) end")
          .cast("long").as("est_distinct"),
        col("true_distinct"))
  }

  val windowDistinctKmv = {
    val k = 16
    val hexToInt =
      """list_reduce(list_transform(generate_series(1, 8),
           i -> CAST(strpos('0123456789abcdef', substr(kth, i, 1)) - 1 AS BIGINT)),
           (a, c) -> a * 16 + c)"""
    QuerySpec(
      "q_window_distinct_kmv",
      s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
          h AS (SELECT DISTINCT day, substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS h8
                FROM du),
          sk AS (SELECT day, h8 FROM (
                   SELECT day, h8, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h8) AS rn
                   FROM h) t WHERE rn <= $k),
          days AS (SELECT DISTINCT day FROM du),
          mg AS (SELECT DISTINCT d.day, s.h8
                 FROM days d JOIN sk s ON s.day BETWEEN d.day - 2 AND d.day),
          top AS (SELECT day, h8,
                         ROW_NUMBER() OVER (PARTITION BY day ORDER BY h8) AS rn
                  FROM mg),
          kk AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(h8) AS kth
                 FROM top WHERE rn <= $k GROUP BY 1),
          ex AS (SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS true_distinct
                 FROM days d JOIN du u ON u.day BETWEEN d.day - 2 AND d.day
                 GROUP BY 1)
          SELECT kk.day,
                 CAST(CASE WHEN cnt < $k THEN cnt
                      ELSE (${k - 1} * 4294967296) // $hexToInt END AS BIGINT)
                   AS est_distinct,
                 ex.true_distinct
          FROM kk JOIN ex ON ex.day = kk.day""") {
      (s, d) =>
        kmvTrailingOf(Tables.events(s, d)
          .select(col("ts").cast("date").as("day"), col("user_id")).distinct(), k)
    }
  }

  // -------------------------------------------------------------------
  // Association rules over user baskets
  // -------------------------------------------------------------------

  /** Pairwise association rules over per-user event-type baskets:
    * support, confidence and lift for every ordered type pair — the
    * market-basket pass that tells a pipeline which behaviors co-occur
    * beyond chance (lift > 1e6 ppm). All ratios are ×10⁶ integer
    * divisions, so both engines agree exactly.
    *
    * Scale shape: the basket table is the distinct (user, type) pairs —
    * one map-side-combinable pass over the stream; the pair join is
    * user-keyed with per-user fan-out bounded by #types² (a constant),
    * never events×events; singles and the user count broadcast back onto
    * the #types²-row rule table. */
  val basketRules = QuerySpec(
    "q_basket_rules",
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       n AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
       s1 AS (SELECT event_type, count(*) AS supp FROM ut GROUP BY 1),
       pp AS (SELECT a.event_type AS ante, b.event_type AS cons, count(*) AS supp_pair
              FROM ut a JOIN ut b
                ON a.user_id = b.user_id AND a.event_type <> b.event_type
              GROUP BY 1, 2)
       SELECT pp.ante, pp.cons, CAST(pp.supp_pair AS BIGINT) AS supp_pair,
              CAST(sa.supp AS BIGINT) AS supp_ante,
              CAST(sc.supp AS BIGINT) AS supp_cons,
              CAST(pp.supp_pair * 1000000 // sa.supp AS BIGINT) AS conf_ppm,
              CAST((pp.supp_pair * nu * 1000000) // (sa.supp * sc.supp) AS BIGINT)
                AS lift_ppm
       FROM pp JOIN s1 sa ON sa.event_type = pp.ante
               JOIN s1 sc ON sc.event_type = pp.cons
               CROSS JOIN n""") {
    (s, d) =>
      val ut = Tables.events(s, d).select("user_id", "event_type").distinct()
      val n = ut.agg(countDistinct("user_id").as("nu"))
      val s1 = ut.groupBy("event_type").agg(count(lit(1)).as("supp"))
      val pp = ut.toDF("user_id", "ante")
        .join(ut.toDF("user_id", "cons"), "user_id")
        .filter(col("ante") =!= col("cons"))
        .groupBy("ante", "cons").agg(count(lit(1)).as("supp_pair"))
      pp.join(broadcast(s1.toDF("ante", "supp_ante")), "ante")
        .join(broadcast(s1.toDF("cons", "supp_cons")), "cons")
        .crossJoin(broadcast(n))
        .select(col("ante"), col("cons"),
          col("supp_pair").cast("long").as("supp_pair"),
          col("supp_ante").cast("long").as("supp_ante"),
          col("supp_cons").cast("long").as("supp_cons"),
          expr("supp_pair * 1000000L div supp_ante").cast("long").as("conf_ppm"),
          expr("(supp_pair * nu * 1000000L) div (supp_ante * supp_cons)")
            .cast("long").as("lift_ppm"))
  }

  // -------------------------------------------------------------------
  // Distribution drift between stream halves
  // -------------------------------------------------------------------

  /** Per-type share drift between the first and second half of the
    * observed date range — the population-stability check run before
    * retraining on a refreshed snapshot: each type's share of each
    * half's events in ppm, plus the absolute drift. Pure integer
    * arithmetic (share = count·10⁶ div half-total) — a chi-square would
    * square cross-products into int64 overflow at 100 TB counts; the
    * share-delta form needs only one multiplication by 10⁶, safe to
    * ~10¹² events per half, and ranks types by drift identically.
    *
    * Scale shape: one (type, half) count with map-side combine — the
    * half label is a pure per-row projection against broadcast bounds —
    * then ppm arithmetic on the #types-row table. */
  val shareDrift = QuerySpec(
    "q_share_drift",
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
       lab AS (SELECT event_type,
                      CASE WHEN date_diff('day', lo, day) * 2
                                <= date_diff('day', lo, hi)
                           THEN 0 ELSE 1 END AS h
               FROM d CROSS JOIN bounds),
       tt AS (SELECT event_type,
                     COALESCE(SUM(CASE WHEN h = 0 THEN 1 END), 0) AS o1,
                     COALESCE(SUM(CASE WHEN h = 1 THEN 1 END), 0) AS o2
              FROM lab GROUP BY 1),
       tot AS (SELECT SUM(o1) AS c1, SUM(o2) AS c2 FROM tt)
       SELECT event_type, CAST(o1 AS BIGINT) AS n_h1, CAST(o2 AS BIGINT) AS n_h2,
              CAST(o1 * 1000000 // c1 AS BIGINT) AS share_h1_ppm,
              CAST(o2 * 1000000 // c2 AS BIGINT) AS share_h2_ppm,
              CAST(abs(o1 * 1000000 // c1 - o2 * 1000000 // c2) AS BIGINT)
                AS drift_ppm
       FROM tt CROSS JOIN tot""") {
    (s, d) =>
      val dd = Tables.events(s, d)
        .select(col("event_type"), col("ts").cast("date").as("day"))
      val bounds = dd.agg(min("day").as("lo"), max("day").as("hi"))
      val lab = dd.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          when(datediff(col("day"), col("lo")) * 2
            <= datediff(col("hi"), col("lo")), 0).otherwise(1).as("h"))
      // the #types-row count table feeds both the grand total and the
      // final projection: lease-cache it so the events stream is counted
      // ONCE (without it, the grand-total branch re-derives the whole
      // labeled scan — a 2x read at 100 TB)
      val tt = graft.ops.Caches.lease(lab.groupBy("event_type")
        .agg(
          coalesce(sum(when(col("h") === 0, 1L)), lit(0L)).as("o1"),
          coalesce(sum(when(col("h") === 1, 1L)), lit(0L)).as("o2")))
      val tot = tt.agg(sum("o1").as("c1"), sum("o2").as("c2"))
      tt.crossJoin(broadcast(tot))
        .select(col("event_type"),
          col("o1").cast("long").as("n_h1"), col("o2").cast("long").as("n_h2"),
          expr("o1 * 1000000L div c1").cast("long").as("share_h1_ppm"),
          expr("o2 * 1000000L div c2").cast("long").as("share_h2_ppm"),
          expr("abs(o1 * 1000000L div c1 - o2 * 1000000L div c2)")
            .cast("long").as("drift_ppm"))
  }

  // -------------------------------------------------------------------
  // Sorted-neighborhood ER blocking
  // -------------------------------------------------------------------

  /** Sorted-neighborhood entity-resolution pairs: names sorted under a
    * global order, each compared to its next w=2 neighbors, matches kept
    * at edit distance ≤ 2 — the third blocking strategy in the ER family
    * (attribute blocking: q_fuzzy_match; deletion neighborhoods:
    * q_edit1_neighbors; sorted windows: this — the classic merge/purge
    * design, Hernández & Stolfo SIGMOD'95).
    *
    * The global rank comes from [[graft.ops.Scale.distributedRank]] —
    * range-partitioned per-partition ranks + broadcast count prefix —
    * NEVER a single-task window (the q_vocab_zipf lesson); neighbor
    * pairing is then an equi-join on rank+offset, so the whole pipeline
    * is shuffle-bounded by the name table with full parallelism. */
  val snmPairs = QuerySpec(
    "q_snm_pairs",
    """WITH v AS (SELECT DISTINCT c_name AS t FROM customer),
       r AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rnk FROM v)
       SELECT a.t AS a_name, b.t AS b_name,
              CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
              CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
       FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 2
       WHERE levenshtein(a.t, b.t) <= 2""") {
    (s, d) =>
      val v = Tables.customer(s, d).select(col("c_name").as("t")).distinct()
      val r = graft.ops.Scale.distributedRank(v, Seq(graft.ops.Scale.SortKey("t")), 8, "rnk")
      val a = r.toDF("a_name", "a_rnk")
        .select(col("a_name"), col("a_rnk"),
          explode(expr("array(1L, 2L)")).as("off"))
      a.join(r.toDF("b_name", "b_rnk"), col("b_rnk") === col("a_rnk") + col("off"))
        .withColumn("edit_dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
        .filter(col("edit_dist") <= 2)
        .select(col("a_name"), col("b_name"), col("edit_dist"),
          col("off").cast("long").as("rank_gap"))
  }

  // -------------------------------------------------------------------
  // Half-life decayed engagement
  // -------------------------------------------------------------------

  /** Per-user engagement score with a 7-day half-life, EXACT: weight of a
    * day aged a days is 2^(20 − min(⌊a/7⌋, 20)) — power-of-two halving by
    * bit shift, so the score is a plain integer sum both engines compute
    * bit-identically (the float exp(−λ·age) form this replaces cannot
    * cross-engine-hash). score ∈ [n_events, n_events·2²⁰]: safe in int64
    * below ~8·10¹² events per user.
    *
    * Scale shape: one map-side-combinable (user, day) count, the
    * single-row max-day broadcast back, then a user-keyed sum — the raw
    * stream shuffles once, aged weights are a per-row projection. */
  val decayScore = QuerySpec(
    "q_decay_score",
    """WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
                   FROM events GROUP BY 1, 2),
       mx AS (SELECT max(day) AS ref FROM ud),
       w AS (SELECT user_id, c,
                    date_diff('day', day, ref) // 7 AS agew
             FROM ud CROSS JOIN mx)
       SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
              CAST(sum(c * (CAST(1 AS BIGINT) << CAST(20 - least(agew, 20) AS INTEGER)))
                   AS BIGINT) AS decay_score_m
       FROM w GROUP BY 1""") {
    (s, d) =>
      val ud = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val mx = ud.agg(max("day").as("ref"))
      ud.crossJoin(broadcast(mx))
        .select(col("user_id"), col("c"),
          expr("datediff(ref, day) div 7").as("agew"))
        .groupBy("user_id")
        .agg(sum("c").cast("long").as("n_events"),
          sum(col("c") * expr("shiftleft(1L, cast(20 - least(agew, 20) AS int))"))
            .cast("long").as("decay_score_m"))
  }

  // -------------------------------------------------------------------
  // Last-touch conversion attribution
  // -------------------------------------------------------------------

  /** Last-touch attribution: every purchase is credited to the SAME
    * user's most recent strictly-earlier non-purchase event (ties broken
    * by event_id; purchases with no predecessor credit 'none'), then
    * conversions roll up per credited channel — the marketing-funnel
    * question ("which behavior immediately precedes buying?") asked of
    * the event stream. The carry-forward is `last(... IGNORE NULLS)`
    * over ROWS UNBOUNDED PRECEDING..1 PRECEDING, identical in both
    * engines under the same total order.
    *
    * Scale shape: ONE user-partitioned ts-sorted window pass (the
    * sessionize floor — per-user re-sort, no global sort), then a
    * #channels-row rollup. Never events×events. */
  val attribLastTouch = QuerySpec(
    "q_attrib_last_touch",
    """WITH lt AS (
         SELECT event_type,
                last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         FROM events)
       SELECT COALESCE(touch, 'none') AS channel,
              CAST(count(*) AS BIGINT) AS n_conversions
       FROM lt WHERE event_type = 'purchase'
       GROUP BY 1""") {
    (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_type"),
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w).as("touch"))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("channel"))
        .agg(count(lit(1)).cast("long").as("n_conversions"))
  }

  // -------------------------------------------------------------------
  // Seasonal (day-of-week) residuals
  // -------------------------------------------------------------------

  /** Day-of-week seasonal baseline + residuals per event type: expected
    * volume for a (type, weekday) is the integer mean over that weekday's
    * observed days, each day's residual is observed − expected, and days
    * deviating > 50 % from their weekday norm are flagged — the seasonal
    * adjustment CUSUM/MAD/z-score skip (a quiet Sunday is not an anomaly;
    * the same count on a Tuesday is). The weekday is epoch-anchored
    * (days-since-1970 mod 7), identical in both engines — never the
    * 0-vs-1-based dayofweek() trap. All-integer.
    *
    * Scale shape: one map-side-combinable (type, day) count (leased —
    * both the baseline and the final join read it), then the
    * 7·#types-row baseline broadcasts back. The raw stream is scanned
    * once. */
  val seasonalResidual = QuerySpec(
    "q_seasonal_residual",
    """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
                   FROM events GROUP BY 1, 2),
       dw AS (SELECT event_type, d, c,
                     date_diff('day', DATE '1970-01-01', d) % 7 AS dow
              FROM dc),
       base AS (SELECT event_type, dow, sum(c) // count(*) AS expected
                FROM dw GROUP BY 1, 2)
       SELECT dw.event_type, dw.d AS day, CAST(dw.c AS BIGINT) AS n,
              CAST(dw.dow AS BIGINT) AS dow,
              CAST(base.expected AS BIGINT) AS expected_dow,
              CAST(dw.c - base.expected AS BIGINT) AS residual,
              CAST(CASE WHEN 2 * abs(dw.c - base.expected) > base.expected
                        THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
       FROM dw JOIN base ON base.event_type = dw.event_type
                        AND base.dow = dw.dow""") {
    (s, d) =>
      val dc = graft.ops.Caches.lease(Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("c")))
      val dw = dc.withColumn("dow",
        expr("datediff(d, DATE'1970-01-01') % 7"))
      val base = dw.groupBy("event_type", "dow")
        .agg(expr("sum(c) div count(1)").as("expected"))
      dw.join(broadcast(base), Seq("event_type", "dow"))
        .select(col("event_type"), col("d").as("day"),
          col("c").cast("long").as("n"), col("dow").cast("long").as("dow"),
          col("expected").cast("long").as("expected_dow"),
          (col("c") - col("expected")).cast("long").as("residual"),
          when(lit(2) * abs(col("c") - col("expected")) > col("expected"), 1L)
            .otherwise(0L).cast("long").as("is_anomaly"))
  }

  // -------------------------------------------------------------------
  // Consecutive-day activity streaks (gaps-and-islands)
  // -------------------------------------------------------------------

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands form: on the distinct (user, epoch-day) grid,
    * `epoch_day − row_number()` is constant exactly along a run of
    * consecutive days, so grouping on that island key counts each streak
    * without self-joins or per-day LAG chains. Epoch-day integers
    * (days-since-1970) keep the arithmetic engine-identical.
    *
    * Scale shape: the distinct collapses map-side (a user's events land
    * on few partitions after the shuffle on user — and the (user, day)
    * grid is bounded by users × calendar, tiny next to the event
    * stream); the window partitions BY USER, so parallelism is #users,
    * never one task. The two follow-up aggregates reuse the same
    * user-keyed partitioning (no extra Exchange — pinned in PlanSpec). */
  val userStreak = QuerySpec(
    "q_user_streak",
    """WITH days AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
                     FROM events),
       r AS (SELECT user_id, ed,
                    ed - row_number() OVER (PARTITION BY user_id ORDER BY ed) AS isl
             FROM days),
       st AS (SELECT user_id, isl, count(*) AS len FROM r GROUP BY 1, 2)
       SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak,
              CAST(sum(len) AS BIGINT) AS n_active_days,
              CAST(count(*) AS BIGINT) AS n_streaks
       FROM st GROUP BY 1""") {
    (s, d) =>
      streaksOf(Tables.events(s, d)
        .select(col("user_id"),
          expr("datediff(cast(ts as date), DATE'1970-01-01')").as("ed"))
        .distinct())
  }

  /** Gaps-and-islands streak rollup on a distinct (user_id, ed) day grid
    * — exposed private[graft] so GraphProfilingSpec can prove the island
    * arithmetic on crafted calendars (single runs, gaps, singletons). */
  private[graft] def streaksOf(days: DataFrame): DataFrame = {
    val r = days.withColumn("isl",
      col("ed") - row_number().over(Window.partitionBy("user_id").orderBy("ed")))
    r.groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("best_streak"),
        sum("len").cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"))
  }

  // -------------------------------------------------------------------
  // Exact distinct counting via fixed-width bitmap words
  // -------------------------------------------------------------------

  /** Exact distinct-user counts per event type via bitmap words — the
    * roaring-bitmap shape as pure relational algebra: bucket the id space
    * into 63-bit words (shift 0..62 only; bit 63 would overflow DuckDB's
    * checked `<<`), OR the one-hot words per (type, bucket) with the
    * map-side-combinable `bit_or` aggregate, then popcount. The exact
    * `count(DISTINCT)` rides along as the self-audit column — the two
    * MUST agree (the bitmap is exact, not a sketch), and the driver's
    * hash-compare enforces it against DuckDB's independent evaluation.
    *
    * Why this exists next to HLL/KMV: sketches trade exactness for
    * state; the bitmap is exact AND mergeable, the right tool when the
    * id domain is dense (users, SKUs). At 10⁹ dense ids the word table
    * is 10⁹/63 ≈ 16M rows per group key — shuffled once, partially
    * aggregated map-side, never collected; count(DISTINCT) by contrast
    * expands every raw id into the Expand rewrite. */
  val bitmapDistinct = QuerySpec(
    "q_bitmap_distinct",
    """WITH b AS (SELECT event_type, user_id // 63 AS bucket,
                    bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
                  FROM events GROUP BY 1, 2),
       a AS (SELECT event_type, CAST(sum(bit_count(word)) AS BIGINT) AS n_bitmap,
                    CAST(count(*) AS BIGINT) AS n_words
             FROM b GROUP BY 1),
       e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
             FROM events GROUP BY 1)
       SELECT a.event_type, a.n_bitmap, a.n_words, CAST(e.n_exact AS BIGINT) AS n_exact
       FROM a JOIN e ON e.event_type = a.event_type""") {
    (s, d) =>
      val ev = graft.ops.Caches.lease(
        Tables.events(s, d).select(col("event_type"), col("user_id")))
      val a = bitmapDistinctOf(ev)
      val e = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      // both sides are #event_types rows after aggregation; the group-key
      // domain is bounded at any corpus size, so broadcast is always right
      a.join(broadcast(e), Seq("event_type"))
  }

  /** The bitmap distinct rollup on any (event_type, user_id) frame —
    * exposed private[graft] for the crafted bucket-boundary unit test
    * (ids 0, 62, 63, 126 land in the right words; dups collapse). */
  private[graft] def bitmapDistinctOf(ev: DataFrame): DataFrame = {
    val b = ev
      .groupBy(col("event_type"), expr("user_id div 63").as("bucket"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(user_id % 63 as int)))")
        .as("word"))
    b.groupBy("event_type")
      .agg(sum(expr("bit_count(word)")).cast("long").as("n_bitmap"),
        count(lit(1)).as("n_words"))
  }

  // -------------------------------------------------------------------
  // Two-proportion significance, exact rational arithmetic
  // -------------------------------------------------------------------

  /** A/B significance per event type with NO floating point: users split
    * into variants by id parity, reach = distinct users touching the
    * type, and the pooled two-proportion z-test decides significance by
    * cross-multiplication — z² ≥ 1.96² is equivalent to
    * `(x_a·n_b − x_b·n_a)²·N·10⁴ ≥ 38416·n_a·n_b·x·(N−x)` (N = n_a+n_b,
    * x = x_a+x_b), an exact integer comparison both engines evaluate
    * identically (sqrt-free, division-free). Degenerate pools (x = 0 or
    * x = N: zero pooled variance) are defined as not significant.
    *
    * Scale shape: two distinct-user aggregates (map-side combinable) and
    * a broadcast single-row cross join of the variant totals onto the
    * #types-row table. At web-scale counts (10⁹ users) the products
    * reach ~10⁴⁵ — route the comparison through DECIMAL(38,0) after
    * dividing both sides by gcd-able factors, or pre-scale counts to
    * thousands; the BIGINT form here is exact to n ≈ 10⁶ per variant. */
  val abTest = QuerySpec(
    "q_ab_test",
    """WITH u AS (SELECT DISTINCT user_id, user_id % 2 AS v FROM events),
       n AS (SELECT v, count(*) AS nv FROM u GROUP BY 1),
       x AS (SELECT event_type, user_id % 2 AS v, count(DISTINCT user_id) AS xv
             FROM events GROUP BY 1, 2),
       p AS (SELECT event_type,
                    max(CASE WHEN v = 0 THEN xv ELSE 0 END) AS x_a,
                    max(CASE WHEN v = 1 THEN xv ELSE 0 END) AS x_b
             FROM x GROUP BY 1),
       nn AS (SELECT max(CASE WHEN v = 0 THEN nv END) AS n_a,
                     max(CASE WHEN v = 1 THEN nv END) AS n_b
              FROM n)
       SELECT event_type, CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
              CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
              CAST(CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN 0
                        WHEN (x_a*n_b - x_b*n_a) * (x_a*n_b - x_b*n_a)
                               * (n_a + n_b) * 10000
                             >= 38416 * n_a * n_b * (x_a + x_b)
                               * (n_a + n_b - x_a - x_b)
                        THEN 1 ELSE 0 END AS BIGINT) AS significant
       FROM p CROSS JOIN nn""") {
    (s, d) =>
      val ev = graft.ops.Caches.lease(Tables.events(s, d)
        .select(col("event_type"), col("user_id"), expr("user_id % 2").as("v")))
      val n = ev.select("user_id", "v").distinct()
        .groupBy("v").agg(count(lit(1)).as("nv"))
      val p = ev.groupBy("event_type", "v")
        .agg(countDistinct(col("user_id")).as("xv"))
        .groupBy("event_type")
        .agg(max(when(col("v") === 0, col("xv")).otherwise(0L)).as("x_a"),
          max(when(col("v") === 1, col("xv")).otherwise(0L)).as("x_b"))
      val nn = n.agg(max(when(col("v") === 0, col("nv"))).as("n_a"),
        max(when(col("v") === 1, col("nv"))).as("n_b"))
      p.crossJoin(broadcast(nn))
        .select(col("event_type"), col("x_a"), col("x_b"), col("n_a"), col("n_b"),
          z2Significant(col("x_a"), col("x_b"), col("n_a"), col("n_b"))
            .as("significant"))
  }

  /** The sqrt-free pooled two-proportion test at α = 0.05 as an exact
    * long-integer predicate (1/0) — exposed private[graft] so the spec
    * can pin it against a floating-point z² on crafted counts. */
  private[graft] def z2Significant(
      xa: Column, xb: Column, na: Column, nb: Column): Column =
    when(xa + xb === 0L || xa + xb === na + nb, 0L)
      .when((xa * nb - xb * na) * (xa * nb - xb * na)
        * (na + nb) * lit(10000L)
        >= lit(38416L) * na * nb * (xa + xb) * (na + nb - xa - xb), 1L)
      .otherwise(0L).cast("long")

  // -------------------------------------------------------------------
  // Theil–Sen robust trend slope
  // -------------------------------------------------------------------

  /** Theil–Sen estimator per event type: the MEDIAN of all pairwise
    * slopes of the daily-count series — the robust trend line
    * (breakdown point 29%: a third of the days can be corrupted before
    * the slope moves, where OLS q_linear_fit follows a single outlier
    * day). Slopes are exact-integer differences divided as doubles
    * (bit-identical IEEE in both engines) and the median is
    * PERCENTILE_DISC — an actual element, no interpolation, so the
    * cross-engine hash holds.
    *
    * Scale shape: the pair join runs on the AGGREGATED (type, day) count
    * table — #days² per type, calendar-bounded (a year is ≤66k pairs
    * per type), never on the raw stream; the count pass itself is one
    * map-side-combinable aggregate. The within-type inequality join is
    * an equi-join on type with the day comparison as a post-filter. */
  val theilSen = QuerySpec(
    "q_theilsen",
    """WITH dc AS (SELECT event_type,
                     date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
                     count(*) AS c
                   FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type AS event_type,
                    CAST(b.c - a.c AS DOUBLE) / (b.ed - a.ed) AS slope
             FROM dc a JOIN dc b
               ON a.event_type = b.event_type AND b.ed > a.ed)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
              percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) AS ts_slope
       FROM p GROUP BY 1""") {
    (s, d) =>
      theilSenOf(graft.ops.Caches.lease(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(cast(ts as date), DATE'1970-01-01')").as("ed"))
        .agg(count(lit(1)).as("c"))))
  }

  /** Theil–Sen on any (event_type, ed, c) series table — exposed
    * private[graft] so the spec can prove the breakdown property on a
    * crafted series (an outlier day that drags OLS leaves the median
    * slope untouched). */
  private[graft] def theilSenOf(dc: DataFrame): DataFrame = {
    val a = dc.select(col("event_type"), col("ed").as("a_ed"), col("c").as("a_c"))
    val b = dc.select(col("event_type"), col("ed").as("b_ed"), col("c").as("b_c"))
    a.join(b, Seq("event_type"))
      .filter(col("b_ed") > col("a_ed"))
      .select(col("event_type"),
        ((col("b_c") - col("a_c")).cast("double") / (col("b_ed") - col("a_ed")))
          .as("slope"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)").as("ts_slope"))
  }

  // -------------------------------------------------------------------
  // Join-key skew audit
  // -------------------------------------------------------------------

  /** Key-distribution audit for join planning — the measurement that
    * DECIDES between a plain shuffle join, AQE's runtime skew split, and
    * [[graft.ops.Scale.saltedJoin]]: per candidate join column, the key
    * count, the hottest key's frequency and corpus share (ppm), and the
    * median/p99 frequency. A top1 share in the 10⁵-ppm range (like
    * events.event_type here) means a shuffle on that key funnels 10%+ of
    * the table through one reducer — salt it; a flat profile
    * (events.user_id) joins plain.
    *
    * Scale shape: one map-side-combinable count per audited column — the
    * stats then aggregate the COUNT table (#keys rows, not #rows). The
    * exact percentile buffers that count table; at a 10⁹-key domain
    * swap in [[graft.ops.Quantiles.exactQuantiles]] (histogram
    * refinement, metadata-sized driver state) — same output, same plan
    * upstream. */
  val skewAudit = {
    def sideSql(tbl: String, c: String) =
      s"""SELECT '$tbl.$c' AS key_col, CAST(sum(f) AS BIGINT) AS n_rows,
            CAST(count(*) AS BIGINT) AS n_keys, CAST(max(f) AS BIGINT) AS max_f,
            CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY f) AS BIGINT) AS p50_f,
            CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY f) AS BIGINT) AS p99_f,
            CAST(max(f) * 1000000 // sum(f) AS BIGINT) AS top1_ppm
          FROM (SELECT $c, count(*) AS f FROM $tbl GROUP BY 1)"""
    QuerySpec(
      "q_skew_audit",
      Seq(("events", "event_type"), ("events", "user_id"),
        ("lineitem", "l_partkey")).map((sideSql _).tupled).mkString("\nUNION ALL\n")) {
      (s, d) =>
        def side(df: DataFrame, tbl: String, c: String): DataFrame =
          df.groupBy(col(c)).agg(count(lit(1)).as("f"))
            .agg(sum("f").cast("long").as("n_rows"),
              count(lit(1)).as("n_keys"),
              max("f").as("max_f"),
              expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY f)").cast("long").as("p50_f"),
              expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY f)").cast("long").as("p99_f"),
              expr("max(f) * 1000000 div sum(f)").as("top1_ppm"))
            .select(lit(s"$tbl.$c").as("key_col"), col("n_rows"), col("n_keys"),
              col("max_f"), col("p50_f"), col("p99_f"), col("top1_ppm"))
        side(Tables.events(s, d), "events", "event_type")
          .unionByName(side(Tables.events(s, d), "events", "user_id"))
          .unionByName(side(Tables.table(s, d, "lineitem"), "lineitem", "l_partkey"))
    }
  }

  /** Exact join-cardinality prediction WITHOUT running the join:
    * |A ⋈ₖ B| = Σₖ aₖ·bₖ over the two per-key COUNT tables — the
    * estimator a planner consults before committing to a shuffle. The
    * count tables are #keys rows (tiny next to the inputs), so the
    * predictor costs two grouped scans + one key join of aggregates
    * where the real join would cost the full fan-out — the
    * events⋈events row here is the point: joining on a 5-value key
    * predicts ~7×10⁸ output rows from 6×10⁴ inputs, the number that
    * says "don't". max_key_pairs is the hottest key's contribution —
    * the same signal [[skewAudit]] reads per side, here for the PAIR. */
  val joinCardinality = {
    def pairSql(name: String, at: String, ak: String, bt: String, bk: String) =
      s"""SELECT '$name' AS join_name,
            CAST(count(*) AS BIGINT) AS n_keys,
            CAST(sum(a.c * b.c) AS BIGINT) AS pred_rows,
            CAST(max(a.c * b.c) AS BIGINT) AS max_key_pairs
          FROM (SELECT $ak AS k, count(*) AS c FROM $at GROUP BY 1) a
          JOIN (SELECT $bk AS k, count(*) AS c FROM $bt GROUP BY 1) b USING (k)"""
    QuerySpec(
      "q_join_cardinality",
      Seq(("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("events*events", "events", "event_type", "events", "event_type"))
        .map((pairSql _).tupled).mkString("\nUNION ALL\n")) {
      (s, d) =>
        def counts(df: DataFrame, k: String): DataFrame =
          df.groupBy(col(k).as("k")).agg(count(lit(1)).as("c"))
        def pair(name: String, a: DataFrame, b: DataFrame): DataFrame =
          a.join(b.withColumnRenamed("c", "bc"), "k")
            .agg(count(lit(1)).as("n_keys"),
              sum(col("c") * col("bc")).as("pred_rows"),
              max(col("c") * col("bc")).as("max_key_pairs"))
            .select(lit(name).as("join_name"), col("n_keys"), col("pred_rows"),
              col("max_key_pairs"))
        val ev = counts(Tables.events(s, d), "event_type")
        pair("lineitem*part",
          counts(Tables.table(s, d, "lineitem"), "l_partkey"),
          counts(Tables.part(s, d), "p_partkey"))
          .unionByName(pair("orders*customer",
            counts(Tables.orders(s, d), "o_custkey"),
            counts(Tables.customer(s, d), "c_custkey")))
          .unionByName(pair("events*events", ev, ev))
    }
  }

  /** Small-number suppression audit — the disclosure-control gate every
    * published statistics table passes before release (the NHS/ONS rule
    * the reference's published_* views feed into: cells of 1-4 persons
    * are suppressed, survivors round to the nearest 5). The publication
    * grid here is nation × market segment × account-balance band; the
    * report is per-segment: cell count, the grid's actual k-anonymity
    * (min cell), suppressed cells/persons, and the published total after
    * round-to-5 of surviving cells. One grouped pass builds the grid;
    * every audit number aggregates the #cells table. Integer arithmetic
    * throughout — round-to-5 is (c+2) div 5 * 5, exact in both engines. */
  val kanonSuppress = QuerySpec(
    "q_kanon_suppress",
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
                         CAST(floor(c_acctbal / 5000) AS BIGINT) AS band,
                         count(*) AS c
                  FROM customer GROUP BY 1, 2, 3)
       SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_cells,
              CAST(min(c) AS BIGINT) AS k_min,
              CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
              CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS suppressed_rows,
              CAST(sum(CASE WHEN c >= 5 THEN (c + 2) // 5 * 5 ELSE 0 END) AS BIGINT) AS published_total
       FROM g GROUP BY 1""") {
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 5000).cast("long").as("band"))
        .agg(count(lit(1)).as("c"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cells"),
          min("c").as("k_min"),
          sum(when(col("c") < 5, 1L).otherwise(0L)).as("n_suppressed"),
          sum(when(col("c") < 5, col("c")).otherwise(0L)).as("suppressed_rows"),
          sum(when(col("c") >= 5, expr("(c + 2) div 5 * 5")).otherwise(0L))
            .as("published_total"))
  }

  /** Distinct l-diversity audit — the disclosure check k-anonymity alone
    * misses ([[kanonSuppress]] bounds CLASS SIZE; this bounds what a
    * class REVEALS): a quasi-identifier class where k = 40 but every
    * member shares one sensitive value still discloses that value for
    * anyone linkable to the class (the homogeneity attack — Machanavajjhala
    * et al., ICDE'06). Per QI class (order priority × order year) over
    * the sensitive order status: k (class size), distinct-l (sensitive
    * values present), the max single-value share in exact ppm (the
    * probabilistic disclosure risk an attacker attains), and the l ≥ 2
    * pass flag. Everything integer — k, l, and the one ×10⁶ division.
    *
    * Scale shape: one (QI, sensitive) count with map-side combine — the
    * cell table is |QI classes| × |sensitive domain|, metadata-sized
    * relative to the fact table — then a per-class rollup; no joins, no
    * windows, nothing keyed below the class grain. */
  val kanonLdiversity = QuerySpec(
    "q_kanon_ldiversity",
    """WITH cells AS (SELECT o_orderpriority,
                             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                             o_orderstatus, count(*) AS c
                      FROM orders GROUP BY 1, 2, 3)
       SELECT o_orderpriority, yr,
              CAST(sum(c) AS BIGINT) AS k,
              CAST(count(*) AS BIGINT) AS l_distinct,
              CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_ppm,
              CAST(CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS diverse
       FROM cells GROUP BY 1, 2""") {
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("c"))
        .groupBy("o_orderpriority", "yr")
        .agg(sum("c").cast("long").as("k"),
          count(lit(1)).cast("long").as("l_distinct"),
          expr("max(c) * 1000000L div sum(c)").cast("long").as("top_share_ppm"),
          when(count(lit(1)) >= 2, 1L).otherwise(0L).cast("long").as("diverse"))
  }

  // -------------------------------------------------------------------
  // Heavy hitters: Misra-Gries candidates + exact verify
  // -------------------------------------------------------------------

  /** Distributed heavy hitters (frequency > n/(k+1)) in the two-phase
    * sketch-then-verify shape: phase 1 runs the custom
    * [[graft.functions.SketchAggregates.MgTopKAgg]] aggregate
    * (`mg_topk(event_type, 7)`) — a Misra-Gries summary whose aggregation
    * buffer crosses the shuffle with AT MOST k entries per partition, so
    * candidate generation over a 10⁹-type column costs k·#partitions
    * shuffle bytes, never a full-cardinality exchange; phase 2 exactly
    * re-counts ONLY the ≤k candidates via a broadcast semi-join and
    * applies the threshold. The MG no-false-negative guarantee (any item
    * with f > n/(k+1) is in the summary — Misra-Gries '82, merge bound
    * from Agarwal et al. PODS'12) makes the two-phase result provably
    * equal to the full GROUP BY + HAVING the oracle runs, which is what
    * lets a sketch query live under an exact-hash correctness gate.
    * The threshold compare is integer (cnt·(k+1) > n): no division.
    *
    * NULL semantics: heavy hitters are defined over the NON-NULL values —
    * both sides filter `event_type IS NOT NULL` and `n` counts non-null
    * rows. (The MG aggregate skips nulls and a semi-join key never
    * matches NULL, so without the explicit filter a null-heavy column
    * would silently diverge from SQL's GROUP BY, which keeps a NULL
    * group — ProfilingNullSpec pins this on a crafted null-heavy table.) */
  val heavyHitters = QuerySpec(
    "q_heavy_hitters",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              (SELECT CAST(count(event_type) AS BIGINT) FROM events) AS n_total
       FROM events WHERE event_type IS NOT NULL GROUP BY 1
       HAVING count(*) * 8 > (SELECT count(event_type) FROM events)
       ORDER BY event_type""") {
    (s, d) =>
      import graft.functions.SketchAggregates.mg_topk
      val ev = Tables.events(s, d).select("event_type")
        .filter(col("event_type").isNotNull)
      val cand = ev.agg(mg_topk(col("event_type"), 7).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("event_type"))
      val total = ev.agg(count(lit(1)).as("n_total"))
      ev.join(broadcast(cand), Seq("event_type"), "left_semi")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * lit(8L) > col("n_total"))
        .orderBy("event_type")
  }

  // -------------------------------------------------------------------
  // Declarative data-quality expectations (the Deequ/Great-Expectations shape)
  // -------------------------------------------------------------------

  /** Six declarative quality constraints over `orders`, evaluated in ONE
    * scan: completeness (o_custkey not null), key uniqueness
    * (o_orderkey), domain membership (o_orderstatus ∈ {O,F,P}), range
    * (o_totalprice > 0), format (o_orderpriority ~ '^[1-5]-[A-Z ]+$'),
    * and timestamp bounds. Every counter lives in the SAME wide
    * aggregate — partial/final combined, so the 100 TB audit costs one
    * pruned scan plus a single-row exchange regardless of how many
    * constraints ride it — and the long-form reshape is a `stack` over
    * that ONE aggregated row (the q_profile_columns pattern).
    * Satisfaction rate is integer ppm (sat·10⁶ div n): no doubles near
    * the hash gate. This is the pre-ingest gate a pipeline bolts in
    * front of [[graft.etl.Sink]]: reject the batch when any `pass` is 0. */
  val expectations = QuerySpec(
    "q_expectations",
    """WITH a AS (SELECT
           CAST(COUNT(*) AS BIGINT) AS nr,
           CAST(COUNT(o_custkey) AS BIGINT) AS c_nn,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS c_uq,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_dom,
           CAST(COALESCE(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_rng,
           CAST(COALESCE(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_fmt,
           CAST(COALESCE(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01' AND o_orderdate < TIMESTAMP '2005-01-01' THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_ts
         FROM orders)
       SELECT constraint_name, n_rows, n_satisfied,
              CAST(n_satisfied * 1000000 // n_rows AS BIGINT) AS sat_ppm,
              CAST(CASE WHEN n_satisfied = n_rows THEN 1 ELSE 0 END AS BIGINT) AS pass
       FROM (
         SELECT 'complete_custkey' AS constraint_name, nr AS n_rows, c_nn AS n_satisfied FROM a
         UNION ALL SELECT 'unique_orderkey', nr, c_uq FROM a
         UNION ALL SELECT 'domain_orderstatus', nr, c_dom FROM a
         UNION ALL SELECT 'range_totalprice', nr, c_rng FROM a
         UNION ALL SELECT 'format_orderpriority', nr, c_fmt FROM a
         UNION ALL SELECT 'bounds_orderdate', nr, c_ts FROM a) t""") {
    (s, d) =>
      val one = Tables.orders(s, d).agg(
        count(lit(1)).cast("long").as("nr"),
        count(col("o_custkey")).cast("long").as("c_nn"),
        countDistinct(col("o_orderkey")).cast("long").as("c_uq"),
        coalesce(sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("c_dom"),
        coalesce(sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("c_rng"),
        coalesce(sum(when(col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("c_fmt"),
        coalesce(sum(when(
          col("o_orderdate") >= to_timestamp(lit("1992-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("2005-01-01")), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("c_ts"))
      one.select(expr(
        """stack(6,
             'complete_custkey', nr, c_nn,
             'unique_orderkey', nr, c_uq,
             'domain_orderstatus', nr, c_dom,
             'range_totalprice', nr, c_rng,
             'format_orderpriority', nr, c_fmt,
             'bounds_orderdate', nr, c_ts)""")
        .as(Seq("constraint_name", "n_rows", "n_satisfied")))
        .select(
          col("constraint_name"), col("n_rows"), col("n_satisfied"),
          expr("n_satisfied * 1000000L div n_rows").cast("long").as("sat_ppm"),
          when(col("n_satisfied") === col("n_rows"), 1L).otherwise(0L)
            .cast("long").as("pass"))
  }

  // -------------------------------------------------------------------
  // Fellegi–Sunter probabilistic linkage scoring
  // -------------------------------------------------------------------

  /** Fellegi–Sunter probabilistic record-linkage scoring over
    * sorted-neighborhood candidates — the SCORING layer the ER family
    * lacked: q_fuzzy_match / q_edit1_neighbors / q_snm_pairs each generate
    * blocked candidate pairs, but classify on a single field comparison;
    * Fellegi–Sunter (JASA 1969) instead sums per-FIELD agreement weights
    * log(m/u) and thresholds the total into match / review / nonmatch.
    *
    * Kept integer-exact cross-engine:
    *   - u-probabilities (chance agreement among non-matches) are
    *     FREQUENCY-DERIVED from the data, the classic refinement: for
    *     nation and segment, odds_f = N(N−1) / Σ_v f_v(f_v−1) — the
    *     inverse of the exact P(two random records agree on f);
    *   - the log is an integer ⌊log2⌋+1 via `length(bin(odds))` — real
    *     log-domain additive weighting without a floating-point log
    *     (both engines render bin(BIGINT) without leading zeros);
    *   - name (a unique identifier-like field, Σf(f−1)=0 makes its
    *     frequency odds infinite) and the ±$100 balance band (a
    *     continuous comparator with no frequency table) carry fixed
    *     literal weights 12 and 4 — the documented m/u priors — and every
    *     disagreement costs the flat −2 penalty.
    * Thresholds 14/4 put name-agreement-plus-one-corroborating-field at
    * 'match', name-only at 'review', the rest at 'nonmatch' — all three
    * classes occur on the synthetic names (neighbors differ in trailing
    * digits, so gap-1 pairs usually agree on name, gap-2 rarely).
    *
    * Scale shape: the global name rank comes from
    * [[graft.ops.Scale.distributedRank]] (never a single-task window);
    * candidates are the rank+offset equi-join (record-linear, the
    * q_snm_pairs shape); the three weight aggregates are metadata-sized
    * single rows broadcast onto the pair stream; scoring is a pure
    * per-pair projection. */
  /** Shared CTE chain of the Fellegi–Sunter scorer (through `sc` with
    * per-pair score), reused verbatim by [[linkageFs]] and the golden-
    * record rollup [[erGolden]] so both oracles score identically. */
  private[queries] val linkageScoreSql =
    """c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
             FROM customer),
       tot AS (SELECT COUNT(*) AS n FROM c),
       un AS (SELECT SUM(cnt * (cnt - 1)) AS s
              FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY c_nationkey)),
       us AS (SELECT SUM(cnt * (cnt - 1)) AS s
              FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY c_mktsegment)),
       w AS (SELECT length(bin(n * (n - 1) // un.s)) AS w_nat,
                    length(bin(n * (n - 1) // us.s)) AS w_seg
             FROM tot, un, us),
       r AS (SELECT c.*, ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
             FROM c),
       p AS (SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                    CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                         THEN 1 ELSE 0 END AS agree_name,
                    CASE WHEN a.c_nationkey = b.c_nationkey
                         THEN 1 ELSE 0 END AS agree_nation,
                    CASE WHEN a.c_mktsegment = b.c_mktsegment
                         THEN 1 ELSE 0 END AS agree_segment,
                    CASE WHEN abs(a.cents - b.cents) <= 10000
                         THEN 1 ELSE 0 END AS agree_balance
             FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 2),
       sc AS (SELECT p.*,
                     agree_name * 12 + (1 - agree_name) * (-2)
                     + agree_nation * w_nat + (1 - agree_nation) * (-2)
                     + agree_segment * w_seg + (1 - agree_segment) * (-2)
                     + agree_balance * 4 + (1 - agree_balance) * (-2) AS score
              FROM p CROSS JOIN w)"""

  val linkageFs = QuerySpec(
    "q_linkage_fs",
    s"""WITH $linkageScoreSql
       SELECT a_key, b_key,
              CAST(agree_name AS BIGINT) AS agree_name,
              CAST(agree_nation AS BIGINT) AS agree_nation,
              CAST(agree_segment AS BIGINT) AS agree_segment,
              CAST(agree_balance AS BIGINT) AS agree_balance,
              CAST(score AS BIGINT) AS score,
              CASE WHEN score >= 14 THEN 'match'
                   WHEN score >= 4 THEN 'review'
                   ELSE 'nonmatch' END AS decision
       FROM sc""") {
    (s, d) => linkageScored(s, d)
  }

  /** The scored Fellegi–Sunter pair frame (Spark side of
    * [[linkageScoreSql]] + decision), factored for [[erGolden]]. */
  private[queries] def linkageScored(s: SparkSession, d: String): DataFrame = {
      val c = Tables.customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      val n = c.agg(count(lit(1)).as("n"))
      val uNat = c.groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
        .agg(sum(expr("cnt * (cnt - 1)")).as("s_nat"))
      val uSeg = c.groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .agg(sum(expr("cnt * (cnt - 1)")).as("s_seg"))
      val w = n.crossJoin(uNat).crossJoin(uSeg)
        .select(expr("length(bin(n * (n - 1) div s_nat))").as("w_nat"),
          expr("length(bin(n * (n - 1) div s_seg))").as("w_seg"))
      val r = graft.ops.Scale.distributedRank(
        // c_custkey tie-break keeps the sort a TOTAL order even if the
        // synthetic names ever stop being unique — distributedRank (and
        // the oracle's ROW_NUMBER) are only deterministic under one
        // total order, so without it duplicate names would rank
        // arbitrarily and differently per engine
        c, Seq(graft.ops.Scale.SortKey("c_name"),
          graft.ops.Scale.SortKey("c_custkey")), 8, "rnk")
      val a = r.toDF("a_key", "a_name", "a_nat", "a_seg", "a_cents", "a_rnk")
        .select(col("a_key"), col("a_name"), col("a_nat"), col("a_seg"),
          col("a_cents"), col("a_rnk"), explode(expr("array(1L, 2L)")).as("off"))
      val b = r.toDF("b_key", "b_name", "b_nat", "b_seg", "b_cents", "b_rnk")
      a.join(b, col("b_rnk") === col("a_rnk") + col("off"))
        .crossJoin(broadcast(w))
        .select(col("a_key"), col("b_key"),
          when(levenshtein(col("a_name"), col("b_name")) <= 1, 1L)
            .otherwise(0L).as("agree_name"),
          when(col("a_nat") === col("b_nat"), 1L).otherwise(0L).as("agree_nation"),
          when(col("a_seg") === col("b_seg"), 1L).otherwise(0L).as("agree_segment"),
          when(abs(col("a_cents") - col("b_cents")) <= 10000, 1L)
            .otherwise(0L).as("agree_balance"),
          col("w_nat"), col("w_seg"))
        .withColumn("score",
          (col("agree_name") * 12 + (lit(1) - col("agree_name")) * -2
            + col("agree_nation") * col("w_nat") + (lit(1) - col("agree_nation")) * -2
            + col("agree_segment") * col("w_seg") + (lit(1) - col("agree_segment")) * -2
            + col("agree_balance") * 4 + (lit(1) - col("agree_balance")) * -2)
            .cast("long"))
        .withColumn("decision",
          when(col("score") >= 14, "match")
            .when(col("score") >= 4, "review")
            .otherwise("nonmatch"))
        .drop("w_nat", "w_seg")
  }

  // -------------------------------------------------------------------
  // Entity consolidation: golden records from linkage matches
  // -------------------------------------------------------------------

  /** Golden-record consolidation — the final stage of the ER pipeline
    * (blocking → [[linkageFs]] scoring → transitive clustering →
    * survivorship): 'match'-decision pairs are merged into entities by
    * connected components (a record linked to two others transitively
    * unifies all three, the classic merge/purge closure), singletons
    * stay their own entity, and each entity emits ONE canonical row
    * under explicit survivorship rules — smallest name (a deterministic
    * representative), richest balance (max cents), majority market
    * segment with a deterministic count-desc-then-value tie-break (the
    * q_mode discipline: both engines pick the same winner even on tied
    * counts).
    *
    * Scale shape: match edges are candidate-bounded (never all-pairs);
    * the closure is [[TextDedup.connectedComponents]]' log-round
    * pointer jumping; every survivorship aggregate is map-side
    * combinable per entity; the segment mode materializes only the
    * (entity, segment) cells — ≤ 5 per entity — and picks the winner
    * with a WindowGroupLimit-bounded rank, so no entity's member list
    * is ever collected. The oracle recomputes the closure as a
    * recursive CTE and must agree bitwise. */
  val erGolden = QuerySpec(
    "q_er_golden",
    s"""WITH RECURSIVE $linkageScoreSql,
       mp AS (SELECT a_key, b_key FROM sc WHERE score >= 14),
       medges AS (SELECT a_key AS src, b_key AS dst FROM mp
                  UNION ALL SELECT b_key, a_key FROM mp),
       reach(src, dst) AS (
         SELECT src, dst FROM medges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN medges e ON r.dst = e.src),
       comp AS (SELECT src AS k, least(src, min(dst)) AS ent
                FROM reach GROUP BY src),
       ent AS (SELECT c.c_custkey, COALESCE(comp.ent, c.c_custkey) AS entity_id,
                      c.c_name, c.c_mktsegment, c.cents
               FROM c LEFT JOIN comp ON comp.k = c.c_custkey),
       segcnt AS (SELECT entity_id, c_mktsegment, count(*) AS cnt
                  FROM ent GROUP BY 1, 2),
       segpick AS (SELECT entity_id, c_mktsegment AS canon_segment,
                          ROW_NUMBER() OVER (PARTITION BY entity_id
                            ORDER BY cnt DESC, c_mktsegment) AS rn
                   FROM segcnt),
       base AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
                       min(c_name) AS canon_name,
                       CAST(max(cents) AS BIGINT) AS best_cents
                FROM ent GROUP BY 1)
       SELECT b.entity_id, b.n_members, b.canon_name, b.best_cents,
              s.canon_segment
       FROM base b JOIN segpick s ON s.entity_id = b.entity_id AND s.rn = 1""") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = linkageScored(s, d)
        .filter(col("decision") === "match").select("a_key", "b_key")
      val edges = pairs
        .unionByName(pairs.select(col("b_key").as("a_key"), col("a_key").as("b_key")))
        .toDF("src", "dst")
      val comp = TextDedup.connectedComponents(edges)
        .toDF("c_custkey", "ent")
      val c = Tables.customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      // leased (r14): both survivorship passes (segment mode + base
      // aggregates) read this frame — uncached, the customer⋈components
      // join re-ran per pass
      val ent = graft.ops.Caches.lease(
        c.join(comp, Seq("c_custkey"), "left")
          .withColumn("entity_id", coalesce(col("ent"), col("c_custkey"))))
      val segPick = ent.groupBy("entity_id", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("entity_id")
            .orderBy(col("cnt").desc, col("c_mktsegment"))))
        .filter(col("rn") === 1)
        .select(col("entity_id"), col("c_mktsegment").as("canon_segment"))
      ent.groupBy("entity_id")
        .agg(count(lit(1)).cast("long").as("n_members"),
          min("c_name").as("canon_name"),
          max("cents").cast("long").as("best_cents"))
        .join(segPick, "entity_id")
  }

  // -------------------------------------------------------------------
  // Incremental entity resolution: arriving batch vs the standing corpus
  // -------------------------------------------------------------------

  /** Incremental ER — the form production runs DAILY once the batch
    * chain (q_snm_pairs → q_linkage_fs → q_er_golden) has built the
    * standing corpus: an arriving batch (c_custkey ≡ 0 mod 7 plays the
    * day's records) is matched against the CORPUS ONLY, with the
    * Fellegi–Sunter weights FROZEN FROM THE CORPUS — the incremental
    * contract (yesterday's model scores today's batch; retraining on
    * the union would make scores drift with every arrival). Per
    * arriving record: best corpus candidate (score desc, key asc — the
    * deterministic argmax), and the attach / review / new routing
    * decision ('new' also covers records whose block holds no corpus
    * candidate at all — emitted via the left join, never dropped).
    *
    * Blocking replaces the batch chain's global sorted-neighborhood
    * rank (a rank over corpus ∪ batch would re-shuffle the corpus every
    * day): arriving records equi-join the corpus on a name-prefix block
    * key whose two free trailing characters BOUND the block at ≤100
    * records by construction — the df-cap convention; a production
    * blocker with unbounded keys gets the dedup family's cap treatment.
    * Scale shape: weights are three metadata-sized aggregates over the
    * corpus, broadcast; the candidate join is block-keyed (never
    * all-pairs, ≤ block-size candidates per arrival); the per-arrival
    * argmax is a WindowGroupLimit-bounded rank over ≤ block-size rows
    * keyed on the HIGH-CARDINALITY arrival key. */
  val erIncremental = QuerySpec(
    "q_er_incremental",
    """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
                         substr(c_name, 1, 16) AS blk
                  FROM customer),
        corpus AS (SELECT * FROM c WHERE c_custkey % 7 <> 0),
        arr AS (SELECT * FROM c WHERE c_custkey % 7 = 0),
        tot AS (SELECT COUNT(*) AS n FROM corpus),
        un AS (SELECT SUM(cnt * (cnt - 1)) AS s
               FROM (SELECT COUNT(*) AS cnt FROM corpus GROUP BY c_nationkey)),
        us AS (SELECT SUM(cnt * (cnt - 1)) AS s
               FROM (SELECT COUNT(*) AS cnt FROM corpus GROUP BY c_mktsegment)),
        w AS (SELECT length(bin(n * (n - 1) // un.s)) AS w_nat,
                     length(bin(n * (n - 1) // us.s)) AS w_seg
              FROM tot, un, us),
        cand AS (SELECT a.c_custkey AS new_key, b.c_custkey AS cand_key,
                        (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                              THEN 12 ELSE -2 END
                         + CASE WHEN a.c_nationkey = b.c_nationkey
                                THEN w.w_nat ELSE -2 END
                         + CASE WHEN a.c_mktsegment = b.c_mktsegment
                                THEN w.w_seg ELSE -2 END
                         + CASE WHEN abs(a.cents - b.cents) <= 10000
                                THEN 4 ELSE -2 END) AS score
                 FROM arr a JOIN corpus b ON b.blk = a.blk CROSS JOIN w),
        best AS (SELECT new_key, cand_key, score,
                        ROW_NUMBER() OVER (PARTITION BY new_key
                          ORDER BY score DESC, cand_key) AS rn,
                        COUNT(*) OVER (PARTITION BY new_key) AS n_cands
                 FROM cand)
        SELECT a.c_custkey AS new_key,
               CAST(b.cand_key AS BIGINT) AS match_key,
               CAST(b.score AS BIGINT) AS score,
               CAST(COALESCE(b.n_cands, 0) AS BIGINT) AS n_cands,
               CASE WHEN b.cand_key IS NULL THEN 'new'
                    WHEN b.score >= 14 THEN 'attach'
                    WHEN b.score >= 4 THEN 'review'
                    ELSE 'new' END AS decision
        FROM arr a LEFT JOIN best b ON b.new_key = a.c_custkey AND b.rn = 1""") {
    (s, d) =>
      val c = Tables.customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"),
        substring(col("c_name"), 1, 16).as("blk"))
      erIncrementalOf(c.filter(col("c_custkey") % 7 =!= 0),
        c.filter(col("c_custkey") % 7 === 0))
  }

  /** [[erIncremental]]'s core over any (c_custkey, c_name, c_nationkey,
    * c_mktsegment, cents, blk) corpus/arrival split — factored so the
    * spec can drive crafted corpora (frozen-weight and no-candidate
    * cases) directly. */
  private[graft] def erIncrementalOf(corpus: DataFrame, arr: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // frozen Fellegi–Sunter u-probability weights of the standing corpus:
    // one (w_nat, w_seg) row from three metadata-sized aggregates
    val n = corpus.agg(count(lit(1)).as("n"))
    val uNat = corpus.groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
      .agg(sum(expr("cnt * (cnt - 1)")).as("s_nat"))
    val uSeg = corpus.groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .agg(sum(expr("cnt * (cnt - 1)")).as("s_seg"))
    val w = n.crossJoin(uNat).crossJoin(uSeg)
      .select(expr("length(bin(n * (n - 1) div s_nat))").as("w_nat"),
        expr("length(bin(n * (n - 1) div s_seg))").as("w_seg"))
    val score =
      (when(levenshtein(col("a_name"), col("b_name")) <= 1, 12).otherwise(-2)
        + when(col("a_nat") === col("b_nat"), col("w_nat")).otherwise(-2)
        + when(col("a_seg") === col("b_seg"), col("w_seg")).otherwise(-2)
        + when(abs(col("a_cents") - col("b_cents")) <= 10000, 4).otherwise(-2))
        .cast("long")
    val a = arr.toDF("new_key", "a_name", "a_nat", "a_seg", "a_cents", "blk")
    val b = corpus.toDF("cand_key", "b_name", "b_nat", "b_seg", "b_cents", "blk")
    val cand = a.join(b, "blk").crossJoin(broadcast(w))
      .select(col("new_key"), col("cand_key"), score.as("score"))
    val win = Window.partitionBy("new_key")
    val best = cand
      .withColumn("rn", row_number().over(win.orderBy(col("score").desc, col("cand_key"))))
      .withColumn("n_cands", count(lit(1)).over(win))
      .filter(col("rn") === 1)
    arr.select(col("c_custkey").as("new_key"))
      .join(best, Seq("new_key"), "left")
      .select(col("new_key"),
        col("cand_key").cast("long").as("match_key"),
        col("score").cast("long").as("score"),
        coalesce(col("n_cands"), lit(0L)).cast("long").as("n_cands"),
        when(col("cand_key").isNull, "new")
          .when(col("score") >= 14, "attach")
          .when(col("score") >= 4, "review")
          .otherwise("new").as("decision"))
  }

  val specs: Seq[QuerySpec] = Seq(
    profileColumns, fdAudit, edit1Neighbors, cusumChangepoint, windowDistinctKmv,
    basketRules, shareDrift, snmPairs, decayScore, attribLastTouch,
    seasonalResidual, userStreak, bitmapDistinct, abTest, theilSen, skewAudit,
    joinCardinality, kanonSuppress, kanonLdiversity, heavyHitters, expectations, linkageFs,
    erGolden, erIncremental)
}
