package graft.queries

import graft.{Exact, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics over the event log, and the multimodal queries that
  * treat document content as an opaque payload with a deterministic,
  * SQL-expressible fake decode.
  */
object EventsMultimodal {

  /** Tumbling-window aggregation over the event log: Spark's `window()`
    * bucketing (epoch-aligned 1h tumble) with count + exact sum. */
  val streamWindow = QuerySpec(
    "q_stream_window",
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(1) AS n_events,
               ${Exact.sumSql("value")} AS total_value
        FROM events GROUP BY 1, 2""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Exact.sumD(col("value")).as("total_value"))
  }

  /** Sliding (hopping) 1-hour windows every 30 minutes. Spark's window()
    * assigns each event to its duration/slide = 2 covering windows in one
    * Expand (no join); the oracle unnests the same two half-hour-aligned
    * starts.
    * Alignment is to the epoch in both engines, so starts agree exactly. */
  val streamSliding = QuerySpec(
    "q_stream_sliding",
    s"""WITH wins AS (
          SELECT event_type, value, u.ws AS window_start
          FROM events,
               UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS u(ws))
        SELECT window_start, event_type, COUNT(1) AS n_events,
               ${Exact.sumSql("value")} AS total_value
        FROM wins GROUP BY 1, 2""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(
          window(col("ts"), "1 hour", "30 minutes").getField("start").as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Exact.sumD(col("value")).as("total_value"))
  }

  /** Built-in session windows: groupBy(session_window(ts, gap)) — the
    * DECLARATIVE sessionization Spark lowers to a single sort-merge
    * session aggregation (and runs unchanged under readStream with
    * per-key merging state). Sessions are half-open [first, last + gap):
    * an event exactly gap after its predecessor starts a NEW session, so
    * the oracle's gap test is >=, not > (the q_sessionize lag-chain uses
    * the > convention — both conventions exist in the wild, which is
    * exactly why the boundary is pinned here). */
  val sessionWindow = QuerySpec(
    "q_session_window",
    s"""WITH g AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        se AS (
          SELECT user_id, ts, value,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(1) AS n_events, ${Exact.sumSql("value")} AS total_value
        FROM se GROUP BY user_id, sid""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value")).as("total_value"))
        .select(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("total_value"))
  }

  /** Gap-based sessionization: a new session starts after >30 min of user
    * inactivity. lag + running-sum over a per-user ordered window — the
    * batch twin of `flatMapGroupsWithState` sessionization. Shuffles once
    * on user_id; both window functions share the same sort. */
  val sessionize = QuerySpec(
    "q_sessionize",
    s"""WITH g AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        se AS (
          SELECT user_id, event_id, ts, value,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(1) AS n_events, min(ts) AS session_start, max(ts) AS session_end,
               ${Exact.sumSql("value")} AS total_value
        FROM se GROUP BY 1, 2""") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("new_sess",
          when(lag("ts", 1).over(w).isNull
            || unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts").as("session_start"),
          max("ts").as("session_end"),
          Exact.sumD(col("value")).as("total_value"))
  }

  private val SkewGapMicros = 1800000000L // 30 min, same gap as q_sessionize
  private val SkewBucketMicros = 21600000000L // 6 h time buckets

  /** Skew-immune sessionization — the distributed form of [[sessionize]]'s
    * lag-chain. The classic shape windows PARTITION BY user: one user
    * owning half a 100 TB stream serializes half the data onto one task,
    * the same wall [[graft.ops.Scale.distributedRank]]/`prefixSum` break
    * for ranks and running sums. Three phases, exact for ANY bucket
    * width, every step a pure function of the data (a first cut used
    * `repartitionByRange` + `spark_partition_id()` as the bucket; the
    * partition-id column is non-deterministic to Catalyst, and
    * `prefixSum`'s self-branch then computed offsets and in-bucket sums
    * against potentially different assignments — session ids skipped and
    * merged. Deterministic TIME buckets remove the hazard outright):
    *
    *   1. bucket every event by `unix_micros(ts) div W` and compute the
    *      lag within (user, bucket) — parallelism is #(user, bucket), so
    *      the hot user splits across its active time range instead of
    *      serializing onto one task;
    *   2. fix each (user, bucket)'s FIRST event with a boundary table:
    *      per (user, bucket) the max (ts, event_id) pair, prefix-maxed
    *      over buckets within the user (robust to empty buckets) — one
    *      row per OCCUPIED (user, bucket), so the per-user sequential
    *      window here touches metadata-sized summaries (≤ time-range/W
    *      rows per user), never the event stream;
    *   3. number sessions per user with the two-phase prefix scan over
    *      the new-session flags ([[graft.ops.Scale.prefixSum]], bucket =
    *      the same time bucket, trivially monotone in (ts, event_id)
    *      within every user).
    *
    * Bit-identical to the single-window form (the oracle runs exactly
    * that) for any W; W only moves the parallelism/summary-size
    * trade-off. `gapMicros` is the session gap — an explicit parameter
    * (callers pass [[SkewGapMicros]]) so the generic helper can't be
    * silently tied to one gap by a hardcoded constant. */
  private[graft] def sessionizeDistributed(
      ev: DataFrame, bucketMicros: Long, gapMicros: Long): DataFrame = {
    val b = ev.withColumn("bkt", expr(s"unix_micros(ts) div ${bucketMicros}L"))
    val wLocal = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    val local = b.withColumn("prev_ts", lag("ts", 1).over(wLocal))
    // per-(user, bucket) maxima (struct max = the order's last pair); the
    // prefix-max over buckets gives every bucket's first event its TRUE
    // predecessor even when intermediate buckets are empty
    val lasts = b.groupBy("user_id", "bkt")
      .agg(max(struct(col("ts"), col("event_id"))).as("m"))
    val wPrev = Window.partitionBy("user_id").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = lasts
      .withColumn("pm", max("m").over(wPrev))
      .select(col("user_id"), col("bkt"), col("pm.ts").as("b_ts"))
    val flagged = local.join(bounds, Seq("user_id", "bkt"), "left")
      .withColumn("eff_ts", coalesce(col("prev_ts"), col("b_ts")))
      .withColumn("new_sess",
        when(col("eff_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("eff_ts")) > gapMicros, 1)
          .otherwise(0))
      .withColumn("ord", struct(col("ts"), col("event_id")))
      .select("user_id", "ord", "ts", "value", "new_sess", "bkt")
    // broadcastOffsets = false: the offset table is one row per occupied
    // (user, bucket) — per-user keying makes it corpus-cardinality at
    // scale, so it joins by shuffle on the keys the in-bucket window
    // already exchanges on, never through an unbounded broadcast
    graft.ops.Scale.prefixSum(flagged, Seq("user_id"), "ord", "new_sess",
        bucket = col("bkt"), outCol = "session_id", broadcastOffsets = false)
      .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        Exact.sumD(col("value")).as("total_value"))
  }

  /** The sessionization family's adversarial gate, the streaming/temporal
    * analogue of q_graph_adversarial: HALF the event stream is remapped
    * onto one synthetic hot user (event_id parity — 5k of 10k events at
    * sf0.01, 50k of 100k at sf0.1), and [[sessionizeDistributed]] must
    * produce exactly what the naive per-user lag-chain produces (the
    * oracle IS that lag-chain) while no single task ever holds the hot
    * user's full run (EventsInvariantsSpec pins the partition-size bound
    * and the window keying). */
  val sessionizeSkew = QuerySpec(
    "q_sessionize_skew",
    s"""WITH ev AS (
          SELECT CASE WHEN event_id % 2 = 0 THEN -1 ELSE user_id END AS user_id,
                 event_id, ts, value
          FROM events),
        g AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SkewGapMicros
                      THEN 1 ELSE 0 END AS new_sess
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        se AS (
          SELECT user_id, event_id, ts, value,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(1) AS n_events, min(ts) AS session_start, max(ts) AS session_end,
               ${Exact.sumSql("value")} AS total_value
        FROM se GROUP BY 1, 2""") {
    (s, d) =>
      sessionizeDistributed(
        Tables.events(s, d).select(
          when(col("event_id") % 2 === 0, -1L).otherwise(col("user_id")).as("user_id"),
          col("event_id"), col("ts"), col("value")),
        SkewBucketMicros, SkewGapMicros)
  }

  /** Multimodal-column plumbing: treat content as an opaque binary payload
    * with typed metadata — byte length, content hash, a prefix sample, and
    * "decoded" features from a deterministic fake decode (no media codec
    * is linked). */
  val multimodalMeta = QuerySpec(
    "q_multimodal_meta",
    """SELECT doc_id, source,
              CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
              sha256(text) AS content_sha,
              substr(text, 1, 16) AS head_sample,
              CAST(octet_length(CAST(text AS BLOB)) % 64 + 1 AS BIGINT) AS fake_width,
              CAST(3 AS BIGINT) AS fake_channels
       FROM documents""") {
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .select(
          col("doc_id"), col("source"),
          length(col("payload")).cast("long").as("n_bytes"),
          sha2(col("payload"), 256).as("content_sha"),
          substring(col("text"), 1, 16).as("head_sample"),
          (length(col("payload")).cast("long") % 64 + 1).as("fake_width"),
          lit(3L).as("fake_channels"))
  }

  /** Byte-level near-duplicate detection over the binary payload — the
    * content-agnostic dedup an image/audio corpus needs where text
    * shingling does not apply: a 256-bucket byte histogram per item, then
    * histogram-intersection distance between candidates. All-integer
    * arithmetic (inter = Σ min(cₐ,c_b); L1 = nₐ+n_b−2·inter), so the
    * result is bitwise cross-engine.
    *
    * Scale shape: candidates come from LENGTH BANDING (band = bytes/64,
    * ±1 adjacency as an EQUI-join on the exploded probe band) plus the
    * implied |nₐ−n_b| pre-filter — L1 ≥ |nₐ−n_b|, so the 5 % length gate
    * is a pure pushdown of the final threshold, never a recall change.
    * Verification is candidate-linear: per-item histograms align to the
    * observed alphabet once (≤256 ints of driver metadata), and each pair
    * evaluates one codegen'd fixed-stride L1 kernel
    * ([[graft.functions.VectorKernels.l1I64]]) — no per-byte
    * row blowup, no all-pairs join, no interpreted per-pair lambda (the
    * `map_zip_with` formulation measured 7× slower end-to-end on the
    * sf0.1 corpus). At 100 TB the banding key
    * would widen to a coarse content signature (quantized-histogram
    * cells, exactly the q_semdedup blocking); the verify side is
    * unchanged. Byte values ride as INTEGER `ascii` codes (the corpus is
    * ASCII, where char == byte; a true binary payload explodes
    * `substring(payload, i, 1)` identically). */
  val multimodalHistDup = QuerySpec(
    "q_multimodal_histdup",
    """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
       hist AS (SELECT doc_id, ascii(substr(text, i, 1)) AS b, CAST(count(*) AS BIGINT) AS c
                FROM d, UNNEST(generate_series(1, CAST(n AS INTEGER))) AS u(i)
                GROUP BY 1, 2),
       cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n AS na, b.n AS nb
                FROM d a JOIN d b
                  ON abs(a.n // 64 - b.n // 64) <= 1
                 AND 20 * abs(a.n - b.n) <= a.n + b.n
                 AND a.doc_id < b.doc_id),
       inter AS (SELECT c.a_id, c.b_id, max(c.na) AS na, max(c.nb) AS nb,
                        sum(least(ha.c, hb.c)) AS inter
                 FROM cand c
                 JOIN hist ha ON ha.doc_id = c.a_id
                 JOIN hist hb ON hb.doc_id = c.b_id AND hb.b = ha.b
                 GROUP BY 1, 2)
       SELECT a_id, b_id, na, nb, CAST(inter AS BIGINT) AS n_inter,
              CAST(na + nb - 2 * inter AS BIGINT) AS l1_dist
       FROM inter WHERE 20 * (na + nb - 2 * inter) <= na + nb""") {
    (s, d) =>
      // fan out before the per-char explode (see multimodalBlockhash)
      val dd = graft.ops.Scale.fanOutScan(
        Tables.documents(s, d).select(
          col("doc_id"), col("text"), length(col("text")).cast("long").as("n")),
        col("doc_id"))
      // r13: the per-char fan-out (explode of ~n rows per item through a
      // groupBy exchange, then a map_from_entries re-aggregation and an
      // interpreted transform doing a LINEAR MapData scan per alphabet
      // key — O(|alphabet|·m) per item) is replaced by the fused
      // charhist_entries kernel: ONE code-point pass per item emitting
      // sorted (k, c) entries, no per-char rows, no exchanges; the
      // aligned vector is one binary search per alphabet key. Key/count
      // values are bit-identical (k ≡ ascii(c) per split-char; see the
      // kernel scaladoc); the oracle SQL is unchanged.
      val ents = graft.ops.Caches.lease(
        dd.select(col("doc_id"), col("n"),
          graft.functions.VectorExpressions.charhist_entries(
            col("text"), lit(1)).as("ents")))
      // global observed alphabet — ≤256 ints of driver metadata (same
      // legitimacy class as Bloom.collectBits); per-item histograms align
      // to it so the pair verifier is one fixed-stride codegen kernel,
      // not a per-pair interpreted map union
      val alphabet = ents.select(explode(col("ents.k")).as("b"))
        .distinct().orderBy("b")
        .collect().map(_.getLong(0))
      val alphaLit = typedLit(alphabet.toIndexedSeq)
      val hm = ents
        // docs with no characters never entered the old exploded-count
        // stream; cheap filter on the LEASED frame (no kernel recompute)
        .filter(size(col("ents")) > 0)
        .withColumn("hv", graft.functions.VectorExpressions.aligned_counts(
          col("ents"), alphaLit))
        .withColumn("band", expr("n div 64"))
      val a = hm.select(col("doc_id").as("a_id"), col("n").as("na"), col("hv").as("ha"),
        explode(expr("array(band - 1, band, band + 1)")).as("probe"))
      val b = hm.select(col("doc_id").as("b_id"), col("n").as("nb"), col("hv").as("hb"),
        col("band"))
      a.join(b, col("probe") === col("band")) // equi-join: banding, not all-pairs
        .filter(col("a_id") < col("b_id")
          && lit(20) * abs(col("na") - col("nb")) <= col("na") + col("nb"))
        .withColumn("l1_dist",
          graft.functions.VectorExpressions.vector_l1_i64(col("ha"), col("hb")))
        .filter(lit(20) * col("l1_dist") <= col("na") + col("nb"))
        // inter = (na+nb-l1) div 2 exactly (l1 has the parity of na+nb)
        .withColumn("n_inter", expr("(na + nb - l1_dist) div 2"))
        .select("a_id", "b_id", "na", "nb", "n_inter", "l1_dist")
  }

  /** Per-modality quality statistics — the audit table a multimodal
    * ingest runs before training: item counts, payload-size distribution
    * (exact PERCENTILE_DISC selection, no interpolation arithmetic), and
    * decoded-dimension ranges per modality. The modality tag and decoded
    * metadata ride in a typed STRUCT column; the decode itself is the same
    * SQL-expressible deterministic fake as [[multimodalMeta]]. One scan,
    * one groupBy: integers end-to-end. */
  val multimodalQuality = QuerySpec(
    "q_multimodal_quality",
    """WITH m AS (
         SELECT doc_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                CAST(length(text) AS BIGINT) AS n_bytes,
                CAST(length(text) % 64 + 1 AS BIGINT) AS width,
                CAST(length(text) % 37 + 1 AS BIGINT) AS height,
                CAST(CASE WHEN doc_id % 3 <> 0 THEN length(text) % 120 + 1 ELSE 0 END AS BIGINT) AS duration_s
         FROM documents)
       SELECT kind, CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
              CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_bytes) AS BIGINT) AS p50_bytes,
              min(width) AS min_width, max(width) AS max_width,
              min(height) AS min_height, max(height) AS max_height,
              CAST(sum(duration_s) AS BIGINT) AS total_duration_s,
              CAST(sum(CASE WHEN width * height >= 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
       FROM m GROUP BY 1""") {
    (s, d) =>
      val n = length(col("text")).cast("long")
      val m = Tables.documents(s, d).select(
        col("doc_id"),
        struct(
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
          n.as("n_bytes"),
          (n % 64 + 1).as("width"),
          (n % 37 + 1).as("height"),
          when(col("doc_id") % 3 =!= 0, n % 120 + 1).otherwise(0L).as("duration_s"))
          .as("meta"))
      m.groupBy(col("meta.kind").as("kind"))
        .agg(
          count(lit(1)).cast("long").as("n_items"),
          sum("meta.n_bytes").as("total_bytes"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY meta.n_bytes)")
            .cast("long").as("p50_bytes"),
          min("meta.width").as("min_width"), max("meta.width").as("max_width"),
          min("meta.height").as("min_height"), max("meta.height").as("max_height"),
          sum("meta.duration_s").as("total_duration_s"),
          sum(when(col("meta.width") * col("meta.height") >= 1024, 1L).otherwise(0L))
            .cast("long").as("n_large"))
  }

  /** Positional BLOCKHASH near-dup — the layout-aware refinement of
    * [[multimodalHistDup]]: the payload splits into 4 positional blocks
    * (block of byte p = ⌊(p−1)·4/n⌋, the byte-domain analogue of an
    * image's quadrant grid), each block gets its own histogram, and the
    * distance is the L1 over the CONCATENATED block vectors. Because
    * Σ_blocks L1_block ≥ L1_global (splitting a histogram can only expose
    * differences the global marginal hides), blockhash separates items
    * that share a byte distribution but not a layout — a shuffled copy
    * passes the global histogram gate and fails this one; blockhash pairs
    * are a SUBSET of histdup pairs at the same threshold (pinned in
    * EventsInvariantsSpec).
    *
    * Same scale shape as histdup: length-band candidates, one composite
    * (block·1000+byte)-keyed count pass, vectors aligned to the observed
    * composite alphabet (≤4·256 ints of driver metadata), per-pair
    * verify via the codegen [[graft.functions.VectorKernels.l1I64]]
    * kernel. All-integer, bitwise cross-engine. */
  val multimodalBlockhash = QuerySpec(
    "q_multimodal_blockhash",
    """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
       hist AS (SELECT doc_id,
                       ((i - 1) * 4 // CAST(n AS INTEGER)) * 1000 + ascii(substr(text, i, 1)) AS k,
                       CAST(count(*) AS BIGINT) AS c
                FROM d, UNNEST(generate_series(1, CAST(n AS INTEGER))) AS u(i)
                GROUP BY 1, 2),
       cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n AS na, b.n AS nb
                FROM d a JOIN d b
                  ON abs(a.n // 64 - b.n // 64) <= 1
                 AND 20 * abs(a.n - b.n) <= a.n + b.n
                 AND a.doc_id < b.doc_id),
       inter AS (SELECT c.a_id, c.b_id, max(c.na) AS na, max(c.nb) AS nb,
                        sum(least(ha.c, hb.c)) AS inter
                 FROM cand c
                 JOIN hist ha ON ha.doc_id = c.a_id
                 JOIN hist hb ON hb.doc_id = c.b_id AND hb.k = ha.k
                 GROUP BY 1, 2)
       SELECT a_id, b_id, na, nb,
              CAST(na + nb - 2 * inter AS BIGINT) AS block_l1
       FROM inter WHERE 20 * (na + nb - 2 * inter) <= na + nb""") {
    (s, d) =>
      // fan out before the per-char explode — the O(total chars) key
      // projection is the query's CPU floor and otherwise runs one-task
      val dd = graft.ops.Scale.fanOutScan(
        Tables.documents(s, d).select(
          col("doc_id"), col("text"), length(col("text")).cast("long").as("n")),
        col("doc_id"))
      // r13: same fused-kernel treatment as multimodalHistDup — ONE
      // code-point pass per item (charhist_entries, blocks = 4, key ≡
      // (i·4 div n)·1000 + ascii(c) bit-for-bit), replacing the per-char
      // explode + groupBy exchange + map_from_entries re-aggregation +
      // the interpreted transforms whose GetMapValue lookups were a
      // LINEAR MapData scan per alphabet key (O(|alphabet|·m) per item,
      // the family's dominant CPU in the r13 profile).
      val ents = graft.ops.Caches.lease(
        dd.select(col("doc_id"), col("n"),
          graft.functions.VectorExpressions.charhist_entries(
            col("text"), lit(4)).as("ents")))
      val alphabet = ents.select(explode(col("ents.k")).as("k"))
        .distinct().orderBy("k")
        .collect().map(_.getLong(0))
      val alphaLit = typedLit(alphabet.toIndexedSeq)
      val galphaLit = typedLit(alphabet.map(_ % 1000).distinct.sorted.toIndexedSeq)
      val hm = graft.ops.Caches.lease(ents
        .filter(size(col("ents")) > 0)
        // TWO aligned vectors per item: the 4-block concatenation (the
        // verifier) and its marginal (the global byte histogram, ~4x
        // narrower) — L1_global ≤ L1_block, so the global gate is a pure
        // pushdown of the block gate: the wide vector only travels for
        // the few pairs the cheap gate can't reject
        .withColumn("hv", graft.functions.VectorExpressions.aligned_counts(
          col("ents"), alphaLit))
        .withColumn("gv", graft.functions.VectorExpressions.marginal_counts(
          col("ents"), galphaLit))
        .withColumn("band", expr("n div 64"))
        .drop("ents"))
      val a = hm.select(col("doc_id").as("a_id"), col("n").as("na"), col("gv").as("ga"),
        explode(expr("array(band - 1, band, band + 1)")).as("probe"))
      val b = hm.select(col("doc_id").as("b_id"), col("n").as("nb"), col("gv").as("gb"),
        col("band"))
      val survivors = a.join(b, col("probe") === col("band"))
        .filter(col("a_id") < col("b_id")
          && lit(20) * abs(col("na") - col("nb")) <= col("na") + col("nb"))
        .withColumn("global_l1",
          graft.functions.VectorExpressions.vector_l1_i64(col("ga"), col("gb")))
        .filter(lit(20) * col("global_l1") <= col("na") + col("nb"))
        .select("a_id", "b_id", "na", "nb")
      survivors
        .join(hm.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
        .join(hm.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
        .withColumn("block_l1",
          graft.functions.VectorExpressions.vector_l1_i64(col("ha"), col("hb")))
        .filter(lit(20) * col("block_l1") <= col("na") + col("nb"))
        .select("a_id", "b_id", "na", "nb", "block_l1")
  }

  /** Frame-sampling index as an ORACLE query: every 8th frame per
    * video item, with the per-item coverage audit a decode budget reads
    * (frames sampled, stride coverage, first/last sampled index). The
    * fan-out is `sequence` + `explode` — Catalyst plans it, the
    * downstream decode parallelizes over (item, frame), and the same
    * shape feeds any per-frame mapInPandas/mapPartitions decoder. Frame
    * counts come from the deterministic SQL-expressible fake decode
    * (n_frames = n_bytes % 240 + 1), as everywhere in this family. */
  val multimodalFrames = QuerySpec(
    "q_multimodal_frames",
    """WITH v AS (SELECT doc_id,
                         CAST(length(text) % 240 + 1 AS BIGINT) AS n_frames
                  FROM documents WHERE doc_id % 3 = 2),
       f AS (SELECT doc_id, n_frames, CAST(u.fi AS BIGINT) AS frame_idx
             FROM v, UNNEST(generate_series(0, CAST(n_frames - 1 AS INTEGER), 8)) AS u(fi))
       SELECT doc_id, n_frames,
              CAST(count(*) AS BIGINT) AS n_sampled,
              min(frame_idx) AS first_frame, max(frame_idx) AS last_frame
       FROM f GROUP BY 1, 2""") {
    (s, d) =>
      val v = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 2) // the 'video' modality slice
        .select(col("doc_id"),
          (length(col("text")).cast("long") % 240 + 1).as("n_frames"))
      v.select(col("doc_id"), col("n_frames"),
          explode(expr("sequence(0L, n_frames - 1, 8L)")).as("frame_idx"))
        .groupBy("doc_id", "n_frames")
        .agg(count(lit(1)).cast("long").as("n_sampled"),
          min("frame_idx").as("first_frame"), max("frame_idx").as("last_frame"))
  }

  /** RFM (recency / frequency / monetary) segmentation of purchasers —
    * the classic lifecycle-marketing rollup, built the scale-correct way:
    * NO `ntile()` (an unpartitioned window serializes the user table
    * through one task); instead the nine quartile boundaries come from
    * one PERCENTILE_DISC aggregate over the already-collapsed per-user
    * table — a single row that broadcasts back, with quartile assignment
    * a per-row comparison. Money stays exact: values quantize to integer
    * cents (floor(v·100+0.5), bit-identical IEEE in both engines) before
    * the sum, so segment boundaries can't drift on addition order.
    *
    * Scale shape: one map-side-combinable per-user aggregate over the
    * purchase slice, one metadata-sized boundary row, one bounded
    * (≤4³ rows) segment rollup. The percentile buffer holds the
    * AGGREGATED user table, not the stream — same legitimacy class as
    * q_percentile_disc. */
  val rfmSegments = QuerySpec(
    "q_rfm",
    """WITH p AS (SELECT user_id,
                    max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS r,
                    count(*) AS f,
                    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS m
                  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       b AS (SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY r) AS r1,
                    percentile_disc(0.5)  WITHIN GROUP (ORDER BY r) AS r2,
                    percentile_disc(0.75) WITHIN GROUP (ORDER BY r) AS r3,
                    percentile_disc(0.25) WITHIN GROUP (ORDER BY f) AS f1,
                    percentile_disc(0.5)  WITHIN GROUP (ORDER BY f) AS f2,
                    percentile_disc(0.75) WITHIN GROUP (ORDER BY f) AS f3,
                    percentile_disc(0.25) WITHIN GROUP (ORDER BY m) AS m1,
                    percentile_disc(0.5)  WITHIN GROUP (ORDER BY m) AS m2,
                    percentile_disc(0.75) WITHIN GROUP (ORDER BY m) AS m3
             FROM p),
       seg AS (SELECT
                 CASE WHEN r <= r1 THEN 1 WHEN r <= r2 THEN 2
                      WHEN r <= r3 THEN 3 ELSE 4 END AS r_q,
                 CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2
                      WHEN f <= f3 THEN 3 ELSE 4 END AS f_q,
                 CASE WHEN m <= m1 THEN 1 WHEN m <= m2 THEN 2
                      WHEN m <= m3 THEN 3 ELSE 4 END AS m_q,
                 m
               FROM p CROSS JOIN b)
       SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
              CAST(m_q AS BIGINT) AS m_q,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(m) AS BIGINT) AS segment_cents
       FROM seg GROUP BY 1, 2, 3""") {
    (s, d) =>
      val p = graft.ops.Caches.lease(Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(expr("datediff(cast(ts as date), DATE'1970-01-01')")).as("r"),
          count(lit(1)).as("f"),
          sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("m")))
      val b = p.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY r)").as("r1"),
        expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY r)").as("r2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY r)").as("r3"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY f)").as("f1"),
        expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY f)").as("f2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY f)").as("f3"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY m)").as("m1"),
        expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY m)").as("m2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY m)").as("m3"))
      def q(v: Column, p1: Column, p2: Column, p3: Column): Column =
        when(v <= p1, 1L).when(v <= p2, 2L).when(v <= p3, 3L).otherwise(4L)
      p.crossJoin(broadcast(b))
        .select(q(col("r"), col("r1"), col("r2"), col("r3")).as("r_q"),
          q(col("f"), col("f1"), col("f2"), col("f3")).as("f_q"),
          q(col("m"), col("m1"), col("m2"), col("m3")).as("m_q"),
          col("m"))
        .groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_users"), sum("m").cast("long").as("segment_cents"))
  }

  /** Per-item audio quality stats over the payload as fake 8-bit PCM —
    * the third per-modality content analysis beside the histogram pair
    * ops and the frame sampler: mean-amplitude mass (Σ|sample−128|),
    * clipping count (samples at the rail, here bytes ≥ 120), and the
    * LONGEST QUIET RUN — consecutive near-zero samples, the
    * silence-trim/dead-air signal — via gaps-and-islands on the quiet
    * positions (pos − row_number is constant along a run).
    *
    * Scale shape: the byte stream is the O(payload) split-to-chars
    * posexplode (never per-position substring — that's O(doc²)); both
    * consumers (the stats aggregate and the quiet-run islands) read one
    * leased pass. The islands window partitions BY ITEM, so parallelism
    * is #items; runs collapse map-side before the per-item max. */
  val multimodalAudio = QuerySpec(
    "q_multimodal_audio",
    """WITH a AS (SELECT doc_id, text, length(text) AS n
                  FROM documents WHERE doc_id % 3 = 1),
       b AS (SELECT doc_id, i AS pos, ascii(substr(text, i, 1)) AS v
             FROM a, UNNEST(generate_series(1, CAST(n AS INTEGER))) AS u(i)),
       s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
                    CAST(sum(abs(v - 128)) AS BIGINT) AS amp_mass,
                    CAST(sum(CASE WHEN v >= 120 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_clipped
             FROM b GROUP BY 1),
       q AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             FROM b WHERE v <= 40),
       r AS (SELECT doc_id, max(cnt) AS max_quiet
             FROM (SELECT doc_id, isl, count(*) AS cnt FROM q GROUP BY 1, 2)
             GROUP BY 1)
       SELECT s.doc_id, s.n_samples, s.amp_mass, s.n_clipped,
              CAST(coalesce(r.max_quiet, 0) AS BIGINT) AS max_quiet_run
       FROM s LEFT JOIN r ON r.doc_id = s.doc_id""") {
    (s, d) =>
      val bytes = graft.ops.Caches.lease(
        Tables.documents(s, d)
          .filter(col("doc_id") % 3 === 1) // the 'audio' modality slice
          .select(col("doc_id"),
            posexplode(expr(
              """CASE WHEN length(text) >= 1
                 THEN transform(split(text, ''), c -> ascii(c))
                 ELSE array() END""")))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("v")))
      val stats = bytes.groupBy("doc_id")
        .agg(count(lit(1)).as("n_samples"),
          sum(abs(col("v") - 128)).cast("long").as("amp_mass"),
          sum(when(col("v") >= 120, 1L).otherwise(0L)).as("n_clipped"))
      val runs = bytes.filter(col("v") <= 40)
        .withColumn("isl", col("pos") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("pos")))
        .groupBy("doc_id", "isl").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max("cnt").as("max_quiet"))
      stats.join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_samples"), col("amp_mass"), col("n_clipped"),
          coalesce(col("max_quiet"), lit(0L)).as("max_quiet_run"))
  }

  /** AS-OF join (ops.TemporalJoins.asOfJoin): each click matched to the
    * user's latest purchase at-or-before it — one shuffle+sort composition
    * of an operator Spark lacks natively. Oracle: DuckDB's native
    * ASOF LEFT JOIN. */
  val asofJoin = QuerySpec(
    "q_asof_join",
    // purchases dedupe to one row per (user, microsecond) FIRST: ties at
    // identical times would otherwise resolve arbitrarily in each engine
    // (asOfJoin's last() pick vs DuckDB ASOF's pick) and flake the hash
    """WITH clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
       purch AS (
         SELECT max(event_id) AS p_id, user_id, ts AS p_ts FROM events
         WHERE event_type = 'purchase' GROUP BY user_id, ts)
       SELECT c.event_id, c.user_id, c.ts, p.p_id, p.p_ts
       FROM clicks c ASOF LEFT JOIN purch p
         ON c.user_id = p.user_id AND p.p_ts <= c.ts""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max("event_id").as("p_id"))
        .select("p_id", "user_id", "p_ts")
      graft.ops.TemporalJoins.asOfJoin(clicks, "ts", purch, "p_ts", Seq("user_id"))
        .select("event_id", "user_id", "ts", "p_id", "p_ts")
  }

  /** The SAME as-of semantics through the CUSTOM physical operator
    * ([[graft.plans.AsOfJoinExec]]: logical node + planner strategy +
    * co-partitioned sort-merge exec) — SURVEY.md §7.3 preference (c) as
    * real, driver-gated code. Identical oracle as [[asofJoin]], so the
    * hash-match proves the custom exec's merge loop against DuckDB's
    * native ASOF and, transitively, against the composed window form
    * (AsOfJoinExecSpec additionally pins row-for-row parity and the
    * two-exchange plan: the right payload crosses the shuffle ONCE,
    * where the union+window composition carries it twice). */
  val asofExec = QuerySpec(
    "q_asof_exec",
    """WITH clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
       purch AS (
         SELECT max(event_id) AS p_id, user_id, ts AS p_ts FROM events
         WHERE event_type = 'purchase' GROUP BY user_id, ts)
       SELECT c.event_id, c.user_id, c.ts, p.p_id, p.p_ts
       FROM clicks c ASOF LEFT JOIN purch p
         ON c.user_id = p.user_id AND p.p_ts <= c.ts""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max("event_id").as("p_id"))
        .select("p_id", "user_id", "p_ts")
      graft.ops.TemporalJoins.asOfJoinExec(clicks, "ts", purch, "p_ts", Seq("user_id"))
        .select("event_id", "user_id", "ts", "p_id", "p_ts")
  }

  /** Range join via binning (ops.TemporalJoins.rangeJoinBinned): purchases
    * within 10 minutes after a click, as an EQUI-join on (user, time-bin)
    * with a residual range filter — the interval-join shape that scales
    * linearly where the naive inequality join nest-loops. Oracle: the
    * naive inequality join. */
  val rangeJoinBinned = QuerySpec(
    "q_range_join_binned",
    """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'click' AND b.event_type = 'purchase'
        AND epoch_us(b.ts) > epoch_us(a.ts)
        AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("user_id"), col("ts").as("b_ts"))
      graft.ops.TemporalJoins.rangeJoinBinned(a, b, Seq("user_id"), "a_ts", "b_ts", 600000000L)
        .select("a_id", "b_id", "user_id")
  }

  /** Count-Min sketch in ONE aggregation pass: D=4 hash rows × W=64
    * buckets, hashed with the deterministic rolling-hash expression (same
    * fold in the oracle), then the point-query estimate (min over rows)
    * beside the exact count. Integers end-to-end. At 100 TB the counter
    * matrix is 256 cells per partition — the map-side-combinable sketch
    * shape that replaces exact distinct-key counting when keys explode. */
  val sketchCountMin = {
    val D = 4
    val W = 64
    def rhSql(x: String) =
      s"""(list_reduce(list_transform(generate_series(1, length($x)),
            i -> CAST(ascii(substr($x, i, 1)) AS BIGINT)),
            (acc, c) -> (acc * 31 + c) % 1000000007) % $W)"""
    QuerySpec(
      "q_sketch_countmin",
      s"""WITH dims AS (SELECT unnest(generate_series(0, ${D - 1})) AS d),
          counters AS (
            SELECT dims.d, ${rhSql(s"event_type || '#' || CAST(dims.d AS VARCHAR)")} AS w,
                   count(*) AS cnt
            FROM events CROSS JOIN dims
            GROUP BY 1, 2),
          est AS (
            SELECT t.event_type, min(c.cnt) AS cm_estimate
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN dims
            JOIN counters c
              ON c.d = dims.d
             AND c.w = ${rhSql(s"t.event_type || '#' || CAST(dims.d AS VARCHAR)")}
            GROUP BY 1),
          exact AS (SELECT event_type, count(*) AS exact_count FROM events GROUP BY 1)
          SELECT est.event_type, est.cm_estimate, exact.exact_count
          FROM est JOIN exact USING (event_type)""") {
      (s, d) =>
        import graft.functions.VectorExpressions.rolling_hash31
        def bucket = rolling_hash31(
          concat(col("event_type"), lit("#"), col("d").cast("string"))) % W
        val ev = Tables.events(s, d)
        val dims = array((0 until D).map(lit): _*)
        val counters = ev
          .select(col("event_type"), explode(dims).as("d"))
          .groupBy(col("d"), bucket.as("w"))
          .agg(count(lit(1)).as("cnt"))
        val est = ev.select("event_type").distinct()
          .select(col("event_type"), explode(dims).as("d"))
          .withColumn("w", bucket)
          .join(counters, Seq("d", "w"))
          .groupBy("event_type")
          .agg(min("cnt").as("cm_estimate"))
        val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_count"))
        est.join(exact, "event_type")
          .select("event_type", "cm_estimate", "exact_count")
    }
  }

  /** Explicit window frames (rowsBetween): per-user rolling statistics over
    * the trailing 5 events — count/min/max are order-safe cross-engine
    * (no float accumulation), the frame semantics match ROWS BETWEEN. */
  val rollingFrames = QuerySpec(
    "q_rolling_frames",
    """SELECT event_id, user_id,
              COUNT(1) OVER w AS n_trailing,
              min(value) OVER w AS min_trailing,
              max(value) OVER w AS max_trailing
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing"),
        min("value").over(w).as("min_trailing"),
        max("value").over(w).as("max_trailing"))
  }

  /** Conversion funnel: per user, did a purchase follow a click within an
    * hour? lead-free formulation — the user's first click joined (as-of in
    * reverse) against MIN(purchase ts > click ts); boolean conversion flag
    * per click. */
  val funnel = QuerySpec(
    "q_funnel",
    """WITH clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
       conv AS (
         SELECT c.event_id, c.user_id, c.ts,
                min(p.ts) AS first_purchase_ts
         FROM clicks c
         LEFT JOIN events p
           ON p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts > c.ts AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
         GROUP BY 1, 2, 3)
       SELECT event_id, user_id, ts, first_purchase_ts,
              (first_purchase_ts IS NOT NULL) AS converted
       FROM conv""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      clicks
        .join(purch,
          col("p_user") === col("user_id") && col("p_ts") > col("ts")
            && unix_micros(col("p_ts")) <= unix_micros(col("ts")) + 3600000000L,
          "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(min("p_ts").as("first_purchase_ts"))
        .withColumn("converted", col("first_purchase_ts").isNotNull)
  }

  /** Semi-structured column access: the events `props` column is a JSON
    * string; extract a typed field path and aggregate on it — Spark's
    * get_json_object vs DuckDB's json_extract_string, both pushed through
    * a normal grouped aggregation. */
  val jsonExtract = QuerySpec(
    "q_json_extract",
    """SELECT event_type,
              COUNT(1) AS n,
              min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
              max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
       FROM events GROUP BY 1""") {
    (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
  }

  /** Date-spine gap filling with forward fill — the time-series
    * regularization pass (make every (user, day) exist, carry the last
    * observed value across silent days) that feeds rolling features and
    * charting. The spine is generated per key from its own [min, max] day
    * (sequence + explode — no driver-side calendar), the observed daily
    * aggregate left-joins onto it, and the carry-forward is
    * `last(value, ignoreNulls)` over an unbounded-preceding frame.
    *
    * Scale shape: everything keys on user_id — the daily pre-aggregation
    * shuffles once, the spine join and the fill window reuse that
    * partitioning, and no window ever spans more than one key's days. The
    * daily sum routes through [[graft.Exact]] so the carried doubles are
    * bitwise cross-engine. */
  val gapFill = QuerySpec(
    "q_gap_fill",
    s"""WITH dv AS (SELECT user_id, CAST(ts AS DATE) AS d,
                           CAST(count(*) AS BIGINT) AS n_events,
                           ${graft.Exact.sumSql("value")} AS day_value
                    FROM events GROUP BY 1, 2),
        b AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM dv GROUP BY 1),
        sp AS (SELECT user_id, CAST(u.gs AS DATE) AS d
               FROM b, UNNEST(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS u(gs))
        SELECT sp.user_id, sp.d,
               COALESCE(dv.n_events, 0) AS n_events,
               (dv.n_events IS NULL) AS is_gap,
               last_value(dv.day_value IGNORE NULLS)
                 OVER (PARTITION BY sp.user_id ORDER BY sp.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        FROM sp LEFT JOIN dv ON dv.user_id = sp.user_id AND dv.d = sp.d""") {
    (s, d) =>
      val dv = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("n_events"), graft.Exact.sumD(col("value")).as("day_value"))
      val sp = dv.groupBy("user_id").agg(min("d").as("d0"), max("d").as("d1"))
        .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sp.join(dv, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("n_events").isNull.as("is_gap"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
  }

  /** Per-group z-score outlier flagging — the statistical anomaly gate a
    * metrics pipeline runs per segment (here per event_type). Both moments
    * come from ONE grouped pass (Σx and Σx² via [[graft.Exact]], so the
    * partial-aggregation order can't perturb them); the tiny per-group
    * moment table broadcasts back onto the event scan, making the whole
    * operator one shuffle of #groups rows plus two corpus-local
    * projections. Variance uses the E[x²]−mean² form — fine here because
    * the quantized sums are exact, not approximated. */
  val outlierZscore = QuerySpec(
    "q_outlier_zscore",
    s"""WITH m AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n,
                          ${graft.Exact.sumSql("value")} AS sx,
                          ${graft.Exact.sumSql("value * value")} AS sxx
                   FROM events GROUP BY 1),
        st AS (SELECT event_type, n, sx / n AS mean,
                      sqrt(greatest(sxx / n - (sx / n) * (sx / n),
                                    CAST(0 AS DOUBLE))) AS sd
               FROM m)
        SELECT e.event_id, e.event_type, e.value,
               (e.value - st.mean) / st.sd AS z
        FROM events e JOIN st ON st.event_type = e.event_type
        WHERE abs((e.value - st.mean) / st.sd) > 2.0""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val m = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        graft.Exact.sumD(col("value")).as("sx"),
        graft.Exact.sumD(col("value") * col("value")).as("sxx"))
      val st = m.select(col("event_type"), (col("sx") / col("n")).as("mean"),
        sqrt(greatest(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")),
          lit(0.0))).as("sd"))
      ev.join(broadcast(st), "event_type")
        .withColumn("z", (col("value") - col("mean")) / col("sd"))
        .filter(abs(col("z")) > 2.0)
        .select("event_id", "event_type", "value", "z")
  }

  /** Time-based RANGE window frames: per-user trailing-1-hour statistics —
    * the VALUE-based frame ([[rollingFrames]] is the ROWS twin). Spark's
    * rangeBetween needs a numeric ordering column, so the frame runs over
    * epoch microseconds (exactly what DuckDB's `RANGE BETWEEN <n>
    * PRECEDING` sees via epoch_us) — identical frame boundaries by
    * construction, including ties. Count/min/max only: order-safe
    * cross-engine with no float accumulation. Same scale shape as every
    * per-user window: one shuffle on user_id, sort within partitions. */
  val rollingTime = QuerySpec(
    "q_rolling_time",
    """WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
       SELECT event_id, user_id,
              COUNT(1) OVER w AS n_1h,
              min(value) OVER w AS min_1h,
              max(value) OVER w AS max_1h
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .select(
          col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          min("value").over(w).as("min_1h"),
          max("value").over(w).as("max_1h"))
  }

  /** Per-group winsorization: clip each segment's values to its own
    * [p05, p95] — the robust-normalization twin of [[outlierZscore]]
    * (clip, don't drop). The per-group bounds are PERCENTILE_DISC
    * (element SELECTION — bitwise cross-engine, no interpolation
    * arithmetic), computed in one grouped pass over #groups rows of
    * state, then broadcast back onto the scan; the clip itself is a pure
    * codegen least/greatest projection. */
  val winsorize = QuerySpec(
    "q_winsorize",
    """WITH p AS (SELECT event_type,
                         percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS lo,
                         percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS hi
                  FROM events GROUP BY 1)
       SELECT e.event_id, e.event_type, e.value,
              least(greatest(e.value, p.lo), p.hi) AS clipped,
              (e.value < p.lo OR e.value > p.hi) AS was_clipped
       FROM events e JOIN p ON p.event_type = e.event_type""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.groupBy("event_type").agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").as("lo"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("hi"))
      ev.join(broadcast(p), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi")).as("was_clipped"))
  }

  /** Gaps-and-islands interval coalescing with VARIABLE-length intervals —
    * the union-of-intervals pass behind utilization/coverage metrics.
    * Each event opens [ts, ts + value minutes); overlapping or touching
    * intervals per user merge into one island. `session_window` cannot
    * express this (its gap is a constant); the classic formulation is a
    * running MAX of interval ends over a per-key ordered window: a new
    * island starts exactly when an interval begins after every prior end.
    * Islands are contiguous by construction, so union length = end−start.
    *
    * Scale shape: one shuffle on user_id; both windows share the sort; the
    * final aggregation reuses the same partitioning. All arithmetic is
    * epoch-microsecond integers (the duration is floor(value·6e7) — one
    * IEEE multiply, identical cross-engine). */
  val intervalMerge = QuerySpec(
    "q_interval_merge",
    """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s_us,
                          epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
                   FROM events),
       g AS (SELECT user_id, event_id, s_us, e_us,
                    CASE WHEN max(e_us) OVER wp IS NULL OR s_us > max(e_us) OVER wp
                         THEN 1 ELSE 0 END AS new_island
             FROM iv
             WINDOW wp AS (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       isl AS (SELECT user_id, s_us, e_us,
                      SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                                            ROWS UNBOUNDED PRECEDING) AS island_id
               FROM g)
       SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
              min(s_us) AS island_start_us, max(e_us) AS island_end_us,
              CAST(count(*) AS BIGINT) AS n_intervals,
              max(e_us) - min(s_us) AS covered_us
       FROM isl GROUP BY 1, 2""") {
    (s, d) =>
      val iv = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + floor(col("value") * 60000000d).cast("long")).as("e_us"))
      val ord = Window.partitionBy("user_id").orderBy("s_us", "e_us", "event_id")
      val prevMax = max("e_us").over(ord.rowsBetween(Window.unboundedPreceding, -1))
      iv.withColumn("new_island", when(prevMax.isNull || col("s_us") > prevMax, 1).otherwise(0))
        .withColumn("island_id",
          sum("new_island").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .groupBy("user_id", "island_id")
        .agg(
          min("s_us").as("island_start_us"),
          max("e_us").as("island_end_us"),
          count(lit(1)).as("n_intervals"),
          (max("e_us") - min("s_us")).as("covered_us"))
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral-model fit (and sequence-sanity check) run before
    * training on event streams. One per-user lag gives consecutive pairs;
    * the (src, dst) count plus a #src-partitioned window turn counts into
    * row-normalized transition probabilities. The probability is ONE
    * division of two exact BIGINTs — deterministic cross-engine.
    *
    * Scale: the lag shuffles once on user_id; the transition table is
    * #types² rows, so the normalizing window is trivially small. */
  val markovTransitions = QuerySpec(
    "q_markov_transitions",
    """WITH t AS (SELECT user_id, event_type,
                         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                  FROM events),
       c AS (SELECT prev_type AS src_type, event_type AS dst_type,
                    CAST(count(*) AS BIGINT) AS n
             FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       SELECT src_type, dst_type, n,
              CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
       FROM c""") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lag("event_type", 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src_type"), col("event_type").as("dst_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          col("n").cast("double")
            / sum("n").over(Window.partitionBy("src_type")).cast("double"))
  }

  /** Median-absolute-deviation outlier gate — the robust twin of
    * [[outlierZscore]] (immune to the outliers it hunts, where mean/stddev
    * are dragged by them). Both statistics are PERCENTILE_DISC element
    * SELECTIONS — no accumulation arithmetic at all, so cross-engine
    * equality is structural. Two grouped passes (median, then median of
    * |x−median|), each producing a #groups-row table broadcast back onto
    * the scan; the flag itself is a codegen comparison. */
  val anomalyMad = QuerySpec(
    "q_anomaly_mad",
    """WITH med AS (SELECT event_type,
                           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
                    FROM events GROUP BY 1),
       dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                      abs(e.value - m.med) AS adev
               FROM events e JOIN med m USING (event_type)),
       mad AS (SELECT event_type,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
               FROM dev GROUP BY 1)
       SELECT d.event_id, d.event_type, d.value, d.med, mad.mad
       FROM dev d JOIN mad USING (event_type)
       WHERE d.adev > 3 * mad.mad""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      // med is #groups rows; materialize it so the two passes that
      // broadcast it don't each re-run its corpus-sized aggregation
      // (4 event scans → 3, the operator's floor: med pass, mad pass,
      // gate pass)
      val med = ev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
        // lazy: plan-only paths (explain, PlanSpec) must not run a job
        // just to CONSTRUCT the DataFrame; the checkpoint materializes at
        // first action as before
        .localCheckpoint(eager = false)
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("adev") > lit(3d) * col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
  }

  /** Cohort retention matrix: users grouped by FIRST-seen day, activity
    * counted by distinct users at each day offset — the
    * who-comes-back-when table behind every retention curve. Two grouped
    * passes: the first-seen day per user (one shuffle on user_id), joined
    * back onto the stream (AQE broadcasts the user-day table when it fits;
    * at production scale it's an equi-shuffle join on user_id — the same
    * key the first pass just partitioned by, so the join reuses that
    * partitioning), then a distinct-count per (cohort, offset) cell.
    * Integers and dates end-to-end. */
  val retentionCohorts = QuerySpec(
    "q_retention_cohorts",
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1)
       SELECT f.cohort_day,
              CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
              CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
       FROM events e JOIN f USING (user_id)
       GROUP BY 1, 2""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy("user_id").agg(min(col("ts").cast("date")).as("cohort_day"))
      ev.join(f, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("ts").cast("date"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
  }

  /** Period-over-period deltas: per-segment daily totals with absolute and
    * relative change vs the previous observed day — the trend table behind
    * monitoring dashboards and drift alerts. The daily total routes
    * through [[graft.Exact]] (order-proof sums); delta and pct_change are
    * then single IEEE operations on those exact values, so cross-engine
    * equality holds through the division. One grouped pass + one window
    * over the #segments×#days aggregate — the window input is tiny. */
  val periodDelta = QuerySpec(
    "q_period_delta",
    s"""WITH dv AS (SELECT event_type, CAST(ts AS DATE) AS d,
                           ${Exact.sumSql("value")} AS day_total
                    FROM events GROUP BY 1, 2)
        SELECT event_type, d, day_total,
               day_total - lag(day_total) OVER w AS delta,
               day_total / lag(day_total) OVER w - 1 AS pct_change
        FROM dv
        WINDOW w AS (PARTITION BY event_type ORDER BY d)""") {
    (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("d")
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(Exact.sumD(col("value")).as("day_total"))
        .select(col("event_type"), col("d"), col("day_total"),
          (col("day_total") - lag("day_total", 1).over(w)).as("delta"),
          (col("day_total") / lag("day_total", 1).over(w) - 1).as("pct_change"))
  }

  /** JSON serialization round-trip: pack typed columns into a JSON string
    * (to_json) and parse them back (from_json with an explicit schema) —
    * the interchange plumbing of every JSONL export/ingest hop. The oracle
    * reads the ORIGINAL columns: the query only hash-matches if the round
    * trip is lossless, including doubles (shortest-representation print →
    * exact re-parse). Pure codegen projections, no shuffle at all. */
  val jsonRoundtrip = QuerySpec(
    "q_json_roundtrip",
    """SELECT event_id, user_id, event_type, value FROM events""") {
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          to_json(struct(col("user_id"), col("event_type"), col("value"))).as("j"))
        .select(col("event_id"),
          from_json(col("j"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "user_id BIGINT, event_type STRING, value DOUBLE")).as("r"))
        .select(col("event_id"), col("r.user_id"), col("r.event_type"), col("r.value"))
  }

  /** Per-segment ordinary-least-squares trend: slope and intercept of
    * value over time from the four classic sufficient statistics
    * (Σx, Σy, Σxy, Σx²) in ONE grouped pass — the distributed regression
    * shape: no per-group iteration, no driver math, merges as plain sums.
    * x is whole DAYS since a fixed epoch (2024-01-01, the testdata's
    * origin): small integers keep every product exactly representable, so
    * the [[graft.Exact]] quantization is lossless here and the closed-form
    * slope/intercept are single IEEE expressions over exact values —
    * identical cross-engine as long as both sides parenthesize alike
    * (they do, verbatim). */
  val linearFit = QuerySpec(
    "q_linear_fit",
    s"""WITH p AS (SELECT event_type,
                          CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
                          value AS y
                   FROM events),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     ${Exact.sumSql("x")} AS sx, ${Exact.sumSql("y")} AS sy,
                     ${Exact.sumSql("x * y")} AS sxy, ${Exact.sumSql("x * x")} AS sxx
              FROM p GROUP BY 1)
        SELECT event_type, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
        FROM m""") {
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("double").as("x"),
          col("value").as("y"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          Exact.sumD(col("x")).as("sx"), Exact.sumD(col("y")).as("sy"),
          Exact.sumD(col("x") * col("y")).as("sxy"),
          Exact.sumD(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
            / col("n")).as("intercept"))
  }

  /** Sequential path mining: the 20 most common 3-step event-type paths
    * across user sessions — the [[markovTransitions]] extension to
    * length-3 patterns (what a funnel designer reads before hand-writing
    * one). Two lags over the SAME per-user sort (one window shuffle, not
    * two), then a count over ≤ #types³ path keys; the top-20 is a
    * TakeOrdered with a total tie-break, so the cut is deterministic. */
  val seqPaths = QuerySpec(
    "q_seq_paths",
    """WITH t AS (SELECT user_id, event_type,
                         lag(event_type, 1) OVER w AS p1,
                         lag(event_type, 2) OVER w AS p2
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT p2 || '>' || p1 || '>' || event_type AS path,
              CAST(count(*) AS BIGINT) AS n
       FROM t WHERE p2 IS NOT NULL
       GROUP BY 1 ORDER BY n DESC, path LIMIT 20""") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("event_type"),
          lag("event_type", 1).over(w).as("p1"),
          lag("event_type", 2).over(w).as("p2"))
        .filter(col("p2").isNotNull)
        .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
  }

  /** Interpolated (continuous) percentiles — the PERCENTILE_CONT twin of
    * the engine's selection-based PERCENTILE_DISC surface. Interpolation
    * is arithmetic, not selection, so this is only oracle-safe because
    * both engines compute position p·(n−1) and the linear blend over the
    * SAME IEEE doubles — verified bitwise on this corpus before adding
    * (probe: all 10 group×quantile cells identical to DuckDB's
    * quantile_cont). Sorting cost is one grouped sort, same as disc. */
  val percentileCont = QuerySpec(
    "q_percentile_cont",
    """SELECT event_type,
              quantile_cont(value, 0.25) AS p25,
              quantile_cont(value, 0.5)  AS p50,
              quantile_cont(value, 0.9)  AS p90
       FROM events GROUP BY 1""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.25)").as("p25"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"))
  }

  /** The NAIVE bounded-range join, planned by the
    * [[graft.plans.RangeJoinBinning]] optimizer rule: the query text is
    * the nested-loop form every user writes first; the rule rewrites it
    * to the binned equi-join ([[rangeJoinBinned]] is the hand-built twin
    * this must stay identical to). Putting the naive form through the
    * driver's correctness gate proves the rewrite end-to-end, not just in
    * unit tests; PlanSpec pins that the explode actually fired. */
  val rangeJoinAuto = QuerySpec(
    "q_range_join_auto",
    """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'click' AND b.event_type = 'purchase'
        AND epoch_us(b.ts) > epoch_us(a.ts)
        AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("a_id"), col("user_id"), unix_micros(col("ts")).as("a_t"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
          unix_micros(col("ts")).as("b_t"))
      a.join(b,
        col("user_id") === col("b_user")
          && col("b_t") > col("a_t") && col("b_t") <= col("a_t") + 600000000L)
        .select("a_id", "b_id", "user_id")
  }

  /** Per-segment skewness and excess kurtosis from the first four moments
    * in one Exact pass — the distribution-shape profile (is this metric
    * long-tailed? peaked?) read before choosing clip bounds. Built-in
    * skewness()/kurtosis() are merge-order-dependent accumulators; the
    * sufficient-statistics form is deterministic. `value` is pre-scaled
    * by /1024 (exact shift; both statistics are scale-invariant) so even
    * the 4th-power addends sit far inside the exact-decimal-cast envelope
    * (playbook #1's magnitude limit). */
  val momentsProfile = QuerySpec(
    "q_moments",
    s"""WITH p AS (SELECT event_type, value / 1024 AS x FROM events),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     ${Exact.sumSql("x")} AS s1,
                     ${Exact.sumSql("x * x")} AS s2,
                     ${Exact.sumSql("x * x * x")} AS s3,
                     ${Exact.sumSql("x * x * x * x")} AS s4
              FROM p GROUP BY 1),
        c AS (SELECT event_type, n, s1 / n AS mu,
                     s2 / n - (s1 / n) * (s1 / n) AS m2,
                     s3 / n - 3 * (s1 / n) * (s2 / n)
                       + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                     s4 / n - 4 * (s1 / n) * (s3 / n)
                       + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                       - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
              FROM m)
        SELECT event_type, n,
               m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS skewness,
               m4 / (m2 * m2) - 3 AS kurtosis
        FROM c""") {
    (s, d) =>
      val x = (col("value") / 1024).as("x")
      val m = Tables.events(s, d)
        .select(col("event_type"), x)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          Exact.sumD(col("x")).as("s1"),
          Exact.sumD(col("x") * col("x")).as("s2"),
          Exact.sumD(col("x") * col("x") * col("x")).as("s3"),
          Exact.sumD(col("x") * col("x") * col("x") * col("x")).as("s4"))
      val mu = col("s1") / col("n")
      val c = m.select(col("event_type"), col("n"), mu.as("mu"),
        (col("s2") / col("n") - mu * mu).as("m2"),
        (col("s3") / col("n") - lit(3) * mu * (col("s2") / col("n"))
          + lit(2) * mu * mu * mu).as("m3"),
        (col("s4") / col("n") - lit(4) * mu * (col("s3") / col("n"))
          + lit(6) * mu * mu * (col("s2") / col("n"))
          - lit(3) * mu * mu * mu * mu).as("m4"))
      c.select(col("event_type"), col("n"),
        (col("m3") / (sqrt(col("m2")) * sqrt(col("m2")) * sqrt(col("m2")))).as("skewness"),
        (col("m4") / (col("m2") * col("m2")) - 3).as("kurtosis"))
  }

  /** Time-weighted average: each observation holds until the user's next
    * event, so its weight is the interval LENGTH — the TWAP/duty-cycle
    * aggregation for irregular time series, where a plain mean
    * over-counts bursts. One per-user lead() gives hold durations
    * (integer microseconds; the final observation gets zero weight —
    * half-open convention), then Σ(value·dur)/Σ(dur) per user.
    *
    * Determinism WITHOUT quantization: the weighted sum runs in exact
    * INTEGER units (cents × micro-durations). Per-user durations
    * TELESCOPE to the user's observed span (≤ the corpus month,
    * ~2.6e12 µs), so Σ(cents·dur) ≤ 5e4·2.6e12 ≈ 1.3e17 — inside int64
    * in both engines; the final casts round the SAME exact integers, and
    * the double divisions are single IEEE ops. One shuffle on user_id;
    * window and aggregation share it. */
  val twap = QuerySpec(
    "q_twap",
    """WITH h AS (SELECT user_id, value, epoch_us(ts) AS t_us,
                         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS t_next
                  FROM events),
       w AS (SELECT user_id,
                    CAST(round(value * 100) AS BIGINT) AS cents,
                    t_next - t_us AS dur
             FROM h WHERE t_next IS NOT NULL)
       SELECT user_id,
              CAST(CAST(SUM(cents * dur) AS BIGINT) AS DOUBLE)
                / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE) / 100 AS twap,
              CAST(count(*) AS BIGINT) AS n_intervals
       FROM w GROUP BY 1""") {
    (s, d) =>
      val win = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("t_us"),
          lead(unix_micros(col("ts")), 1).over(win).as("t_next"))
        .filter(col("t_next").isNotNull)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          (col("t_next") - col("t_us")).as("dur"))
        .groupBy("user_id")
        .agg(
          (sum(col("cents") * col("dur")).cast("double")
            / sum(col("dur")).cast("double") / 100).as("twap"),
          count(lit(1)).as("n_intervals"))
  }

  /** Three-step funnel (view → click ≤30 min → purchase ≤1 h after the
    * FIRST click), written as two NAIVE bounded-range joins — both
    * rewritten to binned equi-joins by [[graft.plans.RangeJoinBinning]],
    * proving the rule composes through an intermediate aggregation. The
    * chain anchors each stage on the first (min) qualifying event, the
    * standard funnel attribution rule, so every stage is a grouped min —
    * deterministic. Output is the one-row stage-count summary. */
  val funnel3 = QuerySpec(
    "q_funnel3",
    """WITH v AS (SELECT event_id AS v_id, user_id, epoch_us(ts) AS v_t
                  FROM events WHERE event_type = 'view'),
       c AS (SELECT user_id AS cu, epoch_us(ts) AS c_t
             FROM events WHERE event_type = 'click'),
       p AS (SELECT user_id AS pu, epoch_us(ts) AS p_t
             FROM events WHERE event_type = 'purchase'),
       s1 AS (SELECT v.v_id, v.user_id, min(c.c_t) AS fc
              FROM v JOIN c ON c.cu = v.user_id
                AND c.c_t > v.v_t AND c.c_t <= v.v_t + 1800000000
              GROUP BY 1, 2),
       s2 AS (SELECT s1.v_id, min(p.p_t) AS fp
              FROM s1 JOIN p ON p.pu = s1.user_id
                AND p.p_t > s1.fc AND p.p_t <= s1.fc + 3600000000
              GROUP BY 1)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_views,
              (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_clicked,
              (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_converted""") {
    (s, d) =>
      val ev = Tables.events(s, d)
      def stage(t: String) = ev.filter(col("event_type") === t)
      val v = stage("view")
        .select(col("event_id").as("v_id"), col("user_id"), unix_micros(col("ts")).as("v_t"))
      val c = stage("click")
        .select(col("user_id").as("cu"), unix_micros(col("ts")).as("c_t"))
      val p = stage("purchase")
        .select(col("user_id").as("pu"), unix_micros(col("ts")).as("p_t"))
      val s1 = v.join(c, col("cu") === col("user_id")
          && col("c_t") > col("v_t") && col("c_t") <= col("v_t") + 1800000000L)
        .groupBy("v_id", "user_id").agg(min("c_t").as("fc"))
      val s2 = s1.join(p, col("pu") === col("user_id")
          && col("p_t") > col("fc") && col("p_t") <= col("fc") + 3600000000L)
        .groupBy("v_id").agg(min("p_t").as("fp"))
      v.agg(count(lit(1)).as("n_views"))
        .crossJoin(s1.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(s2.agg(count(lit(1)).as("n_converted")))
  }

  /** Gini coefficient per segment — the inequality/concentration audit
    * (is 1% of events carrying 90% of the value?) a data-balance review
    * reads next to the mixture rates. Exact rank formulation
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted values: the
    * rank is a per-group row_number with a TOTAL order (value, event_id),
    * and both sums route through [[graft.Exact]] — so the whole statistic
    * is deterministic arithmetic over exact values. One shuffle for the
    * rank window; the aggregation reuses its partitioning. */
  val giniConcentration = QuerySpec(
    "q_gini",
    s"""WITH r AS (SELECT event_type, value,
                          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                                  ORDER BY value, event_id) AS BIGINT) AS i
                   FROM events),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     ${Exact.sumSql("value")} AS sx,
                     ${Exact.sumSql("i * value")} AS six
              FROM r GROUP BY 1)
        SELECT event_type, n,
               2 * six / (n * sx) - CAST(n + 1 AS DOUBLE) / n AS gini
        FROM m""") {
    (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("value"),
          row_number().over(w).cast("long").as("i"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          Exact.sumD(col("value")).as("sx"),
          Exact.sumD(col("i") * col("value")).as("six"))
        .select(col("event_type"), col("n"),
          (lit(2) * col("six") / (col("n") * col("sx"))
            - (col("n") + 1).cast("double") / col("n")).as("gini"))
  }

  /** Lag-1 autocorrelation of the daily series per segment — "is
    * yesterday predictive of today": the seasonality/trend smell test run
    * before fitting anything fancier. Composes the engine's established
    * pieces: Exact daily totals ([[periodDelta]]'s first stage), a lag
    * over the tiny #segments×#days table, then the Pearson form of
    * [[graft.queries.Relational.corrStats]] on (today, yesterday) pairs —
    * sufficient statistics, one pass over the aggregate. The corpus is
    * scanned ONCE; everything after is #days-sized. */
  val autocorr = QuerySpec(
    "q_autocorr",
    s"""WITH dv AS (SELECT event_type, CAST(ts AS DATE) AS d,
                           ${Exact.sumSql("value")} / 1024 AS day_total
                    FROM events GROUP BY 1, 2),
        pairs AS (SELECT event_type, day_total AS x,
                         lag(day_total) OVER (PARTITION BY event_type ORDER BY d) AS y
                  FROM dv),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     ${Exact.sumSql("x")} AS sx, ${Exact.sumSql("y")} AS sy,
                     ${Exact.sumSql("x * y")} AS sxy,
                     ${Exact.sumSql("x * x")} AS sxx, ${Exact.sumSql("y * y")} AS syy
              FROM pairs WHERE y IS NOT NULL GROUP BY 1)
        SELECT event_type, n,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS r1
        FROM m""") {
    (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("d")
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg((Exact.sumD(col("value")) / 1024).as("day_total"))
        .select(col("event_type"), col("day_total").as("x"),
          lag("day_total", 1).over(w).as("y"))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Exact.sumD(col("x")).as("sx"), Exact.sumD(col("y")).as("sy"),
          Exact.sumD(col("x") * col("y")).as("sxy"),
          Exact.sumD(col("x") * col("x")).as("sxx"),
          Exact.sumD(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("r1"))
  }

  /** Benford first-digit audit per segment — the fabricated-data smell
    * test. The first significant digit comes from the EXACT INTEGER cents
    * (round(value·100) → CAST to string, both engines render integers
    * identically), never from double→string formatting, which the two
    * engines do differently. Counts + one share division; one scan. */
  val benford = QuerySpec(
    "q_benford",
    """WITH c AS (SELECT event_type,
                         substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                           AS first_digit
                  FROM events WHERE value > 0),
       n AS (SELECT event_type, first_digit, CAST(count(*) AS BIGINT) AS cnt
             FROM c GROUP BY 1, 2)
       SELECT event_type, first_digit, cnt,
              CAST(cnt AS DOUBLE)
                / CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS share
       FROM n""") {
    (s, d) =>
      Tables.events(s, d)
        .filter(col("value") > 0)
        .select(col("event_type"),
          substring(round(col("value") * 100).cast("long").cast("string"), 1, 1)
            .as("first_digit"))
        .groupBy("event_type", "first_digit")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("share",
          col("cnt").cast("double")
            / sum("cnt").over(Window.partitionBy("event_type")).cast("double"))
  }

  /** Audience overlap matrix: for every pair of event types, the distinct
    * users doing BOTH, and the Jaccard overlap of the two audiences — the
    * segment-overlap read behind "are buyers a subset of clickers". One
    * distinct (type, user) pass; the pair intersection joins that compact
    * table with itself on user (each user contributes ≤ types² pairs —
    * linear in users, never an events×events join); audience sizes
    * broadcast back. Integer counts, one final division. */
  val audienceOverlap = QuerySpec(
    "q_audience_overlap",
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
       sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM tu GROUP BY 1),
       inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                        CAST(count(*) AS BIGINT) AS n_both
                 FROM tu a JOIN tu b
                   ON a.user_id = b.user_id AND a.event_type < b.event_type
                 GROUP BY 1, 2)
       SELECT i.type_a, i.type_b, i.n_both, za.n_users AS n_a, zb.n_users AS n_b,
              CAST(i.n_both AS DOUBLE)
                / CAST(za.n_users + zb.n_users - i.n_both AS DOUBLE) AS jaccard
       FROM inter i
       JOIN sz za ON za.event_type = i.type_a
       JOIN sz zb ON zb.event_type = i.type_b""") {
    (s, d) =>
      val tu = Tables.events(s, d).select("event_type", "user_id").distinct()
      val sz = tu.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      val inter = tu.toDF("type_a", "user_id")
        .join(tu.toDF("type_b", "user_id"), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sz.toDF("type_a", "n_a")), "type_a")
        .join(broadcast(sz.toDF("type_b", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
          (col("n_both").cast("double")
            / (col("n_a") + col("n_b") - col("n_both")).cast("double")).as("jaccard"))
  }

  /** Burstiness (Fano factor) of daily event counts per segment:
    * variance-to-mean ratio of COUNTS — >1 means clustered arrivals, ≈1
    * Poisson-like. Pure integer sufficient statistics (counts and squared
    * counts are exact longs; the testdata's 30 days × ≤20k/day keeps
    * n·Σx² far inside int64), so determinism is structural — no
    * quantization, one grouped pass over the #segments×#days table. */
  val burstiness = QuerySpec(
    "q_burstiness",
    """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
             FROM dc GROUP BY 1)
       SELECT event_type, n_days,
              CAST(s1 AS DOUBLE) / n_days AS mean_daily,
              CAST(n_days * s2 - s1 * s1 AS DOUBLE)
                / CAST(n_days AS DOUBLE) / n_days
                / (CAST(s1 AS DOUBLE) / n_days) AS fano
       FROM m""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("c").as("s1"), sum(col("c") * col("c")).as("s2"))
        .select(col("event_type"), col("n_days"),
          (col("s1").cast("double") / col("n_days")).as("mean_daily"),
          ((col("n_days") * col("s2") - col("s1") * col("s1")).cast("double")
            / col("n_days").cast("double") / col("n_days")
            / (col("s1").cast("double") / col("n_days"))).as("fano"))
  }

  /** DAU/MAU stickiness: per day, the active-user count against the
    * trailing-30-day active-user count — the engagement ratio every
    * product dashboard leads with. Exact distinct counts both sides; the
    * trailing window is a per-(user, day) dedup followed by a 30-day
    * range self-count via the binned day grid (days join days, never
    * events join events). */
  val stickiness = QuerySpec(
    "q_stickiness",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       days AS (SELECT DISTINCT d FROM ud),
       dau AS (SELECT d, CAST(count(*) AS BIGINT) AS n_dau FROM ud GROUP BY 1),
       mau AS (SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_mau
               FROM days JOIN ud
                 ON ud.d <= days.d AND ud.d > days.d - INTERVAL 30 DAY
               GROUP BY 1)
       SELECT dau.d, dau.n_dau, mau.n_mau,
              CAST(dau.n_dau AS DOUBLE) / CAST(mau.n_mau AS DOUBLE) AS stickiness
       FROM dau JOIN mau ON mau.d = dau.d""") {
    (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
      val days = ud.select("d").distinct()
      val dau = ud.groupBy("d").agg(count(lit(1)).as("n_dau"))
      val mau = days.toDF("day")
        .join(ud, col("d") <= col("day") && col("d") > date_sub(col("day"), 30))
        .groupBy(col("day").as("d"))
        .agg(countDistinct("user_id").as("n_mau"))
      dau.join(mau, "d")
        .select(col("d"), col("n_dau"), col("n_mau"),
          (col("n_dau").cast("double") / col("n_mau").cast("double")).as("stickiness"))
  }

  /** Lorenz curve by value decile per segment — the distribution table
    * behind [[giniConcentration]]'s single number: which tenth of events
    * carries what share of total value. Deciles come from ntile over the
    * same TOTAL order as the Gini rank (deterministic bucket edges);
    * per-decile Exact sums divide by the segment total. */
  val lorenzDeciles = QuerySpec(
    "q_lorenz",
    s"""WITH r AS (SELECT event_type, value,
                          ntile(10) OVER (PARTITION BY event_type
                                          ORDER BY value, event_id) AS decile
                   FROM events),
        dm AS (SELECT event_type, CAST(decile AS BIGINT) AS decile,
                      CAST(count(*) AS BIGINT) AS n,
                      ${Exact.sumSql("value")} AS decile_value
               FROM r GROUP BY 1, 2)
        SELECT event_type, decile, n, decile_value,
               decile_value / SUM(decile_value) OVER (PARTITION BY event_type) AS value_share
        FROM dm""") {
    (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("value"), ntile(10).over(w).as("decile"))
        .groupBy(col("event_type"), col("decile").cast("long").as("decile"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("decile_value"))
        .withColumn("value_share",
          col("decile_value") / sum("decile_value").over(Window.partitionBy("event_type")))
  }

  /** Trailing 7-day EXACT median (and envelope) of daily event counts per
    * segment — the robust smoother monitoring dashboards want where a
    * rolling MEAN chases spikes. Spark has no percentile window function,
    * so the trailing window is expressed as a bounded range self-join of
    * the DAILY AGGREGATE with itself (0..6 days back) + percentile_disc
    * per anchor day — the join and the percentile run over the
    * #segments×#days table, which is metadata-sized next to the event
    * stream: the ONLY corpus-sized operation is the first groupBy, and
    * fan-out is capped at 7 rows per aggregate row by construction.
    * Integer counts end-to-end (percentile_disc SELECTS an element —
    * no interpolation, no doubles). At a finer grid (minutes, many
    * segments) the same shape holds: bucket the self-join on
    * (segment, day div W) to keep both sides co-partitioned. */
  val rollingMedian = QuerySpec(
    "q_rolling_median",
    """WITH dv AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2)
       SELECT a.event_type, a.d,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY b.c) AS BIGINT) AS med_c,
              CAST(min(b.c) AS BIGINT) AS min_c, CAST(max(b.c) AS BIGINT) AS max_c
       FROM dv a JOIN dv b
         ON a.event_type = b.event_type
        AND date_diff('day', b.d, a.d) BETWEEN 0 AND 6
       GROUP BY 1, 2""") {
    (s, d) =>
      val dv = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("c"))
      val a = dv.select(col("event_type"), col("d"))
      val b = dv.select(col("event_type").as("bt"), col("d").as("bd"), col("c"))
      a.join(b, col("event_type") === col("bt") &&
          datediff(col("d"), col("bd")).between(0, 6))
        .groupBy("event_type", "d")
        .agg(count(lit(1)).as("n_days"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)").cast("long").as("med_c"),
          min("c").as("min_c"), max("c").as("max_c"))
  }

  /** OHLC candle resample (open/high/low/close + volume) per (day,
    * event_type) — the time-series downsampling primitive next to
    * [[twap]]. Determinism under ties: "open" is the value at the
    * lexicographically-first (ts, event_id), not `first()` (which is
    * partition-order-dependent) and not `min_by` (which breaks ties
    * arbitrarily). The Spark plan is ONE partial/final aggregation —
    * open/close ride `min(struct(ts, event_id, value))` /
    * `max(struct(...))`, whose struct ordering compares ts then the
    * unique event_id, so the map-side combine is total-order-correct —
    * where the oracle's window formulation (two row_numbers) would
    * re-sort every partition. At 100 TB that is the difference between
    * a combine-then-tiny-exchange and a full shuffle+sort per window. */
  val ohlcResample = QuerySpec(
    "q_ohlc_resample",
    """WITH e AS (SELECT date_trunc('day', ts) AS day_start, event_type,
                         ts, event_id, value FROM events),
       r AS (SELECT *,
               row_number() OVER (PARTITION BY day_start, event_type
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY day_start, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
             FROM e)
       SELECT day_start, event_type,
              MAX(CASE WHEN rn_a = 1 THEN value END) AS open_val,
              MAX(value) AS high_val,
              MIN(value) AS low_val,
              MAX(CASE WHEN rn_d = 1 THEN value END) AS close_val,
              CAST(count(*) AS BIGINT) AS n_events
       FROM r GROUP BY 1, 2 ORDER BY 1, 2""") {
    (s, d) =>
      Tables.events(s, d)
        .select(
          date_trunc("day", col("ts")).as("day_start"),
          col("event_type"), col("ts"), col("event_id"), col("value"))
        .groupBy("day_start", "event_type")
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open_val"),
          max(col("value")).as("high_val"),
          min(col("value")).as("low_val"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close_val"),
          count(lit(1)).cast("long").as("n_events"))
        .orderBy("day_start", "event_type")
  }

  val specs: Seq[QuerySpec] = Seq(
    ohlcResample,
    streamWindow, streamSliding, sessionWindow, sessionize, sessionizeSkew, multimodalMeta,
    multimodalHistDup, multimodalQuality, multimodalBlockhash, multimodalFrames,
    multimodalAudio, rfmSegments,
    asofJoin, asofExec, rangeJoinBinned,
    sketchCountMin, rollingFrames, funnel, jsonExtract, gapFill, outlierZscore,
    rollingTime, winsorize, intervalMerge, markovTransitions, anomalyMad,
    retentionCohorts, periodDelta, jsonRoundtrip, linearFit, seqPaths,
    percentileCont, rangeJoinAuto, momentsProfile, twap, funnel3,
    giniConcentration, autocorr, benford, audienceOverlap, burstiness,
    stickiness, lorenzDeciles, rollingMedian)
}
