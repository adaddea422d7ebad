package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY.md §7.5 — the reference is
  * batch-only; these ops give the engine a streaming surface over the same
  * event schema). The batch twins live in
  * graft.queries.EventsMultimodal: identical plans, swap `read` for
  * `readStream`.
  */
object StreamOps {

  /** events schema for the legacy TIMESTAMP(NANOS) testdata generation,
    * as Structured Streaming requires it declared (streaming sources
    * cannot infer): raw parquet nanos read as LongType. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Declared schema for the current (micros) generation — also the
    * fallback when the directory is EMPTY at stream start (the standard
    * topology where the writer job starts after the reader: a streaming
    * file source must be able to watch a not-yet-populated directory, so
    * the sniff failing to infer is not an error). */
  val eventsMicrosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The only inference failures that legitimately mean "directory not
    * yet populated" (the writer-starts-after-reader topology): an
    * existing-but-empty dir (UNABLE_TO_INFER_SCHEMA) or a dir the writer
    * has not created yet (PATH_NOT_FOUND). Any OTHER AnalysisException —
    * corrupt footers, unreadable files, permission errors — must surface,
    * not silently fall back to the micros schema and fail confusingly at
    * runtime. Known limitation, by the same topology: an empty dir that
    * later receives legacy-NANOS files was declared micros at start and
    * the first batch fails with a schema mismatch — declare via
    * [[eventsRawSchema]] by hand for that (historical) generation. */
  private val emptyStartConditions = Seq("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")

  /** Streaming source over a directory of event parquet files. Streaming
    * needs a declared schema, so sniff the generation with a one-time
    * driver-side batch footer read, stream with the inferred schema, and
    * convert `ts` with the batch reader's [[graft.Tables.eventsTs]]: legacy
    * nanos-as-long → truncate to micros (conf checked, not mutated, here —
    * it must come from the session builder); native micros/NTZ → cast to
    * session-TZ TimestampType. Either way `ts` leaves as TimestampType, so
    * every downstream windowed op and its batch twin agree. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val inferredOpt =
      try Some(spark.read.parquet(dir).schema)
      catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("NANOS") =>
          // inference itself rejects TIMESTAMP(NANOS) without the legacy
          // conf — surface the actionable message, not Spark's raw error
          graft.Tables.requireNanosAsLong(spark)
          throw e
        case e: org.apache.spark.sql.AnalysisException
            if emptyStartConditions.exists(String.valueOf(e.getCondition).contains) =>
          None // empty / not-yet-populated directory: fall back below
      }
    inferredOpt match {
      case Some(inferred) =>
        graft.Tables.eventsTs(spark.readStream.schema(inferred).parquet(dir))
      case None =>
        spark.readStream.schema(eventsMicrosSchema).parquet(dir)
    }
  }

  /** Tumbling-window counts + sums with a watermark: the streaming twin of
    * q_stream_window. Late events beyond 10 minutes are dropped; state for
    * closed windows is evicted — bounded state at any scale. The sum uses
    * the same quantized-decimal form as the batch twin ([[graft.Exact]]),
    * so stream and batch totals are BITWISE equal regardless of
    * micro-batch boundaries or partial-aggregation order. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), graft.Exact.sumD(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding (hopping) windowed aggregation: 1-hour windows every 30
    * minutes — each event contributes to exactly duration/slide = 2
    * windows, the overlap smoothing a tumbling window can't give. State =
    * open windows × keys, still watermark-bounded (×2 vs tumbling). Batch
    * twin: q_stream_sliding (same plan minus the watermark); totals stay
    * bitwise stream==batch through [[graft.Exact]]. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), graft.Exact.sumD(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: drop re-deliveries of the same event id, with
    * a watermark bounding the id-set state (ids older than the horizon are
    * evicted — without it, state grows forever). The streaming twin of the
    * batch exact-dedup pass. */
  def dedupeStream(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      // id-ONLY key: a redelivery re-stamped with a different timestamp is
      // still the same event (dropDuplicates(id, ts) would let it through)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming incremental dedup against a STATIC corpus — the
    * stream-static left_anti twin of the batch incremental pass
    * (graft.queries.TextDedup.dedupIncremental): rows whose fingerprint
    * already exists in the corpus never reach the sink. Stream-static
    * anti-joins are stateless on the stream side (the static relation is
    * re-read per micro-batch, or co-located when it is the bucketed corpus
    * fingerprint table), so state never grows with corpus size. */
  def dedupeAgainstCorpus(
      stream: DataFrame, corpus: DataFrame,
      fingerprintCol: String = "fingerprint"): DataFrame =
    stream.join(corpus.select(fingerprintCol), Seq(fingerprintCol), "left_anti")

  /** Streaming NEAR-dup candidates against a STATIC corpus — the
    * streaming twin of q_dedup_minhash_lsh's candidate generation (the
    * exact-fingerprint twin is [[dedupeAgainstCorpus]]): each arriving
    * doc's MinHash band keys come from a stateless scalar projection
    * ([[graft.queries.TextDedup.minhashBandsFor]] — no aggregation, so
    * it runs unchanged on the stream), equi-join the corpus band table
    * ([[graft.queries.TextDedup.minhashCorpusBands]]; stream-static
    * inner join — stateless stream-side, the static side broadcast or
    * co-located when bucketed on (band_id, band_val)), and multi-band
    * hits collapse via `dropDuplicatesWithinWatermark` on
    * (doc_id, corpus_doc_id) — watermark-bounded state, NOT a growing
    * candidate set. Emitted pairs feed the same candidate-linear exact
    * verification the batch path uses. */
  def nearDupCandidates(stream: DataFrame, corpusBands: DataFrame): DataFrame =
    graft.queries.TextDedup.minhashBandsFor(stream)
      .join(corpusBands, Seq("band_id", "band_val"))
      .select(col("doc_id"), col("corpus_doc_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id", "corpus_doc_id")

  /** Publish each micro-batch's full (complete-mode) aggregate as an
    * ATOMIC snapshot generation: foreachBatch → [[graft.etl.Sink.Manifest]]
    * .overwrite. A reader resolving the manifest at ANY instant — including
    * mid-publication — sees one complete, immutable generation; the
    * previous generation stays on disk until the next swap, so in-flight
    * scans never break. This is streaming refresh with batch-consistent
    * reads, vs a truncate-replace sink whose table path flickers. */
  def publishSnapshots(
      aggregated: DataFrame, base: String): org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Sink.Manifest.overwrite(batch.sparkSession, base, batch)
      }
      .start()

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Stream–stream time-interval join: pair each click with the same
    * user's views from the preceding 10 minutes. BOTH sides carry
    * watermarks and the join condition bounds the event-time gap, so
    * Spark can evict buffered rows once the other side's watermark passes
    * them — state stays proportional to the interval, not the stream.
    * (An unbounded-condition stream-stream join would buffer forever;
    * the time bound is what makes this a 100 TB-viable operator.)
    *
    * `joinType` extends the operator to the OUTER stream-stream case:
    * with "left_outer", a click whose lookback window closes (both
    * watermarks past click_ts) without any view emits once with NULL
    * view columns — the "unattributed click" row an attribution pipeline
    * needs, producible only because the watermarks bound how long the
    * engine must wait before declaring no match. */
  def joinWithinInterval(
      clicks: DataFrame, views: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    c.join(v,
      c("user_id") === v("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"),
      joinType)
      .select(c("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  /** One `ValueState` per key on Spark 4's `transformWithState`, folded
    * by `step` — the shape every typed-state operator below shares. For
    * each key a micro-batch touches, `step(key, previous, rows)` gets the
    * key's stored value (`None` on its first batch, or once a `ttl` has
    * expired it) and that batch's rows, and returns the value to store and
    * the rows to emit (Update mode).
    *
    * The state is registered as `stateName` with `stateEncoder`; these two
    * are the checkpoint's state layout, so an operator must keep them to
    * resume an existing checkpoint. A set `ttl` expires a key's state that
    * long after its last update; TTL needs a clock, so it runs the
    * processor under TimeMode.ProcessingTime, while no `ttl` keeps state
    * forever under TimeMode.None. `step` runs on the executors and is
    * serialized with the processor. */
  private def foldByKey[K, V, S, O: Encoder](
      grouped: KeyValueGroupedDataset[K, V], stateName: String, stateEncoder: Encoder[S],
      ttl: Option[java.time.Duration] = None)(
      step: (K, Option[S], Iterator[V]) => (S, Iterator[O])): Dataset[O] =
    grouped.transformWithState(new FoldProcessor(stateName, stateEncoder, ttl, step),
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(), OutputMode.Update())

  /** The processor behind [[foldByKey]]. */
  private final class FoldProcessor[K, V, S, O](
      stateName: String, stateEncoder: Encoder[S], ttl: Option[java.time.Duration],
      step: (K, Option[S], Iterator[V]) => (S, Iterator[O]))
    extends StatefulProcessor[K, V, O] {
    @transient private var state: ValueState[S] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.streaming.TTLConfig
      state = getHandle.getValueState[S](
        stateName, stateEncoder, ttl.fold(TTLConfig.NONE)(TTLConfig(_)))
    }
    override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (state.exists()) Some(state.get()) else None, rows)
      state.update(next)
      out
    }
  }

  case class Totals(n: Long, sumCents: Long)
  case class TotalsOut(user_id: Long, n_events: Long, total_cents: Long)

  /** Per-key running totals on Spark 4's `transformWithState` — the
    * successor API to [state|flatMap]GroupsWithState: typed per-key state
    * handles (ValueState/ListState/MapState) with per-state TTL, timers,
    * and a RocksDB-backed store, replacing the single opaque GroupState
    * blob. One ValueState[(count, cents)] per user; every micro-batch
    * emits the user's updated lifetime totals (Update mode). Values
    * accumulate as INTEGER cents, so totals are exact under any
    * micro-batch slicing — the stream==batch equality the spec pins.
    * State is O(distinct users); production deployments would pass a
    * [[foldByKey]] `ttl` to evict dormant keys, which this API scopes PER
    * STATE, not per processor (the improvement over GroupState
    * timeouts). */
  def runningTotals(events: Dataset[Event]): Dataset[TotalsOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.user_id), "totals", Encoders.product[Totals]) {
      (user: Long, prev: Option[Totals], rows: Iterator[Event]) =>
        var n = prev.fold(0L)(_.n); var s = prev.fold(0L)(_.sumCents)
        rows.foreach { e => n += 1; s += math.round(e.value * 100) }
        (Totals(n, s), Iterator.single(TotalsOut(user, n, s)))
    }
  }

  case class HHEntry(id: Long, est: Long, err: Long)
  case class HHState(entries: Seq[HHEntry])
  case class HHOut(event_type: String, item_id: Long, est_count: Long, max_err: Long)

  /** Streaming heavy hitters per key — the SpaceSaving sketch on
    * `transformWithState`: a FIXED budget of `k` counters per stream key
    * (event_type here) summarizes an unbounded item domain (user ids).
    * On an untracked arrival with a full budget, the MINIMUM counter is
    * evicted and its count becomes the newcomer's overestimate bound
    * (`err`). The classic guarantees (asserted in the spec): an item's
    * estimate never undercounts (`est ≥ true`), `est − err` never
    * overcounts, and any item with true frequency > N/k is guaranteed
    * tracked. State is O(keys × k) — CONSTANT in stream length, the
    * property that makes "top talkers over an infinite stream" viable
    * where an exact groupBy's state grows with the domain. Eviction
    * tie-breaks by (count, id), so the sketch is deterministic under any
    * fixed arrival order. Per-batch Update emission mirrors
    * [[runningTotals]]; the exact batch twin at audit time is a plain
    * groupBy-count (q_vocab_top's shape). */
  def heavyHitters(events: Dataset[Event], k: Int): Dataset[HHOut] = {
    require(k >= 1)
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.event_type), "hh", Encoders.product[HHState]) {
      (eventType: String, prev: Option[HHState], rows: Iterator[Event]) =>
        val m = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        prev.foreach(_.entries.foreach(e => m(e.id) = (e.est, e.err)))
        rows.foreach { e =>
          val x = e.user_id
          m.get(x) match {
            case Some((c, err)) => m(x) = (c + 1, err)
            case None if m.size < k => m(x) = (1L, 0L)
            case None =>
              val (mid, (mc, _)) = m.minBy { case (id, (c, _)) => (c, id) }
              m.remove(mid)
              m(x) = (mc + 1, mc) // inherit the evicted count as the error bound
          }
        }
        val entries = m.toSeq.map { case (id, (c, err)) => HHEntry(id, c, err) }
          .sortBy(e => (-e.est, e.id))
        (HHState(entries), entries.iterator.map(e => HHOut(eventType, e.id, e.est, e.err)))
    }
  }

  case class KmvState(hashes: Seq[Long])
  case class KmvOut(event_type: String, n_seen: Long, est_distinct: Long)

  /** Streaming distinct-user estimate per event type via a KMV sketch on
    * `transformWithState` — the streaming twin of q_window_distinct_kmv's
    * batch sketches. One ValueState holds the k smallest user-id hashes
    * seen so far: O(k) per key, CONSTANT in stream length (an exact
    * streaming distinct would hold every id ever seen — unbounded state,
    * the thing watermarks can't fix for lifetime metrics). Each batch
    * emits the key's updated estimate (Update mode).
    *
    * The estimate is the batch-KMV formula ((k−1)·2³²/kth over 32-bit
    * hashes) with the same md5-prefix hash, so stream and batch agree
    * EXACTLY on identical data — a stream==batch equality the spec pins,
    * and below capacity the sketch is lossless (est == true distinct).
    * Merging two sketches = union + re-truncate, which is exactly what
    * successive batches do — the mergeability that lets a production
    * deployment shard the stream and still combine estimates. */
  def distinctKmv(events: Dataset[Event], k: Int): Dataset[KmvOut] = {
    require(k >= 2)
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.event_type), "kmv", Encoders.product[KmvState]) {
      (eventType: String, prev: Option[KmvState], rows: Iterator[Event]) =>
        val merged = (prev.fold(Seq.empty[Long])(_.hashes) ++ rows.map(e => hash32(e.user_id)))
          .distinct.sorted.take(k)
        val est =
          if (merged.size < k) merged.size.toLong
          else (k - 1).toLong * 4294967296L / math.max(merged.last, 1L)
        (KmvState(merged), Iterator.single(KmvOut(eventType, merged.size.toLong, est)))
    }
  }

  case class HdrQState(idx: Seq[Int], cnt: Seq[Long])
  case class HdrQOut(event_type: String, n: Long,
      p50_cents: Long, p95_cents: Long, p99_cents: Long)

  /** Streaming relative-error quantile monitoring per event type — the
    * streaming face of q_sketch_hdr_quantile's mergeable HdrHistogram /
    * DDSketch layout. One ValueState holds the (bucket, count) table —
    * ≤ ~200 entries for ANY int64 value range, CONSTANT in stream length
    * (an exact streaming quantile would buffer every value ever seen);
    * each batch merges by SUMMING COUNTS, the sketch's defining
    * operation and exactly what a sharded production deployment does
    * across workers/days — and emits P50/P95/P99 lower-bound estimates
    * carrying the layout's ≤ 1/8 relative error. Bucket math is
    * [[graft.queries.Curation.hdrIdx]]/hdrLb, spec-pinned bit-equal to
    * the batch SQL, so a streaming estimate over a set of rows is
    * IDENTICAL to the batch query's estimate over the same rows. */
  def hdrQuantiles(events: Dataset[Event]): Dataset[HdrQOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.event_type), "hdr", Encoders.product[HdrQState]) {
      (eventType: String, prev: Option[HdrQState], rows: Iterator[Event]) =>
        val m = scala.collection.mutable.LongMap.empty[Long]
        prev.foreach { s =>
          s.idx.iterator.zip(s.cnt.iterator).foreach { case (i, c) => m(i.toLong) = c }
        }
        rows.foreach { e =>
          // the BATCH query's predicate verbatim (value > 0, THEN round
          // to cents — a 0.004 event keeps its cents-0 bucket-0 row in
          // both engines): any drift here breaks the stream==batch
          // estimate identity the scaladoc promises
          if (e.value > 0d) {
            val cents = math.floor(e.value * 100d + 0.5d).toLong
            val i = graft.queries.Curation.hdrIdx(cents).toLong
            m(i) = m.getOrElse(i, 0L) + 1L
          }
        }
        val sorted = m.toSeq.sortBy(_._1)
        val n = sorted.iterator.map(_._2).sum
        (HdrQState(sorted.map(_._1.toInt), sorted.map(_._2)),
          if (n == 0L) Iterator.empty
          else {
            // estimate = lower bound of the first bucket whose cumulative
            // count reaches ceil(q·n) — the batch query's rule verbatim,
            // over the ≤ ~200-entry table
            def est(pct: Long): Long = {
              val rk = (pct * n + 99L) / 100L
              var cum = 0L
              var res = 0
              val it = sorted.iterator
              var found = false
              while (it.hasNext && !found) {
                val (i, c) = it.next(); cum += c
                if (cum >= rk) { res = i.toInt; found = true }
              }
              graft.queries.Curation.hdrLb(res)
            }
            Iterator.single(HdrQOut(eventType, n, est(50), est(95), est(99)))
          })
    }
  }

  case class ErCand(new_key: Long, cand_key: Option[Long], score: Option[Long])
  case class ErBest(k: Long, s: Long, n: Long)
  case class ErRouteOut(new_key: Long, match_key: Option[Long],
      score: Option[Long], n_cands: Long, decision: String)

  /** Streaming incremental entity resolution — the streaming face of
    * q_er_incremental ([[graft.queries.Profiling.erIncrementalOf]]),
    * completing the daily-production story the same way [[hdrQuantiles]]
    * did for sketches: arriving records as a STREAM, matched against the
    * STANDING corpus with the Fellegi–Sunter weights FROZEN from that
    * corpus.
    *
    * Contract fidelity, piece by piece:
    *   - weights: two metadata scalars collected off the corpus at
    *     stream CONSTRUCTION ([[graft.queries.Profiling.erFrozenWeights]]
    *     — the shared build) — "yesterday's model" IS a constant for the
    *     day's stream, which is exactly the frozen-weights contract the
    *     batch spec traps (a per-batch recompute over corpus ∪ arrivals
    *     would drift scores with every micro-batch);
    *   - candidates: stream-static LEFT join on the bounded block key —
    *     stateless on the stream side (the static corpus is re-read or
    *     co-located per micro-batch, state never grows with corpus
    *     size); the left join keeps candidate-less arrivals as null
    *     rows, so they route 'new' with n_cands = 0 instead of being
    *     dropped;
    *   - scoring: [[graft.queries.Profiling.erAgreementScore]] VERBATIM
    *     (the shared-predicate convention — the two faces cannot drift);
    *   - argmax: `transformWithState` keyed on the ARRIVAL key (high
    *     cardinality, fully parallel), one ValueState[(best, score,
    *     n_cands)] per arrival merging candidates with the batch's
    *     deterministic (score desc, key asc) rule — so a re-processed or
    *     split delivery converges to the same answer, and each
    *     micro-batch emits the arrival's current routing (Update mode).
    *
    * State is O(arrivals in flight), BOUNDED by `ttl` (r13 — the one
    * stateful op in this file whose state previously grew with
    * arrivals-ever-seen): a routed arrival's ValueState expires `ttl`
    * after its last update, scoped PER STATE (the transformWithState
    * improvement over GroupState timeouts), so a candidate batch for
    * that arrival delivered after expiry re-routes FROM SCRATCH — the
    * argmax re-runs over just the late batch, exactly as if the
    * arrival were new (TransformWithStateSpec pins this). `ttl = None`
    * keeps state forever — the spec/verification setting where
    * replays must merge deterministically across any gap. TTL needs a
    * clock, so a set `ttl` runs the processor under
    * TimeMode.ProcessingTime; unset stays TimeMode.None.
    *
    * Redelivered DUPLICATE candidate sets within the TTL double-count
    * n_cands by design — upstream [[dedupeStream]] on the arrival id
    * is the composition that guards redelivery, as everywhere in this
    * file. */
  def erRouteArrivals(arrivals: DataFrame, corpus: DataFrame,
      ttl: Option[java.time.Duration] = None): Dataset[ErRouteOut] = {
    val spark = arrivals.sparkSession
    import spark.implicits._
    val wRow = graft.queries.Profiling.erFrozenWeights(corpus).head()
    // length(bin(...)) yields INT — widen driver-side, not in the shared
    // SQL (a cast there would churn the batch twin's plan for nothing)
    val (wNat, wSeg) =
      (wRow.getAs[Number](0).longValue, wRow.getAs[Number](1).longValue)
    val a = arrivals.toDF("new_key", "a_name", "a_nat", "a_seg", "a_cents", "blk")
    val b = corpus.toDF("cand_key", "b_name", "b_nat", "b_seg", "b_cents", "blk")
    val cand = a.join(b, Seq("blk"), "left_outer")
      .withColumn("w_nat", lit(wNat))
      .withColumn("w_seg", lit(wSeg))
      .select(col("new_key"), col("cand_key"),
        when(col("cand_key").isNotNull,
          graft.queries.Profiling.erAgreementScore).as("score"))
      .as[ErCand]
    foldByKey(cand.groupByKey(_.new_key), "best", Encoders.product[ErBest], ttl) {
      (newKey: Long, prev: Option[ErBest], rows: Iterator[ErCand]) =>
        var k = 0L; var s = 0L; var n = 0L
        prev.foreach { p => k = p.k; s = p.s; n = p.n }
        rows.foreach { r =>
          (r.cand_key, r.score) match {
            case (Some(ck), Some(sc)) =>
              // the batch argmax rule verbatim: score desc, key asc
              if (n == 0L || sc > s || (sc == s && ck < k)) { k = ck; s = sc }
              n += 1
            case _ => () // candidate-less left-join row: seen, no candidate
          }
        }
        // the batch routing CASE verbatim (null candidate → 'new')
        val decision =
          if (n == 0L) "new" else if (s >= 14L) "attach"
          else if (s >= 4L) "review" else "new"
        (ErBest(k, s, n), Iterator.single(ErRouteOut(newKey,
          if (n == 0L) None else Some(k),
          if (n == 0L) None else Some(s), n, decision)))
    }
  }

  /** The same md5-hex-prefix hash the batch KMV queries use
    * (`substr(md5(cast(user_id as string)), 1, 8)` read as a 32-bit int),
    * so streaming estimates are comparable against batch sketches. */
  private[graft] def hash32(userId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(userId.toString.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * when a >30-min event gap arrives, emitting one row per closed session —
    * the streaming twin of q_sessionize's gap logic. State is one small
    * struct per active user: O(active users), not O(events). Production
    * deployments pass ProcessingTimeTimeout so idle users' last sessions
    * flush and their state evicts; tests use the NoTimeout default (a
    * processing-time timeout keeps scheduling wake-up batches, which never
    * lets `processAllAvailable` quiesce). */
  def sessionize(
      events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = 30L * 60 * 1000000

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      var out = List.empty[SessionOut]
      var cur = state.getOption
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val tsUs = e.ts.getTime * 1000
        cur match {
          case Some(st) if tsUs - st.lastTs > gapMicros =>
            out ::= SessionOut(userId,
              new java.sql.Timestamp(st.sessionStart / 1000),
              new java.sql.Timestamp(st.lastTs / 1000), st.n, st.total)
            cur = Some(SessionState(tsUs, tsUs, 1, e.value))
          case Some(st) =>
            cur = Some(st.copy(lastTs = tsUs, n = st.n + 1, total = st.total + e.value))
          case None =>
            cur = Some(SessionState(tsUs, tsUs, 1, e.value))
        }
      }
      if (state.hasTimedOut) {
        cur.foreach { st =>
          out ::= SessionOut(userId,
            new java.sql.Timestamp(st.sessionStart / 1000),
            new java.sql.Timestamp(st.lastTs / 1000), st.n, st.total)
        }
        state.remove()
      } else {
        cur.foreach(state.update)
        if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
          state.setTimeoutDuration("30 minutes")
      }
      out.reverseIterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }
}
