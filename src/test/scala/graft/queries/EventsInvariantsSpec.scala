package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Structural invariants of the round-4 event operators — properties that
  * must hold on ANY input, checked on the real testdata (the oracle gate
  * proves value equality; these prove the operators mean what they claim).
  */
class EventsInvariantsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("sessionizeDistributed == naive per-user lag-chain under crafted 50% single-user skew") {
    // the q_sessionize_skew shape (half the stream on one hot user), but
    // proved IN-ENGINE against the naive single-window form, for a bucket
    // width small enough that the hot user crosses many buckets AND
    // intermediate empty buckets occur — the boundary-fix path the oracle
    // hash alone can't isolate
    val ev = Tables.events(spark, sf).select(
      when(col("event_id") % 2 === 0, -1L).otherwise(col("user_id")).as("user_id"),
      col("event_id"), col("ts"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val naive = ev
      .withColumn("new_sess",
        when(lag("ts", 1).over(w).isNull
          || unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
        max("ts").as("session_end"), graft.Exact.sumD(col("value")).as("total_value"))
    // two widths: 6h (the query's) and 37 minutes (odd, gap-incommensurate,
    // forces many boundary fixes) — exactness must not depend on W
    Seq(21600000000L, 2220000000L).foreach { wMicros =>
      val dist = EventsMultimodal.sessionizeDistributed(ev, wMicros, 1800000000L)
      assert(dist.count() === naive.count(), s"row count diverged at W=$wMicros")
      assert(dist.except(naive).count() === 0 && naive.except(dist).count() === 0,
        s"distributed sessionization diverged from the single-window form at W=$wMicros")
    }
    // the skew pin: the event-level lag runs keyed on (user, bucket) —
    // never on user alone — so no task ever holds the hot user's full run
    val plan = EventsMultimodal.sessionizeDistributed(ev, 21600000000L, 1800000000L)
      .queryExecution.optimizedPlan.toString
    val lagLines = plan.linesIterator.filter(_.contains("lag(")).toSeq
    assert(lagLines.nonEmpty && lagLines.forall(l => l.contains("bkt")),
      s"event-level lag window must be keyed on (user_id, bkt):\n${lagLines.mkString("\n")}")
  }

  test("sessionizeDistributed == naive on random streams and bucket widths (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random micro-streams: few users (collisions likely), timestamps
    // spanning several gap lengths so sessions split and merge, random
    // bucket widths incl. smaller-than-gap and bigger-than-span
    val rowGen = for {
      u <- Gen.choose(0L, 3L)
      tMicros <- Gen.choose(0L, 20L * 1800000000L) // 0..20 gap-lengths
      v <- Gen.choose(-100, 100)
    } yield (u, tMicros, v.toDouble)
    (0 until 4).foreach { i =>
      val rows = Gen.nonEmptyListOf(rowGen)
        .apply(Gen.Parameters.default.withSize(90), Seed(23L + i)).get
        .zipWithIndex
        .map { case ((u, t, v), id) => (u, id.toLong, t, v) }
      val wMicros = Seq(600000000L, 1800000000L, 5400000000L, 100L * 1800000000L)(i)
      // vary the session gap too — proves gapMicros is really threaded
      // through (a hardcoded 30-min gap inside the helper would pass the
      // i=1 case and fail the others)
      val gapMicros = Seq(900000000L, 1800000000L, 3600000000L, 450000000L)(i)
      val ev = rows.toDF("user_id", "event_id", "tm", "value")
        .withColumn("ts", timestamp_micros(col("tm"))).drop("tm")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val naive = ev
        .withColumn("new_sess",
          when(lag("ts", 1).over(w).isNull
            || unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > gapMicros, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
          max("ts").as("session_end"), graft.Exact.sumD(col("value")).as("total_value"))
      val dist = EventsMultimodal.sessionizeDistributed(
        ev.select("user_id", "event_id", "ts", "value"), wMicros, gapMicros)
      assert(dist.except(naive).count() === 0 && naive.except(dist).count() === 0,
        s"diverged at seed ${23 + i}, W=$wMicros, gap=$gapMicros")
    }
  }

  test("interval_merge: islands are disjoint, ordered, and cover every interval") {
    val isl = q("q_interval_merge").cache()
    try {
      // every interval is accounted for
      val nIntervals = isl.agg(sum("n_intervals")).head().getLong(0)
      assert(nIntervals === Tables.events(spark, sf).count())
      // island spans are non-negative
      assert(isl.filter(col("covered_us") < 0).count() === 0)
      // consecutive islands per user never touch: next start > previous end
      val w = Window.partitionBy("user_id").orderBy("island_start_us")
      val overlaps = isl
        .withColumn("prev_end", lag("island_end_us", 1).over(w))
        .filter(col("prev_end").isNotNull && col("island_start_us") <= col("prev_end"))
        .count()
      assert(overlaps === 0, "merged islands must be strictly separated")
    } finally { isl.unpersist(); () }
  }

  test("markov_transitions: each source row-distribution sums to 1") {
    val t = q("q_markov_transitions")
    val bad = t.groupBy("src_type").agg(sum("p").as("tot"))
      .filter(abs(col("tot") - 1.0) > 1e-9).count()
    assert(bad === 0)
    // total transitions = events − one per user (no predecessor)
    val n = t.agg(sum("n")).head().getLong(0)
    val ev = Tables.events(spark, sf)
    assert(n === ev.count() - ev.select("user_id").distinct().count())
  }

  test("twap: each user's time-weighted average lies within their value range") {
    val ev = Tables.events(spark, sf)
    val rng = ev.groupBy("user_id").agg(min("value").as("lo"), max("value").as("hi"))
    val bad = q("q_twap").join(rng, "user_id")
      // cents rounding can push the edge by half a cent
      .filter(col("twap") < col("lo") - 0.005 || col("twap") > col("hi") + 0.005)
      .count()
    assert(bad === 0)
  }

  test("gini: bounded in [0, 1) and zero for a constant series") {
    import spark.implicits._
    val bad = q("q_gini").filter(col("gini") < 0 || col("gini") >= 1).count()
    assert(bad === 0)
    // the closed form itself: constant values → perfect equality → 0
    val const = Seq.tabulate(40)(i => (i.toLong, 5.0)).toDF("event_id", "value")
    val w = Window.orderBy("value", "event_id")
    val g = const.select(col("value"), row_number().over(w).cast("long").as("i"))
      .agg(count(lit(1)).as("n"), sum("value").as("sx"), sum(col("i") * col("value")).as("six"))
      .select((lit(2) * col("six") / (col("n") * col("sx"))
        - (col("n") + 1).cast("double") / col("n")).as("g"))
      .head().getDouble(0)
    assert(math.abs(g) < 1e-12)
  }

  test("benford: shares sum to 1 per segment; digits are 1..9") {
    val b = q("q_benford")
    assert(b.filter(!col("first_digit").isin((1 to 9).map(_.toString): _*)).count() === 0)
    val bad = b.groupBy("event_type").agg(sum("share").as("tot"))
      .filter(abs(col("tot") - 1.0) > 1e-9).count()
    assert(bad === 0)
  }

  test("basket_rules: confidence bounded, pair support symmetric and <= both singles") {
    val r = q("q_basket_rules").cache()
    try {
      assert(r.filter(col("conf_ppm") > 1000000L).count() === 0,
        "confidence cannot exceed 1")
      assert(r.filter(
        col("supp_pair") > least(col("supp_ante"), col("supp_cons"))).count() === 0,
        "pair support bounded by each single support")
      // the co-occurrence COUNT is symmetric (only conf/lift direction
      // differs between (a,b) and (b,a))
      val asym = r.select(col("ante"), col("cons"), col("supp_pair"))
        .join(r.select(col("cons").as("ante"), col("ante").as("cons"),
          col("supp_pair").as("sp2")), Seq("ante", "cons"))
        .filter(col("supp_pair") =!= col("sp2")).count()
      assert(asym === 0, "supp_pair(a,b) must equal supp_pair(b,a)")
    } finally { r.unpersist(); () }
  }

  test("share_drift: each half's shares close to 10^6 within floor loss; drift consistent") {
    val rows = q("q_share_drift").collect()
    val nTypes = rows.length
    val s1 = rows.map(_.getAs[Long]("share_h1_ppm")).sum
    val s2 = rows.map(_.getAs[Long]("share_h2_ppm")).sum
    // integral division only ever drops ppm: each half's shares sum to
    // 10^6 minus at most one unit per type, never more
    assert(s1 <= 1000000L && s1 >= 1000000L - nTypes, s"h1 shares sum $s1")
    assert(s2 <= 1000000L && s2 >= 1000000L - nTypes, s"h2 shares sum $s2")
    rows.foreach { row =>
      assert(row.getAs[Long]("drift_ppm") ===
        math.abs(row.getAs[Long]("share_h1_ppm") - row.getAs[Long]("share_h2_ppm")))
    }
  }

  test("seasonal_residual: residuals cancel within integer-mean loss per (type, dow)") {
    val rows = q("q_seasonal_residual").collect()
    rows.groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("dow")))
      .foreach { case ((t, dow), g) =>
        // expected = floor-mean, so Σ residual ∈ [0, #days) per group
        val sum = g.map(_.getAs[Long]("residual")).sum
        assert(sum >= 0 && sum < g.length,
          s"($t, dow=$dow) residual sum $sum outside [0, ${g.length})")
        g.foreach { r =>
          val flag = 2 * math.abs(r.getAs[Long]("residual")) > r.getAs[Long]("expected_dow")
          assert(r.getAs[Long]("is_anomaly") === (if (flag) 1L else 0L))
        }
      }
  }

  test("decay_score: bounded by n_events and n_events·2^20; covers every user") {
    val rows = q("q_decay_score").collect()
    rows.foreach { r =>
      val (n, s) = (r.getAs[Long]("n_events"), r.getAs[Long]("decay_score_m"))
      // weight of any day is in [1, 2^20]
      assert(s >= n && s <= n * (1L << 20), s"score $s outside [$n, ${n * (1L << 20)}]")
    }
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.length.toLong === nUsers)
  }

  test("attrib_last_touch: conversions partition the purchases; purchase never self-credits") {
    val rows = q("q_attrib_last_touch").collect()
    assert(!rows.exists(_.getAs[String]("channel") == "purchase"),
      "a purchase must credit a NON-purchase touch")
    val total = rows.map(_.getAs[Long]("n_conversions")).sum
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(total === purchases, "every purchase is credited exactly once")
  }

  test("multimodalAudio: amplitude mass, clipping, and quiet runs match a direct scan") {
    import spark.implicits._
    // crafted payloads (doc_id ≡ 1 mod 3 selects the audio slice):
    // id 1 has a 3-space quiet run and two 'z'-rail bytes; id 4 has no
    // quiet byte at all (max_quiet_run must be 0, via the left join);
    // id 2 is NOT audio and must not appear
    val docs = Seq(
      (1L, "az   bzz a"), (4L, "abcdef"), (2L, "   ")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-audio").toString
    docs.write.parquet(dir + "/documents.parquet")
    val got = graft.queries.EventsMultimodal.multimodalAudio.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.ops.Caches.drain()
    def brute(t: String) = {
      val bs = t.map(_.toInt)
      val quietRuns = t.map(c => if (c.toInt <= 40) 'q' else '.')
        .mkString.split("\\.").map(_.length)
      (bs.size.toLong, bs.map(v => math.abs(v - 128)).sum.toLong,
        bs.count(_ >= 120).toLong,
        if (quietRuns.isEmpty) 0L else quietRuns.max.toLong)
    }
    assert(got === Map(1L -> brute("az   bzz a"), 4L -> brute("abcdef")))
    assert(got(1L)._4 === 3L && got(4L)._4 === 0L && got(1L)._3 === 3L)
  }

  test("blockhash pairs are a subset of global-histogram pairs, non-vacuously") {
    // Σ_blocks L1_block ≥ L1_global: splitting a histogram positionally
    // can only EXPOSE differences the global marginal hides, so at the
    // same relative threshold the layout-aware pair set can only shrink
    val sf = "/root/testdata/sf0.001"
    val pairKey = (df: org.apache.spark.sql.DataFrame) =>
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val global = pairKey(graft.queries.EventsMultimodal.multimodalHistDup.fn(spark, sf))
    val block = pairKey(graft.queries.EventsMultimodal.multimodalBlockhash.fn(spark, sf))
    graft.ops.Caches.drain()
    assert(block.subsetOf(global), s"blockhash found pairs histdup missed: ${block -- global}")
    // non-vacuous on this corpus: real near-dups survive the block split
    assert(block.nonEmpty, "no blockhash pairs — subset check is vacuous")
    assert(global.nonEmpty)
  }
}
