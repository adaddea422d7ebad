package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins ALL testdata generations of the events.ts adapter (the driver
  * regenerated /root/testdata mid-round-6 from TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS), silently breaking the then-hard-coded nanos path
  * for a quarter of the suite — NOTES.md playbook #6). Real data for the
  * legacy generation no longer exists, so each branch is pinned on a
  * crafted table: the same instant must come out of every physical
  * encoding, as session-TZ TimestampType. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one pinned instant: 2024-03-05 06:07:08.123456 UTC
  private val micros = 1709618828123456L

  private def base(tsCol: org.apache.spark.sql.Column) = {
    Seq((1L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Writes one events.parquet in the given physical encoding, returns dir. */
  private def write(tag: String, tsCol: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"events-$tag").toString
    base(tsCol).write.parquet(s"$dir/events.parquet")
    dir
  }

  // the legacy generation read ts as raw int64 nanos (nanosAsLong mode);
  // a plain long column reproduces exactly what that reader saw
  private lazy val generations: Seq[(String, String)] = Seq(
    "nanos-as-long" -> write("nanos", lit(micros * 1000L + 789L)),
    "micros-utc" -> write("utc", timestamp_micros(lit(micros))),
    "micros-ntz" -> write("ntz", timestamp_micros(lit(micros)).cast("timestamp_ntz")))

  test("events adapter: every physical ts generation yields the same instant") {
    generations.foreach { case (tag, dir) =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType, s"$tag: wrong output type")
      val t = df.select(unix_micros(col("ts"))).head().getLong(0)
      assert(t === micros, s"$tag: expected $micros, got $t")
      assert(df.select("event_id", "user_id", "event_type").head().toSeq ===
        Seq(1L, 7L, "click"), s"$tag: non-ts columns must flow through untouched")
    }
  }

  test("schema memo: repeated reads keep fresh expression ids (self-joins stay unambiguous)") {
    // r14: Tables.table memoizes only the INFERRED SCHEMA per (session,
    // path) — a full DataFrame memo was tried and broke every query that
    // reads a table twice and joins the two reads (Spark's ambiguous-
    // self-join check fires when both sides share expression ids). Pin
    // the contract: two calls yield distinct ids and their join analyzes.
    val sf = "/root/testdata/sf0.001"
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    val aIds = a.queryExecution.analyzed.output.map(_.exprId).toSet
    val bIds = b.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(aIds.intersect(bIds).isEmpty,
      "two table() calls must not share expression ids")
    // the cross-read join must analyze and produce the self-join row count
    val n = a.join(b, a("n_regionkey") === b("n_regionkey")).count()
    assert(n > 0)
  }

  test("schema memo: memoized read schema equals direct inference") {
    val sf = "/root/testdata/sf0.001"
    val direct = spark.read.parquet(s"$sf/lineitem.parquet").schema
    assert(Tables.lineitem(spark, sf).schema === direct,
      "schema-supplied read must be indistinguishable from inference")
  }

  test("legacy branch refuses to run without the session nanos conf (fails loudly)") {
    // library code checks, entry points decide: if the conf is absent the
    // long-typed generation must raise the actionable message, not read
    // nanos as if they were something else
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val ex = intercept[IllegalArgumentException] {
      Tables.requireNanosAsLong(bare)
    }
    assert(ex.getMessage.contains("nanosAsLong"))
  }
}
