package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated star-schema testdata (TESTDATA.md).
  * One parquet file per table; columnar scan with pushdown/pruning left to
  * Catalyst — callers express filters/projections declaratively.
  */
object Tables {
  /** Inferred-schema memo, keyed by (session, absolute file path).
    *
    * `spark.read.parquet` re-infers the schema (footer read + merge) on
    * EVERY call — measured ~100–125 ms warm per call on this testdata
    * vs ~20 ms with the schema supplied (measured in r14) — and the suite
    * makes hundreds of such calls per pass, so schema RE-inference
    * alone was tens of seconds of bench wall. Production registers
    * these inputs once as catalog tables, whose whole point is
    * resolving the schema once per session; this memo is that
    * registration for the path-based testdata. Only the STRUCTTYPE is
    * cached — each call still builds a fresh relation (fresh expression
    * ids, so cross-read self-joins disambiguate exactly as before; a
    * full DataFrame memo was tried and broke Spark's ambiguous-self-
    * join analysis) and every action still scans the parquet. Keyed by
    * session identity because the inferred schema is conf-dependent
    * (nanosAsLong); entries are struct-sized. Only the immutable
    * driver testdata goes through here — the ETL sink's reads of
    * freshly WRITTEN scratch dirs stay on direct
    * `spark.read.parquet` (their files change under the path). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), org.apache.spark.sql.types.StructType]()

  /** Plain single-file scans. NOTE the testdata parquet is single
    * row group, so every scan is ONE task until the first exchange —
    * sites with heavy per-row compute BEFORE their first shuffle apply
    * [[graft.ops.Scale.fanOutScan]] AFTER their narrow projection
    * (fan-out here at the reader was measured a net loss: the exchange
    * blocks column pruning, so narrow queries shuffled wide columns). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent((spark, path),
      key => key._1.read.parquet(key._2).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped with two physical parquet types across testdata
    * generations: TIMESTAMP(NANOS) (read as raw nanos via the legacy
    * nanos-as-long mode, then truncated to micros — matching DuckDB's read
    * behavior) and TIMESTAMP(MICROS)/NTZ (read natively). Branch on the
    * inferred schema so both generations work; either way the column leaves
    * here as session-TZ TimestampType (UTC is pinned by [[Sessions]]),
    * so downstream queries and oracle values are identical.
    *
    * For the nanos generation the legacy conf must come from the SESSION
    * BUILDER ([[Sessions]] sets it for every session): it is consulted
    * again at plan and execution time, so a set-and-restore around this call
    * would break the later action — library code checks, entry points
    * decide. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // schema inference itself rejects TIMESTAMP(NANOS) when the legacy
    // conf is off ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))")
    // — surface the actionable conf message instead of Spark's raw error
    val raw =
      try table(s, d, "events")
      catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("NANOS") =>
          requireNanosAsLong(s) // throws the curated message when conf unset
          throw e
      }
    raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as long: truncate to micros
        requireNanosAsLong(s)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported parquet type $other")
    }
  }

  private[graft] def requireNanosAsLong(s: SparkSession): Unit =
    require(
      s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "events.parquet carries TIMESTAMP(NANOS): start the session with " +
        ".config(\"spark.sql.legacy.parquet.nanosAsLong\", \"true\")")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
