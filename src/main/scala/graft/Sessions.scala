package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main, the benchmark
  * harness and the test session take theirs from here, so the session the
  * oracle sweep verifies is the session the benchmark times. It pins:
  *  - `spark.sql.session.timeZone=UTC`: oracle parity for every timestamp;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the TIMESTAMP(NANOS)
  *    generation of `events` must be readable (see [[Tables.events]]);
  *  - the Spark UI off;
  *  - `spark.sql.shuffle.partitions` equal to the master's
  *    defaultParallelism, one reducer per task slot.
  * Nothing else: AQE runs on Spark's defaults, and no optimizer rule or
  * strategy is injected — queries whose plans need one register it on
  * their session, and [[graft.functions.GraftExtensions]] remains the
  * deploy-wide route (`spark.sql.extensions`).
  */
object Sessions {
  private val LocalN = """local\[(\*|\d+)\]""".r

  /** defaultParallelism of a local master: the task slots it runs. */
  def parallelism(master: String): Int = master match {
    case "local" => 1
    case LocalN("*") => Runtime.getRuntime.availableProcessors()
    case LocalN(n) => n.toInt
    case _ => throw new IllegalArgumentException(
      s"Sessions builds local sessions only (local, local[N], local[*]): $master")
  }

  /** A builder carrying every pin, for callers that add a setting of their
    * own (a test warehouse dir, extensions) before `getOrCreate()`. */
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", parallelism(master).toString)

  def build(master: String): SparkSession = builder(master).getOrCreate()
}
