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
  *    defaultParallelism, one reducer per task slot;
  *  - `spark.hadoop.fs.file.impl` = [[NioLocalFileSystem]], which sets
  *    the permission bits of the files and directories a write creates
  *    in-process instead of forking `chmod` for each one. Hadoop caches a
  *    FileSystem per scheme and user, not per conf: a `file:` FileSystem
  *    created in the JVM before the first session (by
  *    `FileSystem.getLocal(new Configuration())`, say) is the one every
  *    session gets, and it keeps forking.
  *  - `spark.sql.extensions` = [[graft.functions.GraftExtensions]]: the
  *    engine's SQL functions, its two optimizer rules and the as-of join
  *    strategy, installed once when the session is built. A
  *    `newSession()` clone carries them too, and no query installs
  *    anything, so a query plans the same whatever ran before it.
  * Nothing else: AQE runs on Spark's defaults.
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
    * own (a test warehouse dir, say) before `getOrCreate()`. */
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", parallelism(master).toString)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)

  def build(master: String): SparkSession = builder(master).getOrCreate()
}
