package graft.etl

import java.time.Instant
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}
import scala.util.Try

/** Table sink replicating the reference's truncate+append load (reference
  * src/utils/database_util.py:9-61), rollback on failure included
  * (database_util.py:56) for [[overwriteTable]]: the new rows are written
  * beside the table and swapped in only after the write job commits, so a
  * failed load leaves the previous table readable and unchanged.
  * [[Sink.Manifest]] goes further: a new generation becomes visible by a
  * pointer swap, so there is no moment at which the table path is missing.
  * Every write path is staged or swapped: none overwrites a table in
  * place, so no failed write loses the previous table. The
  * `_TIMESTAMP DEFAULT CURRENT_TIMESTAMP()` column (reference
  * docs/create_index.sql:19) is appended by [[stamped]]: one instant per
  * write, read on the driver as the write starts, so the whole batch gets
  * one stamp. Generated code reads that instant from the plan's reference
  * array rather than inlining it, so a repeated write of the same shape
  * reuses the classes the last one compiled.
  *
  * The reference's NaN→NULL normalization pre-write
  * (database_util.py:29-30) is a no-op here: Spark nulls already surface as
  * SQL NULLs, and the staged parquet path never materializes NaN-for-null.
  */
object Sink {

  /** `df` with `_TIMESTAMP` (replacing a column of that name): the instant
    * of this call, the same for every row. Every write path that stamps
    * calls this once per write. */
  def stamped(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    val stamp = Alias(WriteStamp(DateTimeUtils.instantToMicros(Instant.now())), "_TIMESTAMP")()
    GraftSqlBridge.ofRows(df.sparkSession,
      Project(plan.output.filterNot(a => resolver(a.name, "_TIMESTAMP")) :+ stamp, plan))
  }

  /** A timestamp known when the plan is built. It is not foldable, so it
    * stays out of the generated code as a literal: the code reads `micros`
    * through `ctx.addReferenceObj`, and two writes of the same plan shape
    * generate the same code. */
  private case class WriteStamp(micros: Long) extends LeafExpression {
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = micros
    override def prettyName: String = "write_stamp"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("writeStamp", micros, "java.lang.Long")
      ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
    }
  }

  /** Overwrite `path` with `df` + `_TIMESTAMP`, through [[replaceStaged]]:
    * readers never see a partly written table, and a failed write leaves
    * the previous one as it was. */
  def overwriteTable(df: DataFrame, path: String): Unit =
    replaceStaged(stamped(df), path)

  /** Write `df` to the sibling `<path>_staging` and swap it in by [[swapIn]]
    * once the write job has committed. A failed write removes the staging
    * directory and leaves the previous table as it was. */
  private def replaceStaged(df: DataFrame, path: String): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staged = dst.suffix("_staging")
    try df.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    catch {
      case e: Throwable =>
        Try(fs.delete(staged, true)).failed.foreach(e.addSuppressed)
        throw e
    }
    swapIn(fs, staged, dst)
  }

  /** Replace `dst` with the fully written sibling directory `staged`:
    * rename-aside → rename-in → delete-old. A restorable copy of the data
    * exists at every step (a crash leaves either `dst` or `<dst>_old` and
    * `staged` intact), and the no-table window is a single rename rather
    * than a delete+rename pair. A real deployment swaps via a metastore or
    * table-format pointer for true atomicity. */
  private def swapIn(fs: FileSystem, staged: Path, dst: Path): Unit = {
    val old = dst.suffix("_old")
    if (fs.exists(old)) require(fs.delete(old, true), s"failed to clear stale $old")
    val replacing = fs.exists(dst)
    if (replacing) require(fs.rename(dst, old), s"rename $dst -> $old failed; table untouched")
    require(fs.rename(staged, dst),
      s"rename $staged -> $dst failed; previous table intact at $old, new one at $staged")
    if (replacing) require(fs.delete(old, true), s"failed to delete $old after swap (table is live)")
  }

  /** Manifest-indirection table: data lives in immutable generation dirs
    * (`<base>/gen-N`); `<base>/MANIFEST` holds the live generation's name
    * and is replaced ATOMICALLY (FileContext rename with OVERWRITE — atomic
    * on both HDFS and local filesystems). Readers resolve the manifest and
    * scan a complete, immutable directory, so — unlike the rename-aside
    * swap of [[overwriteTable]] — there is NO window where the table path
    * does not exist, and a rewrite never disturbs in-flight readers (the
    * previous generation is retained until the NEXT rewrite). This is the
    * root-pointer pattern table formats (Iceberg/Delta) build on, reduced
    * to one pointer file for a filesystem-only sink. */
  object Manifest {
    private val Name = "MANIFEST"

    private def fs(spark: org.apache.spark.sql.SparkSession, base: String) =
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        spark.sparkContext.hadoopConfiguration)

    private def currentGen(
        spark: org.apache.spark.sql.SparkSession, base: String): Option[Long] = {
      val f = fs(spark, base)
      val m = new org.apache.hadoop.fs.Path(base, Name)
      if (!f.exists(m)) None
      else {
        val in = f.open(m)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.stripPrefix("gen-").toLong)
        finally in.close()
      }
    }

    /** Write `df` as the next generation and atomically repoint the
      * manifest. The newest `keepGenerations` generations survive (the
      * default keeps the live one plus its predecessor, for readers that
      * resolved the manifest just before the swap); raising it buys
      * [[readAt]] time travel at the cost of storage — the Iceberg/Delta
      * snapshot-retention trade, in one knob. */
    def overwrite(
        spark: org.apache.spark.sql.SparkSession, base: String, df: DataFrame,
        keepGenerations: Int = 2): Unit = {
      require(keepGenerations >= 2, "must keep at least the live + previous generation")
      val f = fs(spark, base)
      val next = currentGen(spark, base).map(_ + 1).getOrElse(0L)
      df.write.mode(SaveMode.Overwrite).parquet(s"$base/gen-$next")
      val tmp = new org.apache.hadoop.fs.Path(base, s"$Name.tmp")
      val out = f.create(tmp, true)
      try out.write(s"gen-$next".getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, new org.apache.hadoop.fs.Path(base, Name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // retire generations beyond the retention horizon
      (0L to next - keepGenerations).foreach { g =>
        val p = new org.apache.hadoop.fs.Path(base, s"gen-$g")
        if (f.exists(p)) f.delete(p, true)
      }
    }

    /** Resolve the live generation and read it. */
    def read(spark: org.apache.spark.sql.SparkSession, base: String): DataFrame = {
      val gen = currentGen(spark, base).getOrElse(
        sys.error(s"no $Name at $base — not a manifest table"))
      spark.read.parquet(s"$base/gen-$gen")
    }

    /** Time-travel read: a PINNED generation (`AS OF` semantics). Fails
      * loudly when the generation has been retired by retention — a silent
      * fallback to live data would be a correctness bug in any consumer
      * doing reproducible reprocessing. */
    def readAt(spark: org.apache.spark.sql.SparkSession, base: String, gen: Long): DataFrame = {
      val f = fs(spark, base)
      val p = new org.apache.hadoop.fs.Path(base, s"gen-$gen")
      if (!f.exists(p))
        sys.error(s"generation $gen at $base is retired or never existed " +
          s"(available: ${generations(spark, base).mkString(",")})")
      spark.read.parquet(p.toString)
    }

    /** Generations still on disk, oldest first. */
    def generations(spark: org.apache.spark.sql.SparkSession, base: String): Seq[Long] = {
      val f = fs(spark, base)
      val b = new org.apache.hadoop.fs.Path(base)
      if (!f.exists(b)) Seq.empty
      else f.listStatus(b).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong).sorted
    }
  }
}
