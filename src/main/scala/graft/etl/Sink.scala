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
  * (database_util.py:56): [[overwriteTable]] writes the new rows beside the
  * table and swaps them in only after the write job commits, so a failed
  * load leaves the previous table readable and unchanged. The
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
    * of this call, the same for every row. */
  private def stamped(df: DataFrame): DataFrame = {
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
}
