package graft.etl

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Staged-sheet reader — the engine-side half of the reference's
  * `pd.read_excel(sheet, skiprows=N)` (reference src/main.py:112-113, :227).
  * There is no spark-excel in a zero-egress JVM (SURVEY.md §7.4 risk 1),
  * so both staged formats enter Spark as CSV lines parsed with a DECLARED
  * schema: "CSV with N preamble lines before the header", which plain
  * `spark.read.csv` cannot express. Neither path holds a sheet on the
  * driver.
  *
  * A CSV sheet is read in one pass that tags each line with its position
  * via the text datasource, drops the preamble, then parses the remainder
  * as CSV from the in-plan Dataset[String]. An xlsx sheet is streamed by
  * [[Xlsx]] through the one task that consumes it, one partition per
  * workbook, so its parse, the pipeline over it and its write share one
  * core. That suits the reference's NHS sheets, which are small; the gain
  * over the earlier four-task read was measured on 20k-row sheets only,
  * and how a much larger sheet fares on one task is not measured.
  */
object Staging {

  def readSheet(
      spark: SparkSession,
      path: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    import spark.implicits._
    // monotonically_increasing_id is 0..k within the file's first split, so
    // dropping the preamble needs no global ordering (the header and
    // preamble always sit in split 0); later splits keep ids >= 2^33 and
    // pass the filter untouched — no sort, no shuffle.
    val lines = spark.read.textFile(path)
      .withColumn("_idx", org.apache.spark.sql.functions.monotonically_increasing_id())
      .filter(s"_idx >= $skipRows")
      .select("value").as[String]
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("nullValue", "")
      .csv(lines)
  }

  /** Excel sheet → DataFrame: the reference's
    * `pd.read_excel(sheet_name, skiprows=N)` end-to-end (reference
    * src/main.py:112-113). The driver opens the workbook only to resolve
    * the sheet, so a corrupt file (`ZipException`) or a missing sheet (the
    * named `IllegalArgumentException`) fails here, before any job; the rows
    * are read inside the task that consumes the frame (see the overload
    * below). The workbook must be readable where the tasks run, as a
    * staged CSV sheet must be for [[readSheet]]. */
  def readXlsxSheet(
      spark: SparkSession,
      path: String,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame =
    Xlsx.withWorkbook(path)(readXlsxSheet(spark, _, sheetName, schema, skipRows))

  /** As above, through a workbook the caller has open (the Runner reads
    * the adult workbook's Notes sheet through the same handle). Only the
    * sheet is resolved through it; the frame does not hold the handle, so
    * it may be closed once this returns.
    *
    * The frame's one partition opens the workbook in its task, streams the
    * sheet's rows after `skipRows` as CSV lines ([[Xlsx.csvLine]]) and
    * closes the workbook when the task completes. The lines are parsed by
    * `spark.read.schema(schema).csv`, as a staged CSV sheet's are; the
    * header is taken off in the stream ([[dropHeader]]) rather than by the
    * `header` option, which would run a job of its own to find the first
    * line. */
  def readXlsxSheet(
      spark: SparkSession,
      workbook: Xlsx.Workbook,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    import spark.implicits._
    workbook.sheetPart(sheetName)
    val path = workbook.path
    // a worksheet is one deflate stream, so the workbook is one partition
    val lines = spark.range(0, 1, 1, 1).mapPartitions { _ =>
      val wb = new Xlsx.Workbook(path)
      TaskContext.get.addTaskCompletionListener[Unit](_ => wb.close())
      dropHeader(wb.rows(sheetName).drop(skipRows).map(Xlsx.csvLine))
    }
    spark.read
      .schema(schema)
      .option("nullValue", "")
      .csv(lines)
  }

  /** What `csv(Dataset[String])` does to its lines with `header=true`:
    * blank lines (empty once Spark's `trim` has taken the spaces off both
    * ends) are dropped, the first remaining line is the header, and every
    * line equal to the header is dropped. */
  private def dropHeader(lines: Iterator[String]): Iterator[String] = {
    val kept = lines.filter(l => UTF8String.fromString(l).trim().numBytes() > 0)
    if (!kept.hasNext) Iterator.empty
    else {
      val header = kept.next()
      kept.filter(_ != header)
    }
  }
}
