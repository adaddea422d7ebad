package graft.etl

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Staged-sheet reader — the engine-side half of the reference's
  * `pd.read_excel(sheet, skiprows=N)` (reference src/main.py:112-113, :227).
  * There is no spark-excel in a zero-egress JVM (SURVEY.md §7.4 risk 1),
  * so both staged formats are read as CSV lines parsed with a DECLARED
  * schema by Spark's own CSV parser: "CSV with N preamble lines before the
  * header", which plain `spark.read.csv` cannot express. Neither path
  * holds a sheet on the driver.
  *
  * A CSV sheet is read in one pass that tags each line with its position
  * via the text datasource, drops the preamble, then parses the remainder
  * with `csv()` from the in-plan Dataset[String]. An xlsx sheet is
  * streamed by [[Xlsx]] through the one task that consumes it, one
  * partition per workbook, and that task runs the parser chain `csv()`
  * runs over its lines, so its parse, the pipeline over it and its write
  * share one core. That suits the reference's NHS sheets, which are small;
  * the gain over the earlier four-task read was measured on 20k-row sheets
  * only, and how a much larger sheet fares on one task is not measured.
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
    * sheet's rows after `skipRows` as CSV lines ([[Xlsx.csvLine]]), takes
    * the header off them ([[dropHeader]]) and closes the workbook when the
    * task completes. Each line goes through the parsers
    * `spark.read.schema(schema).option("nullValue", "").csv(lines)` runs
    * inside its own task: a `UnivocityParser` over the schema without its
    * corrupt-record column, wrapped in a `FailureSafeParser` over the whole
    * schema, with `CSVOptions` built from the session conf. So the rows,
    * the parse mode and the errors are those of a staged CSV sheet. */
  def readXlsxSheet(
      spark: SparkSession,
      workbook: Xlsx.Workbook,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    workbook.sheetPart(sheetName)
    val path = workbook.path
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("nullValue" -> ""), conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // as csv(Dataset) does: the declared schema turns nullable (CSV columns
    // are flat) unless the legacy conf says otherwise
    val full =
      if (conf.getConf(SQLConf.LEGACY_RESPECT_NULLABILITY_IN_TEXT_DATASET_CONVERSION)) schema
      else StructType(schema.map(_.copy(nullable = true)))
    val corrupt = options.columnNameOfCorruptRecord
    ExprUtils.verifyColumnNameOfCorruptRecord(full, corrupt)
    val parsed = StructType(full.filterNot(_.name == corrupt))
    // a worksheet is one deflate stream, so the workbook is one partition
    val rows = spark.sparkContext.parallelize(Seq(path), 1).mapPartitions { paths =>
      val wb = new Xlsx.Workbook(paths.next())
      TaskContext.get().addTaskCompletionListener[Unit](_ => wb.close())
      val raw = new UnivocityParser(parsed, options)
      val parser = new FailureSafeParser[String](raw.parse(_), options.parseMode, full, corrupt)
      dropHeader(wb.rows(sheetName).drop(skipRows).map(Xlsx.csvLine)).flatMap(parser.parse)
    }
    GraftSqlBridge.internalCreateDataFrame(spark, rows, full)
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
