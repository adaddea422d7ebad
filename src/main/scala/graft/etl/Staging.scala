package graft.etl

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, GenericInternalRow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** Staged-sheet reader — the engine-side half of the reference's
  * `pd.read_excel(sheet, skiprows=N)` (reference src/main.py:112-113, :227).
  * There is no spark-excel in a zero-egress JVM (SURVEY.md §7.4 risk 1),
  * so both staged formats are typed against a DECLARED schema by Spark's
  * own CSV value converters: "CSV with N preamble lines before the header",
  * which plain `spark.read.csv` cannot express. Neither path holds a sheet
  * on the driver.
  *
  * A CSV sheet is read in one pass that tags each line with its position
  * via the text datasource, drops the preamble, then parses the remainder
  * with `csv()` from the in-plan Dataset[String]. An xlsx sheet is
  * streamed by [[Xlsx]] through the one task that consumes it, one
  * partition per workbook, and that task hands each cell to the converter
  * `csv()` would run on it, with no CSV line in between, so its parse, the
  * pipeline over it and its write share one core. That suits the
  * reference's NHS sheets, which are small; the gain over the earlier
  * four-task read was measured on 20k-row sheets only, and how a much
  * larger sheet fares on one task is not measured.
  */
object Staging {

  /** The CSV options both staged formats are typed under: an empty cell is
    * null, and a quote inside a quoted field is doubled (RFC 4180, as
    * pandas' `to_csv` writes it), so `"say ""hi"""` reads `say "hi"`. */
  private val csvOptions = Map("nullValue" -> "", "escape" -> "\"")

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
      .options(csvOptions)
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
    * sheet's rows after `skipRows`, takes the header off them
    * ([[dropHeader]]) and closes the workbook when the task completes.
    * Each cell goes straight to the converter Spark's CSV parser builds
    * for its column (`UnivocityParser.makeConverter`, from the
    * `CSVOptions` [[readSheet]]'s `csv` builds from [[csvOptions]] and the
    * session conf), so the rows are those of a staged CSV
    * sheet in PERMISSIVE mode ([[typedRows]]) without a CSV line between
    * the reader and the converter. */
  def readXlsxSheet(
      spark: SparkSession,
      workbook: Xlsx.Workbook,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    workbook.sheetPart(sheetName)
    val path = workbook.path
    val conf = spark.sessionState.conf
    val options = new CSVOptions(csvOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // as csv(Dataset) does: the declared schema turns nullable (CSV columns
    // are flat) unless the legacy conf says otherwise
    val full =
      if (conf.getConf(SQLConf.LEGACY_RESPECT_NULLABILITY_IN_TEXT_DATASET_CONVERSION)) schema
      else StructType(schema.map(_.copy(nullable = true)))
    ExprUtils.verifyColumnNameOfCorruptRecord(full, options.columnNameOfCorruptRecord)
    // a worksheet is one deflate stream, so the workbook is one partition
    val rows = spark.sparkContext.parallelize(Seq(path), 1).mapPartitions { paths =>
      val wb = new Xlsx.Workbook(paths.next())
      TaskContext.get().addTaskCompletionListener[Unit](_ => wb.close())
      dropHeader(wb.rows(sheetName).drop(skipRows)).map(typedRows(full, options))
    }
    GraftSqlBridge.internalCreateDataFrame(spark, rows, full)
  }

  /** Rows of cells as rows of `full`, as `csv()` parses its lines in
    * PERMISSIVE mode: column i's cell goes through its converter, an
    * absent cell reads as `nullValue` and a cell the converter rejects as
    * null. A row with more or fewer cells than the columns, or with a
    * rejected cell, is a bad record: its `_corrupt_record` column, when
    * the schema has one, holds the row as a CSV line ([[Xlsx.csvLine]]),
    * and is null otherwise. The returned row is reused. */
  private def typedRows(full: StructType, options: CSVOptions): Array[String] => InternalRow = {
    val corrupt = full.fieldNames.indexOf(options.columnNameOfCorruptRecord)
    val parsed = StructType(full.filterNot(_.name == options.columnNameOfCorruptRecord))
    val parser = new UnivocityParser(parsed, options)
    val convert = parsed.map(f => parser.makeConverter(f.name, f.dataType, f.nullable)).toArray
    val row = new GenericInternalRow(full.length)
    cells => {
      var bad = cells.length != convert.length
      var i = 0
      while (i < convert.length) {
        val v =
          try convert(i)(if (i < cells.length) cells(i) else null)
          catch {
            // a SparkUpgradeException (package-private): the parser rethrows it
            case e: SparkThrowable if e.getCondition.startsWith("INCONSISTENT_BEHAVIOR_CROSS_VERSION") => throw e
            case NonFatal(_) => bad = true; null
          }
        row.update(if (corrupt >= 0 && i >= corrupt) i + 1 else i, v)
        i += 1
      }
      if (corrupt >= 0) row.update(corrupt, if (bad) UTF8String.fromString(Xlsx.csvLine(cells)) else null)
      row
    }
  }

  /** What `csv(Dataset[String])` does to its lines with `header=true`, on
    * the cells those lines would hold: blank rows (no cells, or one cell of
    * ASCII spaces only, which Spark's `trim` empties) are dropped, the first
    * remaining row is the header, and every row equal to the header (as
    * many cells, equal cell by cell, an absent cell equal to an empty one)
    * is dropped. */
  private def dropHeader(rows: Iterator[Array[String]]): Iterator[Array[String]] = {
    val kept = rows.filterNot(cells =>
      cells.length == 0 || cells.length == 1 && (cells(0) == null || cells(0).forall(_ == ' ')))
    if (!kept.hasNext) Iterator.empty
    else {
      val header = kept.next()
      def same(a: String, b: String) = (if (a == null) "" else a) == (if (b == null) "" else b)
      kept.filterNot(cells => cells.length == header.length && cells.indices.forall(i => same(cells(i), header(i))))
    }
  }
}
