package graft.etl

import com.univocity.parsers.csv.{CsvFormat, CsvParser}
import java.io.{BufferedReader, File, FileInputStream, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
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
  * which plain `spark.read.csv` cannot express.
  *
  * Both formats take one route ([[typed]]): the frame's one task reads the
  * staged file as rows of cells (an xlsx sheet streamed by [[Xlsx]], a CSV
  * tokenized record by record, so a quoted cell may hold a line break),
  * drops `skipRows` rows and the header and types each cell, so no sheet
  * is held on the driver and the parse, the pipeline over it and its write
  * share one core. That suits the reference's NHS sheets, which are small;
  * how a much larger sheet fares on one task is not measured.
  */
object Staging {

  /** The CSV options both staged formats are typed under: an empty cell is
    * null, and a quote inside a quoted field is doubled (RFC 4180, as
    * pandas' `to_csv` writes it), so `"say ""hi"""` reads `say "hi"`. */
  private val csvOptions = Map("nullValue" -> "", "escape" -> "\"")

  /** Staged CSV sheet → DataFrame, decoded as UTF-8 (a malformed byte reads
    * as U+FFFD). A missing path or one that is not a regular file fails
    * here, before any job. The file is tokenized under [[csvOptions]] with
    * empty lines kept (so a blank preamble line counts toward `skipRows`),
    * line breaks inside quoted cells kept as written, and the line end
    * found by [[lineEnd]]. */
  def readSheet(
      spark: SparkSession,
      path: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    if (!new File(path).isFile) throw new FileNotFoundException(s"$path: not a regular file")
    typed(spark, path, schema, skipRows) { (file, options) =>
      val settings = options.asParserSettings
      settings.setSkipEmptyLines(false)
      settings.setNormalizeLineEndingsWithinQuotes(false)
      settings.getFormat.setLineSeparator(lineEnd(file, settings.getFormat))
      val parser = new CsvParser(settings)
      val reader = new InputStreamReader(new FileInputStream(file), UTF_8)
      TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
      parser.beginParsing(reader)
      Iterator.continually(parser.parseNext()).takeWhile(_ != null)
    }
  }

  /** The line end (LF, CRLF or CR) of the CSV at `path`: its first line
    * break outside a quoted cell, where a quote opens a quoted cell only at
    * the start of a cell and a doubled quote inside one stays inside it;
    * LF when there is no such break. Univocity's own detection takes the
    * first break even inside a quoted cell, so a first record holding a
    * break of another kind would set the wrong line end. */
  private def lineEnd(path: String, format: CsvFormat): String = {
    val in = new BufferedReader(new InputStreamReader(new FileInputStream(path), UTF_8))
    try {
      var start = true   // the next char starts a cell
      var quoted = false // inside a quoted cell
      var closed = false // the last char closed a quoted cell: a quote reopens it
      var c = in.read()
      while (c >= 0 && (quoted || c != '\n' && c != '\r')) {
        if (quoted) { if (c == format.getQuote) { quoted = false; closed = true } }
        else { quoted = c == format.getQuote && (start || closed); closed = false; start = c == format.getDelimiter }
        c = in.read()
      }
      if (c != '\r') "\n" else if (in.read() == '\n') "\r\n" else "\r"
    } finally in.close()
  }

  /** Excel sheet → DataFrame. The driver opens the workbook only to
    * resolve the sheet, so a corrupt file (`ZipException`) or a missing
    * sheet (the named `IllegalArgumentException`) fails here, before any
    * job; the rows are read in the frame's task, so the workbook, like a
    * staged CSV, must be readable where the tasks run. */
  def readXlsxSheet(
      spark: SparkSession,
      path: String,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame =
    Xlsx.withWorkbook(path)(readXlsxSheet(spark, _, sheetName, schema, skipRows))

  /** As above, through a workbook the caller has open (the Runner reads
    * the adult workbook's Notes sheet through the same handle). Only the
    * sheet is resolved through it: the frame's task opens the workbook
    * again and closes it when the task completes. */
  def readXlsxSheet(
      spark: SparkSession,
      workbook: Xlsx.Workbook,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    workbook.sheetPart(sheetName)
    typed(spark, workbook.path, schema, skipRows) { (file, _) =>
      val wb = new Xlsx.Workbook(file)
      TaskContext.get().addTaskCompletionListener[Unit](_ => wb.close())
      wb.rows(sheetName)
    }
  }

  /** The staged file at `path` as a frame of `schema` in one partition, as
    * a staged file is one stream (a worksheet is one deflate stream, and a
    * CSV record may span lines): its task opens the file's rows with `open`,
    * drops `skipRows` of them and the header ([[dropHeader]]) and types the
    * rest under the `CSVOptions` `csv()` would build ([[typedRows]]). */
  private def typed(spark: SparkSession, path: String, schema: StructType, skipRows: Int)(
      open: (String, CSVOptions) => Iterator[Array[String]]): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(csvOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // as csv(Dataset) does: the declared schema turns nullable (CSV columns
    // are flat) unless the legacy conf says otherwise
    val full =
      if (conf.getConf(SQLConf.LEGACY_RESPECT_NULLABILITY_IN_TEXT_DATASET_CONVERSION)) schema
      else StructType(schema.map(_.copy(nullable = true)))
    ExprUtils.verifyColumnNameOfCorruptRecord(full, options.columnNameOfCorruptRecord)
    val rows = spark.sparkContext.parallelize(Seq(path), 1).mapPartitions { paths =>
      dropHeader(open(paths.next(), options).drop(skipRows)).map(typedRows(full, options))
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
