package graft.sources

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.Xlsx

/** DataSource V2 exposure of the dependency-free [[graft.etl.Xlsx]] parser:
  * `spark.read.format("xlsx").option("sheet", "Table 5").load(path)` — the
  * idiomatic Spark surface for the reference's `pd.read_excel(sheet,
  * skiprows=N)` scan (reference src/main.py:112-113), replacing the
  * imperative stage-to-CSV hop with a planned scan that Catalyst prunes
  * like any other source.
  *
  * Options: `sheet` (default: first sheet), `skipRows` (preamble lines
  * before the header, default 0), `header` (default true: first
  * non-skipped row names the columns; false → _c0.._cN). All columns are
  * StringType — a spreadsheet cell has no reliable type, so typing is a
  * declarative `cast` in the plan, where Catalyst folds it into the same
  * codegen stage as the scan (the CSV staging path keeps the
  * schema-at-parse alternative). Duplicate header labels (common in real
  * spreadsheets) are uniquified positionally (`name`, `name_1`, ...), so
  * every column is addressable and pruning can never silently alias two
  * physical columns onto one.
  *
  * Scale shape: a worksheet is ONE deflate stream inside the zip — not
  * splittable — so the honest partitioning is one InputPartition per
  * workbook file, with parallelism across FILES (load a directory of
  * workbooks; the NHS publication is many small workbooks, reference
  * docs/: one file per release). A reader streams its partition's sheet
  * row by row and never holds the whole sheet. Column pruning is pushed
  * into the reader ([[XlsxScanBuilder]] implements SupportsPushDownRequiredColumns): a
  * `select(2 cols)` of a 40-column sheet materializes 2 strings per row,
  * and `.explain` shows ReadSchema with exactly those columns. Filters
  * push likewise (SupportsPushDownFilters): IsNull/IsNotNull, EqualTo,
  * In, and string-range comparisons are evaluated per cell row inside the
  * reader — in the many-workbook directory case the filter drops rows
  * BEFORE they are materialized as InternalRows or cross an exchange.
  * Comparisons use UTF8String ordering (identical to Spark's own
  * StringType ordering), and Spark re-applies every filter post-scan, so
  * pushdown can only remove work, never change a result.
  */
class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XlsxDataSource.headerSchema(XlsxDataSource.conf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    require(schema.fields.forall(_.dataType == StringType),
      "xlsx source reads STRING columns only — cast downstream in the plan")
    XlsxTable(schema, XlsxDataSource.conf(new CaseInsensitiveStringMap(properties)))
  }
}

object XlsxDataSource {
  /** Reader configuration, fully serializable. */
  final case class Conf(files: Seq[String], sheet: String, skipRows: Int, header: Boolean)

  private[sources] def conf(options: CaseInsensitiveStringMap): Conf = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("xlsx source requires a path"))
    // the parser reads via java.nio — driver/executor-visible filesystem
    // paths only; fail fast with a readable message instead of a deep
    // NoSuchFileException when handed a cluster URI
    require(!path.contains("://") || path.startsWith("file:"),
      s"xlsx source reads node-local filesystem paths, not '$path' — " +
        "copy the workbook local (the reference pipeline fetches over HTTP " +
        "to a local staging dir) or mount the store")
    val p = java.nio.file.Paths.get(path.stripPrefix("file://").stripPrefix("file:"))
    val files =
      if (java.nio.file.Files.isDirectory(p)) {
        val stream = java.nio.file.Files.list(p)
        try stream.iterator().asScala
          .map(_.toString).filter(_.toLowerCase.endsWith(".xlsx")).toSeq.sorted
        finally stream.close()
      } else Seq(p.toString)
    require(files.nonEmpty, s"no .xlsx files under $path")
    val sheet = Option(options.get("sheet")).getOrElse(Xlsx.sheetNames(files.head).head)
    Conf(files, sheet, options.getInt("skipRows", 0), options.getBoolean("header", true))
  }

  /** Column names from one streaming pass over the first file's sheet:
    * the header row (or none) and the width of the widest row. */
  private[sources] def headerSchema(c: Conf): StructType = {
    val (head, width) = Xlsx.withWorkbook(c.files.head) { wb =>
      val rows = wb.rows(c.sheet).drop(c.skipRows)
      require(rows.hasNext, s"sheet '${c.sheet}' has no rows after skipRows=${c.skipRows}")
      val head = rows.next()
      (head, rows.foldLeft(head.length)((w, r) => math.max(w, r.length)))
    }
    val raw =
      if (c.header)
        (0 until width).map { i =>
          val n = if (i < head.length) head(i) else null
          if (n != null && n.nonEmpty) n else s"_c$i"
        }
      else (0 until width).map(i => s"_c$i")
    // uniquify duplicate header labels positionally: a repeated "Total"
    // becomes Total, Total_1, Total_2 — without this, name-based pruning
    // silently read the FIRST occurrence's cells for every duplicate
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val names = raw.map { n =>
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"${n}_$k"
    }
    StructType(names.map(StructField(_, StringType, nullable = true)))
  }

  /** Can the reader evaluate this filter exactly (Spark string semantics)?
    * Conservative: anything else stays Spark-side. */
  private[sources] def supportedFilter(f: Filter): Boolean = f match {
    case IsNull(_) | IsNotNull(_) => true
    case EqualTo(_, _: String) => true
    case In(_, vs) => vs != null && vs.forall(_.isInstanceOf[String])
    case GreaterThan(_, _: String) | GreaterThanOrEqual(_, _: String) => true
    case LessThan(_, _: String) | LessThanOrEqual(_, _: String) => true
    case _ => false
  }

  /** Evaluate a pushed filter against a raw cell row. Must match Spark's
    * semantics exactly for the supported set: string comparison via
    * UTF8String (binary) ordering, NULL comparisons yield false. */
  private[sources] def evalFilter(
      f: Filter, cell: String => Option[String]): Boolean = {
    def cmp(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    f match {
      case IsNull(c) => cell(c).isEmpty
      case IsNotNull(c) => cell(c).isDefined
      case EqualTo(c, v: String) => cell(c).contains(v)
      case In(c, vs) => cell(c).exists(x => vs.exists(_ == x))
      case GreaterThan(c, v: String) => cell(c).exists(cmp(_, v) > 0)
      case GreaterThanOrEqual(c, v: String) => cell(c).exists(cmp(_, v) >= 0)
      case LessThan(c, v: String) => cell(c).exists(cmp(_, v) < 0)
      case LessThanOrEqual(c, v: String) => cell(c).exists(cmp(_, v) <= 0)
      case _ => true // unsupported (shouldn't be pushed): keep the row
    }
  }
}

case class XlsxTable(tableSchema: StructType, conf: XlsxDataSource.Conf)
  extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"xlsx:${conf.files.mkString(",")}#${conf.sheet}"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    XlsxScanBuilder(tableSchema, conf)
}

case class XlsxScanBuilder(full: StructType, conf: XlsxDataSource.Conf)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(XlsxDataSource.supportedFilter)
    // return everything as post-scan: Spark re-applies the filters above
    // the scan, so reader-side evaluation is a pure row-count reduction —
    // belt and braces, the standard FileScan contract
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = XlsxScan(full, required, pushed, conf)
}

case class XlsxScan(
    full: StructType, required: StructType, pushed: Array[Filter],
    conf: XlsxDataSource.Conf)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"xlsx sheet=${conf.sheet} PushedFilters: [${pushed.mkString(", ")}]"
  // one worksheet = one deflate stream: the file is the parallelism unit
  override def planInputPartitions(): Array[InputPartition] =
    conf.files.map(f => XlsxInputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    XlsxReaderFactory(
      conf.sheet, conf.skipRows, conf.header,
      full.fieldNames, required.fieldNames, pushed)
}

case class XlsxInputPartition(file: String) extends InputPartition

case class XlsxReaderFactory(
    sheet: String, skipRows: Int, header: Boolean,
    fullNames: Array[String], requiredNames: Array[String],
    pushed: Array[Filter])
  extends PartitionReaderFactory {

  /** Streams the sheet's rows from the workbook, which the reader's
    * `close()` closes. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val wb = new Xlsx.Workbook(p.asInstanceOf[XlsxInputPartition].file)
    val it =
      try wb.rows(sheet).drop(skipRows).drop(if (header) 1 else 0)
      catch { case e: Throwable => wb.close(); throw e }
    // pruning pushdown: only the required columns' cell positions are read
    val idx = requiredNames.map(n => fullNames.indexOf(n))
    val nameIdx = fullNames.zipWithIndex.toMap
    def cellOf(cells: Array[String])(name: String): Option[String] =
      nameIdx.get(name).flatMap(i => if (i < cells.length) Option(cells(i)) else None)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      @annotation.tailrec
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val cells = it.next()
        // filter pushdown: drop the row before materializing an InternalRow
        if (!pushed.forall(XlsxDataSource.evalFilter(_, cellOf(cells)))) next()
        else {
          val out = new GenericInternalRow(idx.length)
          var i = 0
          while (i < idx.length) {
            val v = if (idx(i) >= 0 && idx(i) < cells.length) cells(idx(i)) else null
            if (v != null) out.update(i, UTF8String.fromString(v))
            i += 1
          }
          row = out
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = wb.close()
    }
  }
}
