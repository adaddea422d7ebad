package graft.etl

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Dependency-free XLSX sheet reader.
  *
  * The reference consumes NHS Excel workbooks directly
  * (`pd.read_excel(sheet_name=…, skiprows=N)`, reference src/main.py:113,
  * :227, :81); this environment has no spark-excel/POI, but .xlsx is just a
  * zip of SpreadsheetML, so a targeted parser covers the real format:
  * workbook.xml (sheet name → r:id), workbook.xml.rels (r:id → part),
  * sharedStrings.xml, and the sheet's <row>/<c> cells with shared (t="s"),
  * inline (t="inlineStr"), and literal values, aligned to column positions
  * from the A1-style cell references (absent cells stay empty, like
  * pandas' NaN).
  *
  * Each part is read in one streaming StAX pass over its zip entry, so a
  * sheet is never held as text; DTDs and external entities are off (a
  * workbook is untrusted input). Text follows openpyxl: character
  * references decode, rich-text runs join, phonetic (<rPh>) runs are
  * skipped. A [[Workbook]] handle parses the sheet index and the shared
  * strings once, for every sheet read through it. Cell references are read
  * as openpyxl reads them (`$` anchors, letters of either case); a
  * malformed reference, a row number that is not a positive integer or a
  * shared-string index outside the table fails with an
  * IllegalArgumentException naming the workbook and the sheet.
  *
  * Scope: values only — formulas read their cached <v>, styles/dates come
  * back as the stored literal. That is exactly what the reference's sheets
  * contain. The reader runs wherever its caller does: [[Staging]] opens a
  * workbook on the driver only to resolve a sheet ([[Workbook.sheetPart]])
  * and streams the sheet's rows inside the task that consumes them; the
  * Runner reads the Notes sheet on the driver and stops at row 12.
  */
object Xlsx {

  private val NoCells = new Array[String](0)

  /** 1-26 for an ASCII letter of either case, else 0. */
  private def letter(c: Char): Int = {
    val l = c | 0x20
    if (l >= 'a' && l <= 'z') l - 'a' + 1 else 0
  }

  /** Zero-based column of an A1-style cell reference, read as openpyxl
    * reads one: an optional `$`, one to three letters of either case, an
    * optional `$`, then the row's digits. -1 for any other string. */
  private def colIndex(ref: String): Int = {
    val n = ref.length
    var i = if (n > 0 && ref.charAt(0) == '$') 1 else 0
    val letters = i
    var acc = 0
    while (i < n && i - letters < 3 && letter(ref.charAt(i)) > 0) {
      acc = acc * 26 + letter(ref.charAt(i))
      i += 1
    }
    if (i == letters) return -1
    if (i < n && ref.charAt(i) == '$') i += 1
    val digits = i
    while (i < n && ref.charAt(i) >= '0' && ref.charAt(i) <= '9') i += 1
    if (i == digits || i < n) -1 else acc - 1
  }

  /** Element name without its namespace prefix (the parser is not
    * namespace-aware, so `x:row` arrives whole). */
  private def local(r: XMLStreamReader): String = {
    val n = r.getLocalName
    val i = n.indexOf(':')
    if (i < 0) n else n.substring(i + 1)
  }

  /** Value of the unprefixed attribute `name`, or null. */
  private def attr(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      val p = r.getAttributePrefix(i)
      if ((p == null || p.isEmpty) && r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Text of the `<t>` runs inside the current element (`<si>` or `<is>`),
    * joined, skipping phonetic `<rPh>` runs; null when there is no run.
    * Leaves the reader on the element's end tag. */
  private def runText(r: XMLStreamReader): String = {
    var sb: java.lang.StringBuilder = null
    var depth = 1
    var phonetic = 0
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          local(r) match {
            case "t" if phonetic == 0 =>
              if (sb == null) sb = new java.lang.StringBuilder
              sb.append(r.getElementText)
            case "rPh" => phonetic += 1; depth += 1
            case _ => depth += 1
          }
        case XMLStreamConstants.END_ELEMENT =>
          if (local(r) == "rPh") phonetic -= 1
          depth -= 1
        case _ =>
      }
    }
    if (sb == null) null else sb.toString
  }

  /** An opened workbook. Close it to release the zip. */
  final class Workbook(val path: String) extends AutoCloseable {
    private val zip = new ZipFile(path)
    // per handle: a factory is configured once and then only read
    private val factory = {
      val f = XMLInputFactory.newDefaultFactory()
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      // prefixes are matched by hand: hand-made workbooks write r:id
      // without declaring the namespace
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      f
    }

    private def open(name: String): Option[XMLStreamReader] =
      Option(zip.getEntry(name)).map(e => factory.createXMLStreamReader(zip.getInputStream(e)))

    /** Run `f` over each start tag of a part; None when the part is absent. */
    private def scan(name: String)(f: XMLStreamReader => Unit): Option[Unit] =
      open(name).map { r =>
        try while (r.hasNext) if (r.next() == XMLStreamConstants.START_ELEMENT) f(r)
        finally r.close()
      }

    /** (sheet name, part path) in workbook order. */
    private lazy val sheets: IndexedSeq[(String, String)] = {
      val named = ArrayBuffer.empty[(String, String)]
      scan("xl/workbook.xml") { r =>
        if (local(r) == "sheet") {
          var name, rid: String = null
          var i = 0
          while (i < r.getAttributeCount) {
            val p = r.getAttributePrefix(i)
            r.getAttributeLocalName(i) match {
              case "name" if p == null || p.isEmpty => name = r.getAttributeValue(i)
              case "id" if p != null && p.nonEmpty => rid = r.getAttributeValue(i)
              case _ =>
            }
            i += 1
          }
          if (name != null) named += name -> rid
        }
      }.getOrElse(throw new IllegalArgumentException(s"$path: not an xlsx (no xl/workbook.xml)"))
      val targets = scala.collection.mutable.Map.empty[String, String]
      scan("xl/_rels/workbook.xml.rels") { r =>
        if (local(r) == "Relationship") {
          val id = attr(r, "Id")
          val target = attr(r, "Target")
          if (id != null && target != null) targets.getOrElseUpdate(id, target)
        }
      }
      named.map { case (name, rid) =>
        name -> targets.get(rid).map(t => if (t.startsWith("/")) t.drop(1) else s"xl/$t").orNull
      }.toIndexedSeq
    }

    def sheetNames: Seq[String] = sheets.map(_._1)

    /** The shared-string table (empty when the workbook has none). */
    private[etl] lazy val sharedStrings: Array[String] = {
      val out = ArrayBuffer.empty[String]
      scan("xl/sharedStrings.xml") { r =>
        if (local(r) == "si") out += Option(runText(r)).getOrElse("")
      }
      out.toArray
    }

    /** The zip entry holding `sheetName`; a named IllegalArgumentException
      * when the sheet, its relationship or its part is missing. */
    private[etl] def sheetPart(sheetName: String): String = {
      val part = sheets.collectFirst { case (n, p) if n == sheetName => p }
        .getOrElse(throw new IllegalArgumentException(s"sheet '$sheetName' not found in $path"))
      if (part == null) throw new IllegalArgumentException(s"no relationship for sheet '$sheetName'")
      if (zip.getEntry(part) == null) throw new IllegalArgumentException(s"missing $part")
      part
    }

    /** The sheet's rows in one streaming pass, positionally aligned: row i
      * of the iterator is sheet row i+1 and cell j is column j, null when
      * absent. Excel omits fully-empty rows from the XML entirely; each
      * row's r attribute is honored and the gaps come back as empty rows,
      * or every positional consumer (skiprows, the Notes iloc[0,0] chain)
      * would shift — pandas read_excel counts blank rows and so must we.
      * A returned array is not reused. */
    def rows(sheetName: String): Iterator[Array[String]] = {
      val r = open(sheetPart(sheetName)).get
      new Iterator[Array[String]] {
        private var emitted = 0
        private var pending: Array[String] = null
        private var pendingIdx = 0
        private var done = false
        private val idxBuf = ArrayBuffer.empty[Int]
        private val valBuf = ArrayBuffer.empty[String]

        /** Move to the next <row> and parse it into `pending`. */
        private def advance(): Unit = {
          while (!done && pending == null) {
            if (!r.hasNext) { done = true; r.close() }
            else r.next() match {
              case XMLStreamConstants.START_ELEMENT if local(r) == "row" =>
                val rn = attr(r, "r")
                pendingIdx = if (rn == null) emitted else {
                  val n = try rn.trim.toInt catch { case _: NumberFormatException => 0 }
                  if (n < 1) throw malformed(s"row number '$rn'")
                  n - 1
                }
                pending = readRow()
              case XMLStreamConstants.END_ELEMENT if local(r) == "sheetData" =>
                done = true; r.close()
              case _ =>
            }
          }
        }

        private def readRow(): Array[String] = {
          idxBuf.clear(); valBuf.clear()
          var nextIdx = 0
          var inRow = true
          while (inRow) r.next() match {
            case XMLStreamConstants.START_ELEMENT if local(r) == "c" =>
              val ref = attr(r, "r")
              val idx = if (ref != null) colIndex(ref) else nextIdx
              if (idx < 0) throw malformed(s"cell reference '$ref'")
              nextIdx = idx + 1
              val v = readCell(attr(r, "t"), ref, idx)
              if (v != null) { idxBuf += idx; valBuf += v }
            case XMLStreamConstants.END_ELEMENT if local(r) == "row" => inRow = false
            case _ =>
          }
          if (idxBuf.isEmpty) NoCells
          else {
            val out = new Array[String](idxBuf.max + 1)
            var i = 0
            while (i < idxBuf.length) { out(idxBuf(i)) = valBuf(i); i += 1 }
            out
          }
        }

        /** The value of the current <c> (at `ref`, column `idx`), null when
          * it has none; leaves the reader on </c>. */
        private def readCell(t: String, ref: String, idx: Int): String = {
          var value: String = null
          var inCell = true
          while (inCell) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              local(r) match {
                case "v" if t != "inlineStr" =>
                  val v = r.getElementText
                  value = if (t == "s") shared(v, ref, idx) else v
                case "is" if t == "inlineStr" => value = runText(r)
                case _ => skip()
              }
            case XMLStreamConstants.END_ELEMENT => inCell = false
            case _ =>
          }
          value
        }

        /** The shared string `v` indexes. */
        private def shared(v: String, ref: String, idx: Int): String = {
          val i = try v.trim.toInt catch { case _: NumberFormatException => -1 }
          if (i < 0 || i >= sharedStrings.length) {
            val cell = if (ref != null) ref else s"in column ${idx + 1} of row ${pendingIdx + 1}"
            throw malformed(s"cell $cell: shared-string index '$v' outside the table of ${sharedStrings.length}")
          }
          sharedStrings(i)
        }

        private def malformed(what: String) =
          new IllegalArgumentException(s"$path, sheet '$sheetName': malformed $what")

        /** Skip the current element and its children. */
        private def skip(): Unit = {
          var depth = 1
          while (depth > 0) r.next() match {
            case XMLStreamConstants.START_ELEMENT => depth += 1
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
        }

        override def hasNext: Boolean = {
          if (pending == null) advance()
          pending != null
        }

        override def next(): Array[String] = {
          if (!hasNext) throw new NoSuchElementException("no more rows")
          emitted += 1
          if (emitted <= pendingIdx) NoCells
          else { val row = pending; pending = null; row }
        }
      }
    }

    override def close(): Unit = zip.close()
  }

  /** Open `path`, run `f`, close. */
  def withWorkbook[T](path: String)(f: Workbook => T): T = {
    val wb = new Workbook(path)
    try f(wb) finally wb.close()
  }

  /** Collect one sheet on the driver as rows of optional cell strings,
    * positionally aligned as [[Workbook.rows]] streams them (row i, column
    * j); absent cells are None. No load collects a sheet: loads stream it
    * through [[Workbook.rows]]. */
  def readSheet(path: String, sheetName: String): Seq[Seq[Option[String]]] =
    withWorkbook(path)(_.rows(sheetName).map(cells => cells.toSeq.map(Option(_))).toVector)

  /** One row of cells (null = absent) as a CSV line (RFC-4180 quoting),
    * the hand-off point into `spark.read.csv`. */
  def csvLine(cells: Array[String]): String =
    cells.iterator.map { v =>
      if (v == null) ""
      else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString(",")
}
