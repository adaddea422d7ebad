package graft.etl

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** The JDK StAX reading of a workbook that [[Xlsx]] replaced, kept as the
  * reference its byte scanner is compared with: one streaming pass per
  * part, DTDs and external entities off, not namespace-aware (prefixes are
  * matched by hand), the sheet's rows positionally aligned with gaps
  * padded. Everything is collected, so it is for small test workbooks
  * only. */
object StaxReference {

  final case class Read(sheetNames: Seq[String], sharedStrings: Seq[String], rows: Map[String, Seq[Seq[String]]])

  private def letter(c: Char): Int = {
    val l = c | 0x20
    if (l >= 'a' && l <= 'z') l - 'a' + 1 else 0
  }

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

  private def local(r: XMLStreamReader): String = {
    val n = r.getLocalName
    val i = n.indexOf(':')
    if (i < 0) n else n.substring(i + 1)
  }

  private def attr(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      val p = r.getAttributePrefix(i)
      if ((p == null || p.isEmpty) && r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

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

  /** Every sheet of the workbook at `path`, read the StAX way. */
  def read(path: String): Read = {
    val zip = new ZipFile(path)
    try {
      val factory = XMLInputFactory.newDefaultFactory()
      factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      factory.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      def open(name: String): Option[XMLStreamReader] =
        Option(zip.getEntry(name)).map(e => factory.createXMLStreamReader(zip.getInputStream(e)))
      def scan(name: String)(f: XMLStreamReader => Unit): Option[Unit] =
        open(name).map { r =>
          try while (r.hasNext) if (r.next() == XMLStreamConstants.START_ELEMENT) f(r)
          finally r.close()
        }

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
      val sheets = named.map { case (name, rid) =>
        name -> targets.get(rid).map(t => if (t.startsWith("/")) t.drop(1) else s"xl/$t").orNull
      }.toIndexedSeq
      val shared = ArrayBuffer.empty[String]
      scan("xl/sharedStrings.xml") { r =>
        if (local(r) == "si") shared += Option(runText(r)).getOrElse("")
      }
      val rows = sheets.collect { case (name, part) if part != null && zip.getEntry(part) != null =>
        name -> sheetRows(open(part).get, shared.toIndexedSeq, s"$path, sheet '$name'")
      }.toMap
      Read(sheets.map(_._1), shared.toSeq, rows)
    } finally zip.close()
  }

  private def sheetRows(r: XMLStreamReader, shared: IndexedSeq[String], where: String): Seq[Seq[String]] = {
    def malformed(what: String) = new IllegalArgumentException(s"$where: malformed $what")
    def skip(): Unit = {
      var depth = 1
      while (depth > 0) r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    def readCell(t: String): String = {
      var value: String = null
      var inCell = true
      while (inCell) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          local(r) match {
            case "v" if t != "inlineStr" =>
              val v = r.getElementText
              value = if (t == "s") {
                val i = try v.trim.toInt catch { case _: NumberFormatException => -1 }
                if (i < 0 || i >= shared.length) throw malformed(s"shared-string index '$v'")
                shared(i)
              } else v
            case "is" if t == "inlineStr" => value = runText(r)
            case _ => skip()
          }
        case XMLStreamConstants.END_ELEMENT => inCell = false
        case _ =>
      }
      value
    }
    def readRow(): Seq[String] = {
      val cells = scala.collection.mutable.Map.empty[Int, String]
      var nextIdx = 0
      var inRow = true
      while (inRow) r.next() match {
        case XMLStreamConstants.START_ELEMENT if local(r) == "c" =>
          val ref = attr(r, "r")
          val idx = if (ref != null) colIndex(ref) else nextIdx
          if (idx < 0) throw malformed(s"cell reference '$ref'")
          nextIdx = idx + 1
          val v = readCell(attr(r, "t"))
          if (v != null) cells(idx) = v
        case XMLStreamConstants.END_ELEMENT if local(r) == "row" => inRow = false
        case _ =>
      }
      if (cells.isEmpty) Seq.empty else (0 to cells.keys.max).map(cells.getOrElse(_, null))
    }
    val out = ArrayBuffer.empty[Seq[String]]
    var done = false
    try while (!done && r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if local(r) == "row" =>
        val rn = attr(r, "r")
        val at = if (rn == null) out.length else {
          val n = try rn.trim.toInt catch { case _: NumberFormatException => 0 }
          if (n < 1) throw malformed(s"row number '$rn'")
          n - 1
        }
        val row = readRow()
        while (out.length < at) out += Seq.empty
        out += row
      case XMLStreamConstants.END_ELEMENT if local(r) == "sheetData" => done = true
      case _ =>
    } finally r.close()
    out.toSeq
  }
}
