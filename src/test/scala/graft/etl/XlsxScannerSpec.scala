package graft.etl

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[Xlsx]]'s byte scanner against the JDK StAX reading it replaced
  * ([[StaxReference]]): seeded random workbooks written with the XML
  * forms SpreadsheetML writers use, and some they rarely do, must read the
  * same sheet names, shared strings and rows through both. */
class XlsxScannerSpec extends AnyFunSuite {

  private val words = Seq("Cancer", "Alliance", "NCL", "Bath, Swindon", "71.5", "", " ", "two\nlines",
    "crlf\r\nend", "lone\rcr", "tab\there", "é", "€uro", "中文", "😀", "\"quoted\"", "it's", "a<b", "x&y", "1>0",
    "]]", "-- dash", "?>", "ok")

  /** `s` as XML character data in one of its spellings. */
  private def escape(rng: Random, s: String, inAttr: Boolean = false): String = {
    if (!inAttr && rng.nextInt(6) == 0 && !s.contains("]]>") && !s.contains("\r"))
      return s"<![CDATA[$s]]>"
    s.flatMap {
      case '&' => Seq("&amp;", "&#38;", "&#x26;")(rng.nextInt(3))
      case '<' => Seq("&lt;", "&#60;", "&#x3C;")(rng.nextInt(3))
      case '>' => Seq(">", "&gt;")(rng.nextInt(2))
      case '"' => if (inAttr) "&quot;" else Seq("\"", "&quot;")(rng.nextInt(2))
      case '\'' => if (inAttr) "&apos;" else Seq("'", "&apos;")(rng.nextInt(2))
      case '\r' if inAttr => "&#13;"
      case c if c.isLetter && c < 128 && rng.nextInt(12) == 0 =>
        if (rng.nextBoolean()) s"&#${c.toInt};" else f"&#x${c.toInt}%X;"
      case c => c.toString
    }
  }

  private def text(rng: Random): String =
    Seq.fill(1 + rng.nextInt(3))(words(rng.nextInt(words.size))).mkString(if (rng.nextBoolean()) " " else "")

  /** Something a writer may put between two elements. */
  private def filler(rng: Random): String = rng.nextInt(8) match {
    case 0 => "<!-- a comment, with -dashes- & <tags> -->"
    case 1 => "<?app-hint keep?>"
    case 2 => "\n  "
    case 3 => "<extLst><ext uri='x'><x14:thing a=\"1\"/></ext></extLst>"
    case _ => ""
  }

  private def col(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString else s"${('A' + c / 26 - 1).toChar}${('A' + c % 26).toChar}"

  /** A run of rich text: plain `<t>`, or `<r>` runs with formatting and a
    * phonetic `<rPh>` reading that must be skipped. */
  private def runs(rng: Random, p: String, s: String): String = {
    def t(v: String) =
      if (rng.nextBoolean()) s"<${p}t xml:space=\"preserve\">${escape(rng, v)}</${p}t>" else s"<${p}t>${escape(rng, v)}</${p}t>"
    rng.nextInt(4) match {
      case 0 =>
        val (a, b) = s.splitAt(s.length / 2)
        s"<${p}r><${p}rPr><${p}b/><${p}sz val='11'/></${p}rPr>${t(a)}</${p}r>" +
          s"<${p}rPh sb=\"0\" eb=\"1\">${t("READING")}</${p}rPh>${filler(rng)}<${p}r>${t(b)}</${p}r>" +
          s"<${p}phoneticPr fontId=\"1\"/>"
      case 1 => t(s) + s"<${p}rPh sb='0' eb='2'><${p}t>KANA</${p}t></${p}rPh>"
      case _ => t(s)
    }
  }

  /** A random workbook at a temp path: a few sheets of up to `maxRows`
    * random rows. */
  private def workbook(rng: Random, maxRows: Int): String = {
    val p = if (rng.nextInt(4) == 0) "x:" else ""
    val ns = if (p.nonEmpty) """xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""" else
      """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main""""
    val decl = Seq("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n",
      """<?xml version='1.0' encoding='utf-8'?>""", """<?xml version="1.0"?>""", "")(rng.nextInt(4))
    val shared = Seq.fill(rng.nextInt(8))(text(rng))
    val sheetNames = Seq.fill(1 + rng.nextInt(3))(text(rng)).map(_.replace("\r", "")).distinct
      .zipWithIndex.map { case (n, i) => s"$n #$i" }
    def sheet(): String = {
      var r = 0
      val rows = Seq.fill(rng.nextInt(maxRows)) {
        r += 1 + (if (rng.nextInt(5) == 0) rng.nextInt(3) else 0)
        val rAttr = rng.nextInt(10) match {
          case 0 => ""
          case 1 => s" r = '$r' "
          case _ => s""" r="$r" spans="1:4""""
        }
        var c = 0
        val cells = Seq.fill(rng.nextInt(6)) {
          c += 1 + (if (rng.nextInt(4) == 0) rng.nextInt(30) else 0)
          val ref = rng.nextInt(8) match {
            case 0 => ""
            case 1 => s""" r="$$${col(c - 1).toLowerCase}$$$r""""
            case 2 => s"  r = '${col(c - 1)}$r'  "
            case _ => s""" r="${col(c - 1)}$r""""
          }
          rng.nextInt(9) match {
            case 0 if shared.nonEmpty =>
              s"""<${p}c$ref s="2" t="s"><${p}v>${if (rng.nextBoolean()) " " else ""}${rng.nextInt(shared.size)}</${p}v></${p}c>"""
            case 1 => s"""<${p}c$ref t="inlineStr"><${p}is>${runs(rng, p, text(rng))}</${p}is></${p}c>"""
            case 2 => s"""<${p}c$ref t="str"><${p}f>SUM(A1:B2)&amp;"x"</${p}f><${p}v>${escape(rng, text(rng))}</${p}v></${p}c>"""
            case 3 => s"""<${p}c$ref s="1"/>"""
            case 4 => s"""<${p}c$ref t='b'><${p}v>${rng.nextInt(2)}</${p}v></${p}c>"""
            case 5 => s"""<${p}c$ref t="inlineStr"><${p}is/></${p}c>"""
            case 6 => s"""<${p}c$ref><${p}v>${escape(rng, text(rng))}</${p}v>${filler(rng)}</${p}c>"""
            case _ => s"""<${p}c$ref><${p}v>${rng.nextInt(100000) / 10.0}</${p}v></${p}c>"""
          }
        }
        s"<${p}row$rAttr>" + cells.map(_ + filler(rng)).mkString + s"</${p}row>" + filler(rng)
      }
      val dims = if (rng.nextBoolean()) s"""<${p}dimension ref="A1:D9"/><${p}sheetViews><${p}sheetView workbookViewId="0"/></${p}sheetViews>""" else ""
      val body = if (rows.isEmpty && rng.nextBoolean()) s"<${p}sheetData/>" else s"<${p}sheetData>${rows.mkString}</${p}sheetData>"
      s"$decl<${p}worksheet $ns>$dims${filler(rng)}$body<${p}pageMargins left='0.7'/></${p}worksheet>"
    }
    val path = Files.createTempFile("graft-scan", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml", s"""$decl<workbook $ns xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
      sheetNames.zipWithIndex.map { case (n, i) =>
        val name = escape(rng, n, inAttr = true)
        if (rng.nextBoolean()) s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        else s"""<sheet r:id='rId${i + 1}'  sheetId="${i + 1}" name="$name" ></sheet>"""
      }.mkString + "</sheets></workbook>")
    entry("xl/_rels/workbook.xml.rels", s"""$decl<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      sheetNames.indices.map(i => s"""<Relationship Id="rId${i + 1}" Type="w" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
      (if (shared.nonEmpty) """<Relationship Id="rIdS" Type="s" Target="sharedStrings.xml"/>""" else "") +
      "</Relationships>")
    if (shared.nonEmpty || rng.nextBoolean())
      entry("xl/sharedStrings.xml", s"""$decl<${p}sst $ns count="${shared.size}">""" +
        shared.map(s => s"<${p}si>${filler(rng)}${runs(rng, p, s)}</${p}si>").mkString + s"</${p}sst>")
    sheetNames.indices.foreach(i => entry(s"xl/worksheets/sheet${i + 1}.xml", sheet()))
    zos.close()
    path.toString
  }

  test("the byte scanner reads what the StAX reference reads on 300 seeded random workbooks") {
    val rng = new Random(20261019)
    var sheets, rows, cells = 0
    // the last ten are large, so tokens straddle the scanner's 64 KiB
    // buffer at many offsets
    for (n <- 1 to 300) {
      val path = workbook(rng, if (n > 290) 4000 else 12)
      val expected = StaxReference.read(path)
      Xlsx.withWorkbook(path) { wb =>
        assert(wb.sheetNames === expected.sheetNames, s"workbook $n")
        assert(wb.sharedStrings.toSeq === expected.sharedStrings, s"workbook $n")
        for (name <- wb.sheetNames) {
          val got = wb.rows(name).map(_.toSeq).toVector
          assert(got === expected.rows(name), s"workbook $n, sheet '$name'")
          sheets += 1
          rows += got.size
          cells += got.map(_.count(_ != null)).sum
        }
      }
      Files.delete(java.nio.file.Paths.get(path))
    }
    // the generator is not vacuous
    assert(sheets > 500 && rows > 2000 && cells > 5000, s"$sheets sheets, $rows rows, $cells cells")
  }
}
