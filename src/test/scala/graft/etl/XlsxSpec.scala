package graft.etl

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec

class XlsxSpec extends SparkSpec {

  /** Build a real two-sheet xlsx with java.util.zip (shared strings, inline
    * strings, numbers, a skipped cell, an XML escape). */
  private def makeWorkbook(): String = {
    val path = Files.createTempFile("graft", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>
        |<sheet name="Table 5" sheetId="1" r:id="rId1"/>
        |<sheet name="Notes &amp; definitions" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |<Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="ws" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/sharedStrings.xml",
      """<sst><si><t>Geography type</t></si><si><t>Survival (%)</t></si>
        |<si><t>Cancer Alliance</t></si><si><t>rich</t><t> text</t></si></sst>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>71.5</v></c></row>
        |<row r="3"><c r="B3"><v>60</v></c></row>
        |<row r="4"><c r="A4" t="inlineStr"><is><t>inline &amp; escaped</t></is></c><c r="B4" t="s"><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    entry("xl/worksheets/sheet2.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>based on data extracted in December 2023 snapshot</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    path.toString
  }

  test("sheetNames lists workbook order with unescaping") {
    assert(Xlsx.sheetNames(makeWorkbook()) === Seq("Table 5", "Notes & definitions"))
  }

  test("readSheet: shared/inline/number cells, positional alignment, missing cells as None") {
    val rows = Xlsx.readSheet(makeWorkbook(), "Table 5")
    assert(rows === Seq(
      Seq(Some("Geography type"), Some("Survival (%)")),
      Seq(Some("Cancer Alliance"), Some("71.5")),
      Seq(None, Some("60")),                       // A3 absent → None
      Seq(Some("inline & escaped"), Some("rich text")))) // rich text concatenated
  }

  test("sheet resolves when r:id precedes name (non-Excel attribute order)") {
    val path = Files.createTempFile("graft-order", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook><sheets>
        |<sheet r:id="rId1" sheetId="1" name="Data"/>
        |</sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1"><v>42</v></c></row></sheetData></worksheet>""")
    zos.close()
    assert(Xlsx.readSheet(path.toString, "Data") === Seq(Seq(Some("42"))))
  }

  test("Notes sheet first cell feeds the snapshot-date heuristic (F9 chain)") {
    val first = Xlsx.readSheet(makeWorkbook(), "Notes & definitions").head.head.get
    assert(Ingest.snapshotDate(first) === Some("December 2023"))
  }

  test("toCsvLines quotes commas/quotes and round-trips through a CSV write") {
    val lines = Xlsx.toCsvLines(Seq(
      Seq(Some("a,b"), Some("say \"hi\""), None),
      Seq(Some("plain"), Some("2"), Some("3"))))
    assert(lines === Seq("\"a,b\",\"say \"\"hi\"\"\",", "plain,2,3"))
  }

  test("NHS-shaped workbook → Staging.readXlsxSheet → IndexPipeline end-to-end") {
    val path = Files.createTempFile("graft-nhs", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val header = Schemas.rawIndexSheet.fieldNames
    def inlineRow(r: Int, cells: Seq[String]) =
      s"""<row r="$r">""" + cells.zipWithIndex.collect {
        case (v, i) if v.nonEmpty =>
          val col = ('A' + i).toChar
          s"""<c r="$col$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    entry("xl/workbook.xml",
      """<workbook><sheets><sheet name="Table 5" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      "<worksheet><sheetData>" +
        inlineRow(1, Seq("Cancer Survival in England preamble")) +
        inlineRow(2, Seq("")) +
        inlineRow(3, header.toSeq) +
        inlineRow(4, Seq("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "All ages",
          "Age-standardised", "2018", "1", "100", "71.5", "70.0", "73.0", "1.0", "0.5", "")) +
        inlineRow(5, Seq("Sub-ICB", "Islington", "E38000088", "Lung", "Persons", "All ages",
          "Age-standardised", "2018", "1", "10", "40.0", "39.0", "41.0", "1.0", "0.5", "")) +
        "</sheetData></worksheet>")
    zos.close()

    val raw = Staging.readXlsxSheet(spark, path.toString, "Table 5",
      Schemas.rawIndexSheet, skipRows = 2)
    assert(raw.count() === 2)
    val out = IndexPipeline(raw, Schemas.defaultTargetGeographies)
    assert(out.count() === 1) // sub-ICB filtered; breast replaced by Persons
    val row = out.head()
    assert(row.getAs[String]("GENDER") === "Persons")
    assert(row.getAs[Double]("SURVIVAL_PERCENT") === 71.5)
    assert(row.getAs[Long]("PATIENT_NUMBERS") === 100L)
  }

  test("rows absent from the XML (Excel drops blank rows) pad as empty — positions hold") {
    val path = Files.createTempFile("graft-gaps", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>first</t></is></c></row>
        |<row r="4"><c r="A4" t="inlineStr"><is><t>fourth</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val rows = Xlsx.readSheet(path.toString, "S")
    assert(rows.length === 4)
    assert(rows(0) === Seq(Some("first")))
    assert(rows(1) === Seq.empty && rows(2) === Seq.empty)
    assert(rows(3) === Seq(Some("fourth")))
  }

  test("missing sheet raises a named error") {
    val e = intercept[IllegalArgumentException](Xlsx.readSheet(makeWorkbook(), "Nope"))
    assert(e.getMessage.contains("Nope"))
  }

  /** A one-sheet workbook ("S") with the given sheet and shared-string parts. */
  private def oneSheet(sheetXml: String, sharedXml: Option[String] = None): String = {
    val path = Files.createTempFile("graft-one", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/></Relationships>""")
    sharedXml.foreach(entry("xl/sharedStrings.xml", _))
    entry("xl/worksheets/sheet1.xml", sheetXml)
    zos.close()
    path.toString
  }

  test("numeric character references decode, decimal and hex (as pandas reads them)") {
    val path = oneSheet(
      """<worksheet><sheetData><row r="1">
        |<c r="A1" t="inlineStr"><is><t>Net&#10;survival</t></is></c>
        |<c r="B1" t="s"><v>0</v></c>
        |<c r="C1" t="str"><v>&#x41;&#66;</v></c>
        |</row></sheetData></worksheet>""".stripMargin,
      Some("""<sst><si><t>2017&#x2013;2021</t></si></sst>"""))
    assert(Xlsx.readSheet(path, "S") === Seq(
      Seq(Some("Net\nsurvival"), Some("2017\u20132021"), Some("AB"))))
  }

  test("an inline string joins all of its rich-text runs") {
    val path = oneSheet(
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is>
        |<r><rPr><b/></rPr><t>Cancer</t></r><r><t xml:space="preserve"> Alliance</t></r>
        |</is></c></row></sheetData></worksheet>""".stripMargin)
    assert(Xlsx.readSheet(path, "S") === Seq(Seq(Some("Cancer Alliance"))))
  }

  test("shared strings skip phonetic <rPh> runs (as openpyxl does)") {
    val path = oneSheet(
      """<worksheet><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |</sheetData></worksheet>""".stripMargin,
      Some("""<sst><si><t>Lung</t><rPh sb="0" eb="4"><t>LUNG-READING</t></rPh><phoneticPr fontId="1"/></si>
        |<si><r><t>Bre</t></r><rPh sb="0" eb="1"><t>X</t></rPh><r><t>ast</t></r></si></sst>""".stripMargin))
    assert(Xlsx.readSheet(path, "S") === Seq(Seq(Some("Lung"), Some("Breast"))))
  }

  test("a sheet's DOCTYPE external entity is never resolved (no XXE)") {
    val secret = Files.createTempFile("graft-secret", ".txt")
    Files.writeString(secret, "TOP-SECRET-CONTENTS")
    val path = oneSheet(
      s"""<?xml version="1.0"?>
         |<!DOCTYPE worksheet [<!ENTITY xxe SYSTEM "${secret.toUri}">]>
         |<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>&xxe;</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin)
    // either outcome is safe: the read fails, or the entity stays unresolved
    scala.util.Try(Xlsx.readSheet(path, "S")).foreach { rows =>
      assert(!rows.flatten.flatten.exists(_.contains("TOP-SECRET")))
    }
  }

  test("one Workbook handle serves several sheets and streams rows in position") {
    Xlsx.withWorkbook(makeWorkbook()) { wb =>
      assert(wb.sheetNames === Seq("Table 5", "Notes & definitions"))
      val rows = wb.rows("Table 5").toVector
      assert(rows.length === 4)
      assert(rows(2).toSeq === Seq(null, "60"))
      assert(wb.readSheet("Notes & definitions").head.head.exists(_.contains("December 2023")))
      assert(wb.sharedStrings.toSeq === Seq("Geography type", "Survival (%)", "Cancer Alliance", "rich text"))
    }
  }
}
