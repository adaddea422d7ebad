package graft.sources

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The DSv2 xlsx source must read what graft.etl.Xlsx parses, prune
  * columns INSIDE the reader, and parallelize across workbook files (a
  * worksheet is one deflate stream — the file is the split unit). */
class XlsxSourceSpec extends SparkSpec {

  /** Tiny workbook: a preamble line, a header, two data rows; second sheet
    * to prove sheet selection. `suffix` varies cell payloads per file. */
  private def makeWorkbook(dir: Path, name: String, suffix: String): String = {
    val path = dir.resolve(name)
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(n: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    def inline(r: Int, cells: Seq[String]) =
      s"""<row r="$r">""" + cells.zipWithIndex.map { case (v, i) =>
        val col = ('A' + i).toChar
        s"""<c r="$col$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    entry("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>
        |<sheet name="Data" sheetId="1" r:id="rId1"/>
        |<sheet name="Notes" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |<Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="ws" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      s"""<worksheet><sheetData>
         |${inline(1, Seq("preamble junk"))}
         |${inline(2, Seq("area", "metric", "pct"))}
         |${inline(3, Seq(s"London$suffix", "1yr", "71.5"))}
         |${inline(4, Seq(s"North$suffix", "5yr", "49.1"))}
         |</sheetData></worksheet>""".stripMargin)
    entry("xl/worksheets/sheet2.xml",
      s"""<worksheet><sheetData>${inline(1, Seq("notes only"))}</sheetData></worksheet>""")
    zos.close()
    path.toString
  }

  private lazy val dir = Files.createTempDirectory("xlsx-src")
  private lazy val one = makeWorkbook(dir, "a.xlsx", "")

  test("load: header names the columns, preamble skipped, rows as strings") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    assert(df.schema === StructType(Seq(
      StructField("area", StringType), StructField("metric", StringType),
      StructField("pct", StringType))))
    assert(df.collect().map(_.toSeq).toSeq ===
      Seq(Seq("London", "1yr", "71.5"), Seq("North", "5yr", "49.1")))
  }

  test("sheet option selects; header=false yields positional names") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Notes").option("header", "false").load(one)
    assert(df.schema.fieldNames === Array("_c0"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("notes only"))
  }

  test("column pruning reaches the reader: the scan outputs only selected columns") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
      .select("pct")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.output.map(_.name) === Seq("pct"), scan.toString)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("71.5", "49.1"))
  }

  test("directory load: one partition per workbook, rows unioned") {
    makeWorkbook(dir, "b.xlsx", "-b")
    makeWorkbook(dir, "c.xlsx", "-c")
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(dir.toString)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 6)
    assert(df.filter(col("area") === "London-b").count() === 1)
  }

  test("filter pushdown reaches the reader and result matches the unpushed path") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    val filtered = df.filter(col("metric") === "1yr" && col("area").isNotNull)
    val scan = filtered.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    val pushed = scan.scan.asInstanceOf[XlsxScan].pushed
    assert(pushed.nonEmpty, s"expected pushed filters, scan: ${scan.scan.description()}")
    assert(pushed.map(_.toString).exists(_.contains("metric")), pushed.mkString(", "))
    // parity: pushdown is a pure row-count reduction, never a result change
    val expected = df.collect().map(_.toSeq).filter(r => r(1) == "1yr").toSet
    assert(filtered.collect().map(_.toSeq).toSet === expected)
    // string-range comparison pushes and agrees too
    val ranged = df.filter(col("pct") > "50")
    val rangedScan = ranged.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    assert(rangedScan.scan.asInstanceOf[XlsxScan].pushed.nonEmpty)
    assert(ranged.collect().map(_.getString(0)).toSeq === Seq("London"))
  }

  test("duplicate header labels uniquify positionally instead of aliasing one column") {
    val dup = dir.resolve("dup.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(dup))
    def entry(n: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    def inline(r: Int, cells: Seq[String]) =
      s"""<row r="$r">""" + cells.zipWithIndex.map { case (v, i) =>
        val col = ('A' + i).toChar
        s"""<c r="$col$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    entry("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>
        |<sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      s"""<worksheet><sheetData>
         |${inline(1, Seq("Total", "Total", "area"))}
         |${inline(2, Seq("10", "20", "London"))}
         |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val df = spark.read.format("xlsx").option("sheet", "Data").load(dup.toString)
    assert(df.schema.fieldNames === Array("Total", "Total_1", "area"))
    // each uniquified name reads ITS OWN cell position — pre-fix both
    // "Total" columns silently read the first occurrence
    val row = df.select("Total", "Total_1", "area").head
    assert(row.toSeq === Seq("10", "20", "London"))
  }

  test("cluster URIs fail fast with a readable message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").load("s3://bucket/wb.xlsx")
    }
    assert(e.getMessage.contains("node-local filesystem"))
  }

  test("matches the CSV-staging path on the same sheet") {
    val viaStaging = graft.etl.Staging.readXlsxSheet(
      spark, one, "Data",
      StructType(Seq(StructField("area", StringType), StructField("metric", StringType),
        StructField("pct", StringType))),
      skipRows = 1)
    val viaSource = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    assert(viaSource.collect().map(_.toSeq).toSet === viaStaging.collect().map(_.toSeq).toSet)
  }

  test("ragged rows and absent rows stream through pruning and pushed filters") {
    val path = dir.resolve("ragged.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(n: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    // cells by reference: an absent <c> is an empty cell, an absent <row> an empty row
    def row(r: Int, cells: (Char, String)*) =
      s"""<row r="$r">""" + cells.map { case (col, v) =>
        s"""<c r="$col$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    entry("xl/workbook.xml",
      """<workbook><sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml", "<worksheet><sheetData>" +
      row(1, 'A' -> "preamble") +
      row(2, 'A' -> "area", 'B' -> "metric", 'C' -> "pct") +
      row(3, 'A' -> "London", 'B' -> "1yr", 'C' -> "71.5", 'D' -> "extra") +
      row(4, 'A' -> "North") +
      // row 5 is absent
      row(6, 'A' -> "West", 'C' -> "49.1") +
      row(7, 'B' -> "5yr") +
      "</sheetData></worksheet>")
    zos.close()
    val df = spark.read.format("xlsx").option("sheet", "Data").option("skipRows", 1).load(path.toString)
    // the widest row names the fourth column
    assert(df.schema.fieldNames === Array("area", "metric", "pct", "_c3"))
    assert(df.count() === 5)

    def scanned(q: org.apache.spark.sql.DataFrame, output: Seq[String]): Seq[Seq[Any]] = {
      val scan = q.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      assert(scan.output.map(_.name).toSet === output.toSet, scan.toString)
      assert(scan.scan.asInstanceOf[XlsxScan].pushed.nonEmpty, scan.scan.description())
      q.collect().map(_.toSeq).toSeq
    }
    assert(scanned(df.filter(col("metric").isNull).select("area", "pct"), Seq("area", "metric", "pct")) ===
      Seq(Seq("North", null), Seq(null, null), Seq("West", "49.1")))
    assert(scanned(df.filter(col("area") === "London").select("_c3"), Seq("area", "_c3")) ===
      Seq(Seq("extra")))
    assert(scanned(df.filter(col("metric").isin("1yr", "5yr")).select("area"), Seq("area", "metric")) ===
      Seq(Seq("London"), Seq(null)))
    assert(scanned(df.filter(col("pct") < "60" && col("_c3").isNull).select("area"), Seq("area", "pct", "_c3")) ===
      Seq(Seq("West")))
  }
}
