package graft.etl

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._

class StagingSpec extends SparkSpec {
  import spark.implicits._

  test("readSheet skips the preamble and parses header + declared schema (S1)") {
    val f = Files.createTempFile("sheet", ".csv")
    Files.writeString(f,
      """Cancer Survival in England
        |Publication preamble line 2
        |,,,
        |Geography type,Geography name,Geography code,Cancer site,Gender,Age at diagnosis,Standardisation type,Diagnosis year,Years since diagnosis,Patient numbers,Survival (%),Lower CI,Upper CI,Precision,Standard error,Substituted by Other Geography
        |Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,
        |Country,England,E92000001,Lung,Persons,All ages,Age-standardised,2018,1,999,60.0,59.0,61.0,1.0,0.5,E11111111
        |""".stripMargin)
    val df = Staging.readSheet(spark, f.toString, Schemas.rawIndexSheet, skipRows = 3)
    assert(df.count() === 2)
    assert(df.schema === Schemas.rawIndexSheet)
    val ncl = df.filter($"Geography code" === "E56000027").head()
    assert(ncl.getAs[Double]("Survival (%)") === 71.5)
    assert(ncl.isNullAt(ncl.fieldIndex("Substituted by Other Geography"))) // empty → null
    // staged sheet feeds the real pipeline end-to-end
    val out = IndexPipeline(df, Schemas.defaultTargetGeographies)
    assert(out.count() === 2)
    assert(out.filter($"CANCER_SITE" === "Breast" && $"GENDER" === "Persons").count() === 1)
    // a field quoted the way RFC 4180 and pandas' to_csv quote it reads
    // back as the cell was written: doubled quotes undone, a backslash literal
    val q = Files.createTempFile("sheet", ".csv")
    Files.writeString(q, "preamble\n" + Schemas.rawIndexSheet.fieldNames.mkString(",") + "\n" +
      "Cancer Alliance,\"say \"\"hi\"\", a\\b\",E56000027,Breast,Female,All ages,Age-standardised," +
      "2018,1,100,71.5,70.0,73.0,1.0,0.5,\n")
    val quoted = Staging.readSheet(spark, q.toString, Schemas.rawIndexSheet, skipRows = 1)
    assert(quoted.select("Geography name", "Patient numbers").as[(String, Long)].collect().toSeq ===
      Seq("say \"hi\", a\\b" -> 100L))
    // the file is decoded as UTF-8, a malformed byte as U+FFFD
    val u = Files.createTempFile("sheet", ".csv")
    Files.write(u, ("preamble\n" + Schemas.rawIndexSheet.fieldNames.mkString(",") + "\nCancer Alliance,Bäth ")
      .getBytes("UTF-8") ++ Array(0xff.toByte) ++
      ",E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n".getBytes("UTF-8"))
    assert(Staging.readSheet(spark, u.toString, Schemas.rawIndexSheet, skipRows = 1)
      .select("Geography name").as[String].collect().toSeq === Seq("Bäth \uFFFD"))
  }

  test("staged adult sheet (skiprows=9) → Adult4Pipeline → benchmarkingRank chain") {
    val f = Files.createTempFile("adult", ".csv")
    val preamble = (1 to 9).map(i => s"preamble $i").mkString("\n")
    Files.writeString(f,
      s"""$preamble
         |Geography type,Geography name,Geography code,Cancer site,Gender,Standardisation type,Years since diagnosis,Patients,Net survival (%),Overall survival (%)
         |Cancer Alliance,NCL,E56000027,Breast,Female,Age-standardised (5 age groups),1,100,71.0,72.0
         |Cancer Alliance,WY,E56000014,Breast,Female,Age-standardised (5 age groups),1,90,81.0,82.0
         |Cancer Alliance,HNY,E56000015,Breast,Female,Age-standardised (5 age groups),1,80,61.0,
         |Country,England,E92000001,Breast,Female,Age-standardised (5 age groups),1,999,75.0,76.0
         |""".stripMargin)
    val raw = Staging.readSheet(spark, f.toString, Schemas.rawAdultSheet, skipRows = 9)
    assert(raw.count() === 4)
    val a4 = Adult4Pipeline(raw, Schemas.defaultTargetGeographies, "2017-2021", Some("December 2023"))
    // 4 rows + England Breast/Female dup = 5, ×2 metrics = 10
    assert(a4.count() === 10)
    val rank = Views.benchmarkingRank(a4)
    val row = rank.head()
    assert(row.getAs[Long]("RANK_BASE") === 3L)
    assert(row.getAs[Long]("RANK_CA") === 2L) // 81 > 71 > 61
    assert(row.getAs[String]("NCL_QUARTILE") === "-") // cohort < 4
  }

  // ---- both formats: the sheet is read inside the consuming task ------------
  // An xlsx sheet, and the same rows staged as CSV, must read back exactly as
  // the driver-collected formulation the xlsx staging replaced.

  /** The staging of an xlsx sheet before it moved into the load's task:
    * the rows collected on the driver as CSV lines, shipped as a local
    * Dataset, the header taken off by `csv`'s `header` option. Kept as the
    * reference the task-side staging is compared with. */
  private def driverCollected(path: String, sheet: String, schema: StructType, skipRows: Int): DataFrame =
    Xlsx.withWorkbook(path) { wb =>
      val lines = wb.rows(sheet).drop(skipRows).map(Xlsx.csvLine).toVector
      spark.read.schema(schema).option("header", "true").option("nullValue", "").option("escape", "\"")
        .csv(spark.createDataset(lines))
    }

  // a carriage return is written as a character reference: XML reads a
  // literal one in text as a line feed
  private def xml(v: String) =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\r", "&#13;")

  /** A workbook with one sheet "S": each row at its sheet row number, a
    * null cell left out as Excel does. */
  private def workbook(rows: (Int, Seq[String])*): String = {
    val path = Files.createTempFile("graft-staging", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml", """<workbook><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml", "<worksheet><sheetData>" + rows.map { case (r, cells) =>
      s"""<row r="$r">""" + cells.zipWithIndex.collect { case (v, c) if v != null =>
        s"""<c r="${('A' + c).toChar}$r" t="inlineStr"><is><t xml:space="preserve">${xml(v)}</t></is></c>"""
      }.mkString + "</row>"
    }.mkString + "</sheetData></worksheet>")
    zos.close()
    path.toString
  }

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("n", LongType), StructField("x", DoubleType)))
  private val withCorrupt = schema.add("_corrupt_record", StringType)
  private val header = Seq("name", "n", "x")

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, same) => r -> same.size }

  /** The sheet staged as CSV: each of its rows as a CSV line, an absent
    * row as an empty line, every line ended by `eol`. */
  private def csv(path: String, eol: String): String = {
    val f = Files.createTempFile("graft-staging", ".csv")
    Files.writeString(f, Xlsx.withWorkbook(path)(_.rows("S").map(Xlsx.csvLine(_) + eol).mkString))
    f.toString
  }

  /** The task-side staging of the sheet, and of the sheet staged as CSV
    * with LF and with CRLF line ends, against the driver-collected
    * formulation under both schemas; returns the task-side rows of the
    * xlsx sheet read with the plain schema. */
  private def same(path: String, skipRows: Int): Seq[Row] = {
    val csvs = Seq("LF" -> "\n", "CRLF" -> "\r\n").map { case (name, eol) => name -> csv(path, eol) }
    for (s <- Seq(schema, withCorrupt)) {
      val expected = multiset(driverCollected(path, "S", s, skipRows))
      val staged = ("xlsx" -> Staging.readXlsxSheet(spark, path, "S", s, skipRows)) +:
        csvs.map { case (name, f) => s"CSV $name" -> Staging.readSheet(spark, f, s, skipRows) }
      for ((format, df) <- staged) {
        assert(df.schema === s, format)
        assert(multiset(df) === expected, s"$format, schema $s")
      }
    }
    Staging.readXlsxSheet(spark, path, "S", schema, skipRows).collect().toSeq
  }

  test("task-side staging equals the driver-collected formulation: blank rows before the header") {
    val path = workbook(
      1 -> Seq("preamble"), 2 -> Seq("preamble 2"),
      // sheet rows 3 and 5 are absent; row 4 holds only spaces
      4 -> Seq("   "), 6 -> Seq(null, null), 7 -> header,
      8 -> Seq("a", "1", "1.5"), 9 -> Seq("b", "2", "2.5"))
    assert(same(path, skipRows = 2).toSet === Set(Row("a", 1L, 1.5), Row("b", 2L, 2.5)))
  }

  test("task-side staging equals the driver-collected formulation: a row that only Spark's trim does not blank becomes the header") {
    // a tab is not among the characters trim takes off, so the tab row is
    // the header and the real header line reads as data
    val path = workbook(1 -> Seq("\t"), 2 -> header, 3 -> Seq("a", "1", "1.5"))
    assert(same(path, skipRows = 0).toSet === Set(Row("name", null, null), Row("a", 1L, 1.5)))
  }

  test("task-side staging equals the driver-collected formulation: every data row equal to the header is dropped") {
    val path = workbook(1 -> header, 2 -> Seq("a", "1", "1.5"), 3 -> header,
      4 -> Seq("b", "2", "2.5"), 5 -> header, 6 -> Seq("name", "n"))
    assert(same(path, skipRows = 0).toSet === Set(Row("a", 1L, 1.5), Row("b", 2L, 2.5), Row("name", null, null)))
  }

  test("task-side staging equals the driver-collected formulation: commas, quotes and newlines in cells") {
    val path = workbook(1 -> header,
      2 -> Seq("Bath, Swindon & Wiltshire", "1", "1.0"),
      3 -> Seq("say \"hi\"", "2", "2.0"),
      4 -> Seq("two\nlines", "3", "3.0"),
      5 -> Seq("crlf\r\nend", "4", "4.0"),
      6 -> Seq("\"quoted\"", "5", "5.0"),
      7 -> Seq(" padded ", "6", "6.0"),
      8 -> Seq("a\\\"b", "7", "7.0"),
      9 -> Seq("tail\\", "8", "8.0"),
      10 -> Seq("x\\,y", "9", "9.0"),
      11 -> Seq("lone\rcr", "10", "10.0"))
    val rows = same(path, skipRows = 0)
    assert(rows.size === 10)
    assert(rows.map(_.getString(0)).toSet.contains("Bath, Swindon & Wiltshire"))
    assert(rows.map(_.getString(0)).toSet.contains("two\nlines"))
    // every cell reads back as it was written
    assert(rows.map(r => r.getLong(1) -> r.getString(0)).sortBy(_._1) === Seq(
      1L -> "Bath, Swindon & Wiltshire", 2L -> "say \"hi\"", 3L -> "two\nlines", 4L -> "crlf\r\nend",
      5L -> "\"quoted\"", 6L -> " padded ", 7L -> "a\\\"b", 8L -> "tail\\", 9L -> "x\\,y",
      10L -> "lone\rcr"))
  }

  test("a staged CSV's line end is its first line break outside a quoted cell") {
    // the file's first record, a preamble row, holds a quoted line break of
    // another kind than the file's line ends; the data rows hold all three.
    // The last column is a string, so a stray CR at a record's end shows.
    val lines = StructType(Seq(StructField("name", StringType), StructField("n", LongType),
      StructField("note", StringType)))
    val names = Seq("a\nb", "c\r\nd", "e\rf", "plain")
    val data = names.zipWithIndex.map { case (v, i) => (i + 3) -> Seq(v, s"${i + 1}", s"note ${i + 1}") }
    val cases = Seq(("LF", "x\r\ny", "\n"), ("CRLF", "x\ny", "\r\n"), ("CR", "x\ny", "\r"))
    val wrong = for ((name, first, eol) <- cases; s <- Seq(lines, lines.add("_corrupt_record", StringType))) yield {
      val path = workbook((Seq(1 -> Seq(first, "1"), 2 -> Seq("name", "n", "note")) ++ data): _*)
      val expected = multiset(driverCollected(path, "S", s, skipRows = 1))
      assert(expected.keySet.map(r => (r.getString(0), r.getString(2))) ===
        names.zipWithIndex.map { case (v, i) => (v, s"note ${i + 1}") }.toSet)
      val read = scala.util.Try(multiset(Staging.readSheet(spark, csv(path, eol), s, skipRows = 1)))
      if (read.toOption.contains(expected)) None else Some(s"$name, schema $s: read $read, expected $expected")
    }
    assert(wrong.flatten.isEmpty, wrong.flatten.mkString("\n"))
  }

  test("task-side staging equals the driver-collected formulation: rows wider than the header, and absent rows") {
    val path = workbook(1 -> Seq("preamble"), 2 -> header,
      3 -> Seq("wide", "1", "1.0", "extra", "more"),
      6 -> Seq("after a gap", "2", "2.0"),
      7 -> Seq("short"),
      9 -> Seq(null, "3"))
    assert(same(path, skipRows = 1).toSet === Set(Row("wide", 1L, 1.0), Row("after a gap", 2L, 2.0),
      Row("short", null, null), Row(null, 3L, null)))
  }

  test("task-side staging equals the driver-collected formulation: a numeric cell that is no long reads as null") {
    val path = workbook(1 -> header,
      2 -> Seq("fraction", "12.5", "1.0"),
      3 -> Seq("word", "abc", "2.0"),
      4 -> Seq("empty", "", "3.0"),
      5 -> Seq("big", "99999999999999999999", "4.0"),
      6 -> Seq("ok", "7", "x"))
    val rows = same(path, skipRows = 0)
    assert(rows.filter(_.getString(0) != "ok").forall(_.isNullAt(1)))
    assert(rows.find(_.getString(0) == "ok").get === Row("ok", 7L, null))
  }

  test("task-side staging equals the driver-collected formulation: nothing after skipRows") {
    val path = workbook(1 -> Seq("preamble"), 2 -> Seq("preamble 2"), 4 -> Seq(" "))
    // sheet row 3 is absent and row 4 blank, so nothing follows row 2
    Seq(2, 3, 10).foreach(skip => assert(same(path, skipRows = skip).isEmpty, s"skipRows $skip"))
    // a header and nothing else
    assert(same(workbook(1 -> Seq("preamble"), 2 -> header), skipRows = 1).isEmpty)
  }

  test("a staged xlsx frame holds no local relation: the sheet is read by the frame's one task") {
    val path = workbook(1 -> header, 2 -> Seq("a", "1", "1.5"))
    val df = Staging.readXlsxSheet(spark, path, "S", schema, 0)
    assert(df.queryExecution.analyzed.collect { case l: LocalRelation => l }.isEmpty)
    assert(df.queryExecution.executedPlan.collect { case l: LocalTableScanExec => l }.isEmpty)
    assert(df.rdd.getNumPartitions === 1)
  }

  test("the driver resolves the sheet: a corrupt file or a missing sheet fails before the frame exists") {
    val corrupt = Files.createTempFile("graft-corrupt", ".xlsx")
    Files.writeString(corrupt, "not a zip")
    intercept[java.util.zip.ZipException](
      Staging.readXlsxSheet(spark, corrupt.toString, "S", schema, 0))
    val e = intercept[IllegalArgumentException](
      Staging.readXlsxSheet(spark, workbook(1 -> header), "Nope", schema, 0))
    assert(e.getMessage.contains("sheet 'Nope' not found"))
  }

  test("readSheet on a missing path or a directory fails on the driver before any job, naming the path") {
    val dir = Files.createTempDirectory("graft-staging-dir")
    val sc = spark.sparkContext
    for (path <- Seq(dir.resolve("absent.csv").toString, dir.toString)) {
      val group = s"staging-spec-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, "readSheet on a path that is no file")
      val e = try intercept[Exception](Staging.readSheet(spark, path, schema, 0)) finally sc.clearJobGroup()
      assert(e.getMessage.contains(path))
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, path)
    }
  }
}
