package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.max

/** Full orchestration: staged workbooks in, modelling tables out
  * (reference src/main.py:378-422 end-to-end). */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("run: dispatches by prefix, loads both tables, skips unknown files") {
    val staging = Files.createTempDirectory("graft-staging")
    val out = Files.createTempDirectory("graft-tables").toString

    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n" +
        "Cancer Alliance,WY,E56000014,Lung,Persons,All ages,Age-standardised,2018,1,50,55.0,54.0,56.0,1.0,0.5,\n")

    val adultHeader = Schemas.rawAdultSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"),
      (1 to 9).map(i => s"preamble $i").mkString("\n") + "\n" +
        adultHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,Age-standardised (5 age groups),1,100,71.0,72.0\n" +
        "Country,England,E92000001,Breast,Female,Age-standardised (5 age groups),1,999,75.0,76.0\n")

    Files.writeString(staging.resolve("readme.txt"), "not a workbook")

    val results = Runner.run(spark, staging.toString, out)
    assert(results.map(_.kind).sorted === Seq("adult4", "index"))

    val index = spark.read.parquet(s"$out/INDEX")
    assert(index.columns.contains("_TIMESTAMP"))
    assert(index.count() === 2)
    assert(index.filter($"GENDER" === "Persons" && $"CANCER_SITE" === "Breast").count() === 1)

    val adult = spark.read.parquet(s"$out/ADULT_4")
    // 2 rows + England breast dup = 3, ×2 metrics = 6
    assert(adult.count() === 6)
    assert(adult.select("DATE_DIAGNOSIS_WINDOW").distinct().as[String].collect().toSeq === Seq("2017-2021"))
    // CSV path has no Notes sheet → snapshot NULL (reference's warning path)
    assert(adult.filter($"DATE_SNAPSHOT".isNotNull).count() === 0)

    // reporting views run straight off the loaded tables
    assert(Views.reportingIndex(index.drop("_TIMESTAMP")).count() > 0)
    assert(Views.benchmarkingStandards(adult.drop("_TIMESTAMP")).count() > 0)
  }

  test("run: env-driven destinations rename the sink tables (dev_ prefix switch)") {
    val staging = Files.createTempDirectory("graft-staging-dest")
    val out = Files.createTempDirectory("graft-tables-dest").toString
    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n")
    val dests = Runner.Destinations.fromEnv(
      Map("GRAFT_DEST_INDEX" -> "dev_INDEX"))   // ADULT_4 stays default
    assert(dests === Runner.Destinations("dev_INDEX", "ADULT_4"))
    val results = Runner.run(spark, staging.toString, out, destinations = dests)
    assert(results.map(_.table) === Seq(s"$out/dev_INDEX"))
    // the Breast/Female/All-ages row is REPLACED by its Persons copy → 1 row
    assert(spark.read.parquet(s"$out/dev_INDEX").count() === 1)
    assert(!new java.io.File(s"$out/INDEX").exists())
  }

  test("run: xlsx adult workbook parses Table 4 AND the Notes snapshot (row 12 cell)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val staging = Files.createTempDirectory("graft-staging-xlsx")
    val out = Files.createTempDirectory("graft-tables-xlsx").toString
    val wb = staging.resolve("adult_cancer_survival_2017_2021.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(wb))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    def inlineRow(r: Int, cells: Seq[String]) =
      s"""<row r="$r">""" + cells.zipWithIndex.collect {
        case (v, i) if v.nonEmpty =>
          s"""<c r="${('A' + i).toChar}$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    entry("xl/workbook.xml",
      """<workbook><sheets><sheet name="Table 4" sheetId="1" r:id="rId1"/>
        |<sheet name="Notes and definitions" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="w" Target="worksheets/sheet2.xml"/></Relationships>""".stripMargin)
    val adultHeader = Schemas.rawAdultSheet.fieldNames.toSeq
    entry("xl/worksheets/sheet1.xml",
      "<worksheet><sheetData>" +
        (1 to 9).map(i => inlineRow(i, Seq(s"preamble $i"))).mkString +
        inlineRow(10, adultHeader) +
        inlineRow(11, Seq("Cancer Alliance", "NCL", "E56000027", "Breast", "Female",
          "Age-standardised (5 age groups)", "1", "100", "71.0", "72.0")) +
        "</sheetData></worksheet>")
    entry("xl/worksheets/sheet2.xml",
      "<worksheet><sheetData>" +
        (1 to 10).map(i => inlineRow(i, Seq(s"notes preamble $i"))).mkString +
        inlineRow(11, Seq("Methodology")) + // header row under skiprows=10
        inlineRow(12, Seq("Figures are based on data extracted in December 2023 snapshot")) +
        "</sheetData></worksheet>")
    zos.close()

    val results = Runner.run(spark, staging.toString, out)
    assert(results.map(_.kind) === Seq("adult4"))
    val adult = spark.read.parquet(s"$out/ADULT_4")
    assert(adult.select("DATE_SNAPSHOT").distinct().as[String].collect().toSeq === Seq("December 2023"))
    assert(adult.select("DATE_DIAGNOSIS_WINDOW").distinct().as[String].collect().toSeq === Seq("2017-2021"))
    assert(adult.count() === 2) // 1 row × 2 metrics (no England rows to generalise)
  }

  // ---- row counts observed during the write --------------------------------

  private val indexRows = Seq(
    Seq("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "All ages", "Age-standardised", "2018", "1", "100", "71.5", "70.0", "73.0", "1.0", "0.5", ""),
    Seq("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "15-44", "Age-standardised", "2018", "1", "50", "80.0", "78.0", "82.0", "1.0", "0.5", ""),
    Seq("Cancer Alliance", "WY", "E56000014", "Index", "Persons", "All ages", "Age-standardised", "2018", "1", "200", "65.0", "64.0", "66.0", "1.0", "0.5", "E92000001"),
    Seq("Country", "England", "E92000001", "Other", "Persons", "All ages", "Age-standardised", "2018", "1", "999", "60.0", "59.0", "61.0", "1.0", "0.5", ""),
    Seq("Sub-ICB", "Islington", "E38000088", "Lung", "Persons", "All ages", "Age-standardised", "2018", "1", "10", "40.0", "39.0", "41.0", "1.0", "0.5", ""))

  private val adultRows = Seq(
    Seq("Country", "England", "E92000001", "Breast", "Female", "Age-standardised (5 age groups)", "1", "500", "70.0", "72.0"),
    Seq("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "Age-standardised (5 age groups)", "1", "100", "71.0", ""),
    Seq("Cancer Alliance", "NCL", "E56000027", "Larynx", "Male", "Non-standardised", "1", "20", "50.0", "52.0"),
    Seq("Cancer Alliance", "WY", "E56000014", "Prostate", "Male", "Age-standardised (all ages)", "5", "80", "85.0", "86.0"),
    Seq("Country", "England", "E92000001", "Ovary", "Female", "Age-standardised (all ages)", "1", "300", "40.0", "41.0"))

  /** A staged Index sheet as CSV, with its 10-line preamble. */
  private def indexCsv(rows: Seq[Seq[String]]) = csvSheet(10, Schemas.rawIndexSheet.fieldNames.toSeq, rows)

  /** A staged adult sheet as CSV, with its 9-line preamble. */
  private def adultCsv(rows: Seq[Seq[String]]) = csvSheet(9, Schemas.rawAdultSheet.fieldNames.toSeq, rows)

  private def csvSheet(preamble: Int, header: Seq[String], rows: Seq[Seq[String]]) =
    ((1 to preamble).map(i => s"preamble $i") ++ (header +: rows).map(_.mkString(","))).mkString("\n") + "\n"

  /** Both staged sheets as CSV. */
  private def csvStaging(index: Seq[Seq[String]] = indexRows, adult: Seq[Seq[String]] = adultRows) = {
    val staging = Files.createTempDirectory("graft-staging-csv")
    Files.writeString(staging.resolve("Index_2018.csv"), indexCsv(index))
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"), adultCsv(adult))
    staging
  }

  /** Rows as a sheet's <sheetData> content, from sheet row `first` on;
    * empty cells are left out, as Excel does, and a carriage return is
    * written as a character reference (XML reads a literal one as a line
    * feed). */
  private def sheetRows(rows: Seq[Seq[String]], first: Int = 1): String =
    rows.zipWithIndex.map { case (cells, i) =>
      val r = first + i
      s"""<row r="$r">""" + cells.zipWithIndex.collect { case (v, c) if v.nonEmpty =>
        s"""<c r="${('A' + c).toChar}$r" t="inlineStr"><is><t>${v.replace("\r", "&#13;")}</t></is></c>"""
      }.mkString + "</row>"
    }.mkString

  /** An xlsx workbook in `dir`: each sheet is a name and its <sheetData>
    * content. */
  private def workbook(dir: java.nio.file.Path, file: String, sheets: Seq[(String, String)]): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve(file)))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml", "<workbook><sheets>" + sheets.indices.map(i =>
      s"""<sheet name="${sheets(i)._1}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""").mkString +
      "</sheets></workbook>")
    entry("xl/_rels/workbook.xml.rels", "<Relationships>" + sheets.indices.map(i =>
      s"""<Relationship Id="rId${i + 1}" Type="w" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
      "</Relationships>")
    sheets.zipWithIndex.foreach { case ((_, data), i) =>
      entry(s"xl/worksheets/sheet${i + 1}.xml", s"<worksheet><sheetData>$data</sheetData></worksheet>")
    }
    zos.close()
  }

  private def indexWorkbook(dir: java.nio.file.Path, rows: Seq[Seq[String]] = indexRows,
      file: String = "Index_2018.xlsx"): Unit =
    workbook(dir, file, Seq("Table 5" ->
      sheetRows((1 to 10).map(i => Seq(s"preamble $i")) ++ (Schemas.rawIndexSheet.fieldNames.toSeq +: rows))))

  /** The adult workbook: "Table 4" with `body` after its preamble and
    * header, and the Notes sheet. */
  private def adultWorkbook(dir: java.nio.file.Path,
      body: String = sheetRows(adultRows, first = 11)): Unit =
    workbook(dir, "adult_cancer_survival_2017_2021.xlsx", Seq(
      "Table 4" -> (sheetRows((1 to 9).map(i => Seq(s"preamble $i")) :+ Schemas.rawAdultSheet.fieldNames.toSeq) + body),
      "Notes and definitions" -> sheetRows((1 to 11).map(i => Seq(s"notes $i")) :+
        Seq("Figures are based on data extracted in December 2023 snapshot"))))

  /** Both sheets as xlsx workbooks with the same preambles; the adult one
    * has its Notes sheet. */
  private def xlsxStaging() = {
    val staging = Files.createTempDirectory("graft-staging-xlsx2")
    indexWorkbook(staging)
    adultWorkbook(staging)
    staging
  }

  test("run: LoadResult.rows equals a direct count of the written table (CSV and xlsx)") {
    val published = for ((format, staging) <- Seq("csv" -> csvStaging(), "xlsx" -> xlsxStaging())) yield {
      val out = Files.createTempDirectory("graft-tables-rows").toString
      val results = Runner.run(spark, staging.toString, out)
      assert(results.map(_.kind).sorted === Seq("adult4", "index"), format)
      results.foreach { r =>
        assert(r.rows === spark.read.parquet(r.table).count(), s"$format ${r.kind}")
      }
      // index: 3 survivors; adult: 5 rows + Persons copies of the national
      // Breast row and the Larynx, Prostate and Ovary rows = 9, × 2 metrics
      assert(results.map(r => r.kind -> r.rows).toMap === Map("index" -> 3L, "adult4" -> 18L), format)
      // the published rows as a multiset, without the write's stamp and the
      // Notes snapshot, which only a workbook has
      def rows(table: String) = spark.read.parquet(s"$out/$table").drop("_TIMESTAMP", "DATE_SNAPSHOT")
        .collect().map(_.toString).sorted.toSeq
      Seq("INDEX", "ADULT_4").map(rows)
    }
    // the two staged formats of the same sheets publish the same rows
    assert(published(0) === published(1))
  }

  test("run: cells holding quotes, a backslash or a comma publish as written from a CSV and an xlsx staging alike") {
    // the three surviving Index rows get these Geography names, which the
    // pipeline carries to AREA_NAME unchanged; the CSV quotes them as
    // RFC 4180 and pandas' to_csv do, line breaks (LF, CRLF, a lone CR) too
    val names = Seq("say \"hi\"\nover two lines", "\"quoted\", a\\\"b\r\ncrlf", "tail\\ x\\,y\rlone cr")
    val index = indexRows.zipWithIndex.map { case (r, i) => if (i < names.size) r.updated(1, names(i)) else r }
    val csv = Files.createTempDirectory("graft-staging-quoted-csv")
    Files.writeString(csv.resolve("Index_2018.csv"), ((1 to 10).map(i => s"preamble $i") ++
      (Schemas.rawIndexSheet.fieldNames.toSeq +: index).map(r => Xlsx.csvLine(r.toArray))).mkString("\n") + "\n")
    val xlsx = Files.createTempDirectory("graft-staging-quoted-xlsx")
    indexWorkbook(xlsx, index)
    val published = Seq(csv, xlsx).map { staging =>
      val out = Files.createTempDirectory("graft-tables-quoted").toString
      Runner.run(spark, staging.toString, out)
      val t = spark.read.parquet(s"$out/INDEX").drop("_TIMESTAMP")
      (t.select("AREA_NAME").as[String].collect().toSet, t.collect().map(_.toString).sorted.toSeq)
    }
    assert(published.map(_._1) === Seq(names.toSet, names.toSet))
    assert(published(0)._2 === published(1)._2)
  }

  /** Run `body`, and return with its result the scan locations under
    * `root` of every SQL execution that started meanwhile. A marker job
    * after `body` is the barrier: listener events arrive in order, so once
    * its start is seen every earlier execution has been seen too. */
  private def scansUnder[T](root: String)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"runner-spec-barrier-${java.util.UUID.randomUUID()}"
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      private def walk(p: SparkPlanInfo): Unit = {
        p.metadata.get("Location").filter(_.contains(root)).foreach(seen.add)
        p.children.foreach(walk)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          barrier.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(barrier.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener barrier never arrived")
      (result, seen.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("run: no job reads the destination tables during Runner.run (a listener sees every scan)") {
    for ((format, staging) <- Seq("csv" -> csvStaging(), "xlsx" -> xlsxStaging())) {
      val out = Files.createTempDirectory("graft-tables-noscan").toString
      val (results, scans) = scansUnder(out)(Runner.run(spark, staging.toString, out))
      assert(results.size === 2)
      assert(scans.isEmpty, s"$format: Runner.run read its destination: ${scans.mkString("; ")}")
      // the listener does see a read of the destination when one happens
      val (_, recount) = scansUnder(out)(results.map(r => spark.read.parquet(r.table).count()))
      assert(recount.nonEmpty, "the listener missed a scan of the destination")
    }
  }

  test("run: each load observes under its own name, so concurrent loads keep their own counts") {
    assert(Runner.observationName("t") !== Runner.observationName("t"))
    // two loads of different sizes at once in one session
    val small = csvStaging(index = indexRows.take(1), adult = adultRows.take(1))
    val large = csvStaging(index = indexRows ++ indexRows, adult = adultRows ++ adultRows)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val loads = Seq(small, large).map { staging =>
      val out = Files.createTempDirectory("graft-tables-conc").toString
      Future(Runner.run(spark, staging.toString, out))
    }
    val results = loads.map(Await.result(_, 5.minutes))
    results.flatten.foreach(r => assert(r.rows === spark.read.parquet(r.table).count(), r.toString))
    assert(results.map(_.map(r => r.kind -> r.rows).toMap) === Seq(
      Map("index" -> 1L, "adult4" -> 4L), Map("index" -> 6L, "adult4" -> 36L)))
  }

  // ---- one load thread per destination --------------------------------------

  test("run: files bound for one table load in listing order, the last wins; results keep listing order") {
    val index2017 = indexRows.map(_.updated(7, "2017"))
    val csv = Files.createTempDirectory("graft-staging-same")
    Files.writeString(csv.resolve("Index_2017.csv"), indexCsv(index2017))
    Files.writeString(csv.resolve("Index_2018.csv"), indexCsv(indexRows))
    Files.writeString(csv.resolve("adult_survival_2017_2021.csv"), adultCsv(adultRows))
    val xlsx = Files.createTempDirectory("graft-staging-same-xlsx")
    indexWorkbook(xlsx, index2017, "Index_2017.xlsx")
    indexWorkbook(xlsx)
    adultWorkbook(xlsx)
    for ((staging, ext, adult) <- Seq((csv, ".csv", "adult_survival_2017_2021.csv"),
        (xlsx, ".xlsx", "adult_cancer_survival_2017_2021.xlsx"))) {
      val out = Files.createTempDirectory("graft-tables-same").toString
      val results = Runner.run(spark, staging.toString, out)
      assert(results.map(_.file) === Seq(s"Index_2017$ext", s"Index_2018$ext", adult))
      assert(results.map(r => r.kind -> r.rows) === Seq("index" -> 3L, "index" -> 3L, "adult4" -> 18L), ext)
      val index = spark.read.parquet(s"$out/INDEX")
      assert(index.count() === 3, ext)
      assert(index.select("YEAR_OF_DIAGNOSIS").distinct().as[Long].collect().toSeq === Seq(2018L), ext)
      assert(spark.read.parquet(s"$out/ADULT_4").count() === 18, ext)
    }
  }

  /** Live threads that load into a table under `out`. */
  private def loadThreadsUnder(out: String): Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-load:") && t.getName.contains(out) && t.isAlive)
  }

  test("run: a failed Index load does not stop the adult load; run throws only after both finish") {
    val staging = Files.createTempDirectory("graft-staging-fail")
    Files.writeString(staging.resolve("Index_2018.xlsx"), "not a zip")
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"), adultCsv(adultRows))
    val out = Files.createTempDirectory("graft-tables-fail").toString
    val e = intercept[java.util.zip.ZipException](Runner.run(spark, staging.toString, out))
    assert(e.getSuppressed.isEmpty)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(loadThreadsUnder(out).isEmpty)

    // ADULT_4 holds what a load of the adult sheet alone writes
    val solo = Files.createTempDirectory("graft-staging-solo")
    Files.copy(staging.resolve("adult_survival_2017_2021.csv"), solo.resolve("adult_survival_2017_2021.csv"))
    val soloOut = Files.createTempDirectory("graft-tables-solo").toString
    assert(Runner.run(spark, solo.toString, soloOut).map(_.rows) === Seq(18L))
    def rows(table: String) =
      spark.read.parquet(table).drop("_TIMESTAMP").collect().map(_.toString).sorted.toSeq
    assert(rows(s"$out/ADULT_4") === rows(s"$soloOut/ADULT_4"))
  }

  test("run: a staged Index file that is neither .xlsx nor .csv fails its own load before any job; INDEX keeps its rows") {
    val out = Files.createTempDirectory("graft-tables-ext").toString
    Runner.run(spark, csvStaging().toString, out)
    def rows(table: String) = spark.read.parquet(s"$out/$table").collect().map(_.toString).sorted.toSeq
    def stamp(table: String) = spark.read.parquet(s"$out/$table").select(max("_TIMESTAMP")).head.getTimestamp(0)
    val index = rows("INDEX")
    assert(index.size === 3)
    // an Index workbook under another extension, and a directory named as a CSV sheet
    for (bad <- Seq("Index_2019.xls", "Index_2020.csv")) {
      val staging = Files.createTempDirectory("graft-staging-ext")
      if (bad.endsWith(".xls")) indexWorkbook(staging, file = bad) else Files.createDirectory(staging.resolve(bad))
      Files.writeString(staging.resolve("adult_survival_2017_2021.csv"), adultCsv(adultRows.take(1)))
      val adultBefore = stamp("ADULT_4")
      val e = intercept[IllegalArgumentException](Runner.run(spark, staging.toString, out))
      assert(e.getMessage.contains(staging.resolve(bad).toString), e.getMessage)
      assert(e.getSuppressed.isEmpty)
      assert(rows("INDEX") === index, bad)
      // the adult load still published: a new stamp over the one-row sheet's rows
      assert(stamp("ADULT_4").after(adultBefore), bad)
      assert(rows("ADULT_4").size === 4, bad)
    }
    // the extension is read case-insensitively
    val upper = Files.createTempDirectory("graft-staging-ext-upper")
    indexWorkbook(upper, file = "Index_2019.XLSX")
    assert(Runner.run(spark, upper.toString, out).map(r => r.file -> r.rows) === Seq("Index_2019.XLSX" -> 3L))
  }

  test("run: when both tables fail, the first failure in listing order is thrown, the other suppressed") {
    val staging = Files.createTempDirectory("graft-staging-fail2")
    Files.writeString(staging.resolve("Index_2018.xlsx"), "not a zip")
    // a zip without xl/workbook.xml
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(staging.resolve("adult_survival_2017_2021.xlsx")))
    zos.putNextEntry(new java.util.zip.ZipEntry("readme.txt")); zos.closeEntry(); zos.close()
    val out = Files.createTempDirectory("graft-tables-fail2").toString
    val e = intercept[java.util.zip.ZipException](Runner.run(spark, staging.toString, out))
    assert(e.getSuppressed.toSeq.map(_.getClass) === Seq(classOf[IllegalArgumentException]))
    assert(e.getSuppressed.head.getMessage.contains("not an xlsx"))
    assert(loadThreadsUnder(out).isEmpty)
  }

  test("run: every load job carries the caller's job group, description and local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = props.add(j.properties)
    }
    val out = Files.createTempDirectory("graft-tables-props").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("runner-spec-group", "runner spec load")
      sc.setLocalProperty("runner.spec.op", "load-1")
      try Runner.run(spark, csvStaging().toString, out)
      finally { sc.clearJobGroup(); sc.setLocalProperty("runner.spec.op", null) }
      org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = props.asScala.toSeq
    assert(seen.size >= 2, "expected at least one job per table")
    seen.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === "runner-spec-group")
      assert(p.getProperty("spark.job.description") === "runner spec load")
      assert(p.getProperty("runner.spec.op") === "load-1")
    }
  }

  // ---- the staged sheet is parsed inside the write's task --------------------

  test("run: one job and one task per destination over an Index and an adult workbook, and no header job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    for ((format, staging) <- Seq("csv" -> csvStaging(), "xlsx" -> xlsxStaging())) {
      val out = Files.createTempDirectory("graft-tables-shape").toString
      val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()   // execution id -> plan
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Seq[Int])]() // job, execution, stages
      val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()          // stage of each finished task
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => plans.put(s.executionId.toString, s.physicalPlanDescription)
          case _ =>
        }
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.add((j.jobId, Option(j.properties).map(_.getProperty("spark.sql.execution.id")).orNull, j.stageIds))
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(t.stageId)
      }
      // events still queued from earlier work would reach the new listener
      org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
      sc.addSparkListener(listener)
      try {
        Runner.run(spark, staging.toString, out)
        org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
      } finally sc.removeSparkListener(listener)
      // each job is attributed to the destination its SQL execution writes
      def destination(execution: String): String =
        Seq("INDEX", "ADULT_4").filter(t => Option(plans.get(execution)).exists(_.contains(s"$out/$t")))
          .mkString("+")
      val perDest = jobs.asScala.toSeq.groupBy { case (_, execution, _) => destination(execution) }
      assert(perDest.keySet === Set("INDEX", "ADULT_4"), s"$format: ${jobs.asScala.mkString("; ")}")
      perDest.foreach { case (dest, js) =>
        assert(js.size === 1, s"$format: $dest ran ${js.size} jobs")
        val stages = js.flatMap(_._3).toSet
        assert(tasks.asScala.count(stages) === 1, s"$format: $dest ran more than one task")
      }
      assert(tasks.size === 2, format)
    }
  }

  test("run: a second load of the same staging compiles no class, CSV or xlsx") {
    import org.apache.spark.metrics.source.CodegenMetrics
    for ((format, staging) <- Seq("csv" -> csvStaging(), "xlsx" -> xlsxStaging())) {
      val out = Files.createTempDirectory("graft-tables-codegen").toString
      Runner.run(spark, staging.toString, out)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Runner.run(spark, staging.toString, out)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0, format)
    }
  }

  test("run: a malformed Table 4 body fails the adult load in its write; ADULT_4 keeps the prior load, INDEX publishes") {
    val out = Files.createTempDirectory("graft-tables-malformed").toString
    Runner.run(spark, xlsxStaging().toString, out)
    def rows(table: String) = spark.read.parquet(s"$out/$table").collect().map(_.toString).sorted.toSeq
    val priorAdult = rows("ADULT_4")
    assert(priorAdult.size === 18)

    // the header reads, then a cell points past the (absent) shared-string table
    val staging = Files.createTempDirectory("graft-staging-malformed")
    indexWorkbook(staging, indexRows.take(1))
    adultWorkbook(staging, body = sheetRows(adultRows.take(1), first = 11) +
      """<row r="12"><c r="A12" t="s"><v>7</v></c></row>""")
    val e = intercept[org.apache.spark.SparkException](Runner.run(spark, staging.toString, out))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("sheet 'Table 4'") && c.getMessage.contains("cell A12")), chain.mkString("\n"))

    // _TIMESTAMP included: the prior load's rows, not a rewrite of them
    assert(rows("ADULT_4") === priorAdult)
    assert(spark.read.parquet(s"$out/INDEX").count() === 1)
    assert(new java.io.File(out).list().toSeq.sorted === Seq("ADULT_4", "INDEX"))
  }

  test("run: an Index sheet that is not well-formed UTF-8 XML fails its load, naming the workbook and the sheet; INDEX keeps its rows, ADULT_4 publishes") {
    val out = Files.createTempDirectory("graft-tables-badxml").toString
    Runner.run(spark, xlsxStaging().toString, out)
    def rows(table: String) = spark.read.parquet(s"$out/$table").collect().map(_.toString).sorted.toSeq
    def stamp(table: String) = spark.read.parquet(s"$out/$table").select(max("_TIMESTAMP")).head.getTimestamp(0)
    val index = rows("INDEX")
    assert(index.size === 3)
    val good = sheetRows((1 to 10).map(i => Seq(s"preamble $i")) ++ (Schemas.rawIndexSheet.fieldNames.toSeq +: indexRows))
    for ((sheetXml, fault) <- XlsxSpec.malformedSheets(good)) {
      val staging = Files.createTempDirectory("graft-staging-badxml")
      val file = staging.resolve("Index_2018.xlsx")
      val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(file))
      def entry(name: String, content: Array[Byte]): Unit = {
        zos.putNextEntry(new java.util.zip.ZipEntry(name)); zos.write(content); zos.closeEntry()
      }
      entry("xl/workbook.xml", """<workbook><sheets><sheet name="Table 5" sheetId="1" r:id="rId1"/></sheets></workbook>""".getBytes("UTF-8"))
      entry("xl/_rels/workbook.xml.rels",
        """<Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/></Relationships>""".getBytes("UTF-8"))
      entry("xl/worksheets/sheet1.xml", sheetXml)
      zos.close()
      Files.writeString(staging.resolve("adult_survival_2017_2021.csv"), adultCsv(adultRows.take(1)))
      val adultBefore = stamp("ADULT_4")
      val e = intercept[org.apache.spark.SparkException](Runner.run(spark, staging.toString, out))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains(file.toString) &&
        c.getMessage.contains("sheet 'Table 5'") && c.getMessage.contains(fault)), chain.mkString("\n"))
      assert(rows("INDEX") === index, fault)
      // the adult load still published: a new stamp over the one-row sheet's rows
      assert(stamp("ADULT_4").after(adultBefore), fault)
      assert(rows("ADULT_4").size === 4, fault)
    }
  }
}
