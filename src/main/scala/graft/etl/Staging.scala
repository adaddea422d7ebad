package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Staged-sheet reader — the engine-side half of the reference's
  * `pd.read_excel(sheet, skiprows=N)` (reference src/main.py:112-113, :227).
  * Excel itself is staged to CSV driver-side (no spark-excel in a
  * zero-egress JVM — SURVEY.md §7.4 risk 1); this reads "CSV with N
  * preamble lines before the header" with a DECLARED schema, which plain
  * `spark.read.csv` cannot express.
  *
  * Implementation: one pass that tags each line with its position via the
  * text datasource, drops the preamble, then parses the remainder as CSV
  * from the in-plan Dataset[String] — no driver-side materialization, so a
  * multi-GB staged sheet still streams through executors.
  */
object Staging {

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
      .option("nullValue", "")
      .csv(lines)
  }

  /** Excel sheet → DataFrame: the reference's
    * `pd.read_excel(sheet_name, skiprows=N)` end-to-end (reference
    * src/main.py:112-113). The sheet is parsed driver-side ([[Xlsx]] —
    * bounded by Excel's 1,048,576-row sheet limit, the same driver-memory
    * profile as the reference's pandas read) and enters the cluster as an
    * in-plan CSV dataset with the declared schema. */
  def readXlsxSheet(
      spark: SparkSession,
      path: String,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame =
    Xlsx.withWorkbook(path)(readXlsxSheet(spark, _, sheetName, schema, skipRows))

  /** As above, through an open workbook, so several sheets of one file
    * share its sheet index and shared strings. The CSV lines are built
    * straight from the row stream; the frame holds them, so the workbook
    * may be closed once this returns. */
  def readXlsxSheet(
      spark: SparkSession,
      workbook: Xlsx.Workbook,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    import spark.implicits._
    val lines = workbook.rows(sheetName).drop(skipRows).map(Xlsx.csvLine).toVector
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("nullValue", "")
      .csv(spark.createDataset(lines))
  }
}
