package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end behavior of the two pipelines on tiny NHS-shaped fixtures
  * (FIXTURES.md family A). */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private val targets = Schemas.defaultTargetGeographies

  private def rawIndex = {
    val rows = Seq(
      // (type, name, code, site, gender, age, std, year, since, patients, surv, lo, hi, prec, se, subst)
      ("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "All ages", "Age-standardised", 2018L, 1L, 100L, 71.5, 70.0, 73.0, 1.0, 0.5, null),
      ("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "15-44", "Age-standardised", 2018L, 1L, 50L, 80.0, 78.0, 82.0, 1.0, 0.5, null),
      ("Cancer Alliance", "WY", "E56000014", "Index", "Persons", "All ages", "Age-standardised", 2018L, 1L, 200L, 65.0, 64.0, 66.0, 1.0, 0.5, "E92000001"),
      ("Country", "England", "E92000001", "Other", "Persons", "All ages", "Age-standardised", 2018L, 1L, 999L, 60.0, 59.0, 61.0, 1.0, 0.5, null),
      ("Sub-ICB", "Islington", "E38000088", "Lung", "Persons", "All ages", "Age-standardised", 2018L, 1L, 10L, 40.0, 39.0, 41.0, 1.0, 0.5, null))
    rows.toDF(
      "Geography type", "Geography name", "Geography code", "Cancer site",
      "Gender", "Age at diagnosis", "Standardisation type", "Diagnosis year",
      "Years since diagnosis", "Patient numbers", "Survival (%)", "Lower CI",
      "Upper CI", "Precision", "Standard error", "Substituted by Other Geography")
  }

  test("IndexPipeline: filters sub-ICBs, replaces Breast/Female/All-ages with Persons, renames Index→Overall, drops Other") {
    val out = IndexPipeline(rawIndex, targets).cache()
    assert(out.columns.toSeq === Schemas.indexTable.fieldNames.toSeq)
    // Sub-ICB row dropped, England 'Other' row dropped
    assert(out.filter($"AREA_CODE" === "E38000088").count() === 0)
    assert(out.filter($"CANCER_SITE" === "Other").count() === 0)
    // Breast/Female/All ages became Persons (original gone)
    assert(out.filter($"CANCER_SITE" === "Breast" && $"GENDER" === "Female" &&
      $"AGE_AT_DIAGNOSIS" === "All ages").count() === 0)
    assert(out.filter($"CANCER_SITE" === "Breast" && $"GENDER" === "Persons").count() === 1)
    // Breast/Female/15-44 kept as Female (only the All-ages slice is replaced)
    assert(out.filter($"CANCER_SITE" === "Breast" && $"GENDER" === "Female" &&
      $"AGE_AT_DIAGNOSIS" === "15-44").count() === 1)
    // Index renamed to Overall
    assert(out.filter($"CANCER_SITE" === "Overall").count() === 1)
    // substitution + core flags
    val wy = out.filter($"AREA_CODE" === "E56000014").head()
    assert(wy.getAs[Boolean]("IS_DATA_SUBTITUTED"))
    assert(!wy.getAs[Boolean]("IS_AREA_CORE"))
  }

  private def rawAdult = {
    val rows = Seq(
      ("Country", "England", "E92000001", "Breast", "Female", "Age-standardised (5 age groups)", 1L, 500L, Some(70.0), Some(72.0)),
      ("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "Age-standardised (5 age groups)", 1L, 100L, Some(71.0), None),
      ("Cancer Alliance", "NCL", "E56000027", "Larynx", "Male", "Non-standardised", 1L, 20L, Some(50.0), Some(52.0)),
      ("Cancer Alliance", "WY", "E56000014", "Prostate", "Male", "Age-standardised (all ages)", 5L, 80L, Some(85.0), Some(86.0)),
      ("Sub-ICB", "Islington", "E38000088", "Lung", "Persons", "Age-standardised (all ages)", 1L, 10L, Some(30.0), Some(31.0)))
    rows.toDF(
      "Geography type", "Geography name", "Geography code", "Cancer site",
      "Gender", "Standardisation type", "Years since diagnosis", "Patients",
      "Net survival (%)", "Overall survival (%)")
  }

  test("Adult4Pipeline: carve, stamps, generalisation unions, unpivot with kept nulls, title-cased metrics") {
    val out = Adult4Pipeline(rawAdult, targets, "2017-2021", Some("December 2023")).cache()
    assert(out.columns.toSeq === Schemas.adult4Table.fieldNames.toSeq)
    // Sub-ICB dropped: 4 input rows survive
    // national Breast/Female dup (+1), Larynx/Male dup (+1), Prostate/Male dup (+1)
    // = 7 pre-melt rows → 14 after unpivot
    assert(out.count() === 14)
    // unpivot kept the NULL Overall survival of the NCL Breast row
    assert(out.filter($"SURVIVAL_PERCENT".isNull).count() === 1)
    // metric names are title-cased with the suffix stripped
    assert(out.select("SURVIVAL_METRIC").distinct().as[String].collect().toSet ===
      Set("Net Survival", "Overall Survival"))
    // carve: subcategory extracted, NULL for Non-standardised
    assert(out.filter($"STANDARDISATION_TYPE" === "Non-standardised")
      .select("STANDARDISATION_TYPE_SUBCATEGORY").distinct().head().isNullAt(0))
    assert(out.filter($"CANCER_SITE" === "Breast" && $"AREA_CODE" === "E92000001")
      .select("STANDARDISATION_TYPE_SUBCATEGORY").distinct().as[String].collect().toSet ===
      Set("5 age groups"))
    // England breast generalised to Persons, original kept
    assert(out.filter($"AREA_CODE" === "E92000001" && $"GENDER" === "Persons").count() === 2)
    assert(out.filter($"AREA_CODE" === "E92000001" && $"GENDER" === "Female").count() === 2)
    // NCL breast NOT generalised (only national rows are)
    assert(out.filter($"AREA_CODE" === "E56000027" && $"CANCER_SITE" === "Breast" &&
      $"GENDER" === "Persons").count() === 0)
    // stamps
    assert(out.select("DATE_DIAGNOSIS_WINDOW").distinct().as[String].collect().toSet === Set("2017-2021"))
    assert(out.select("DATE_SNAPSHOT").distinct().as[String].collect().toSet === Set("December 2023"))
  }

  test("Adult4Pipeline: null snapshot stamps NULL") {
    val out = Adult4Pipeline(rawAdult, targets, "2017-2021", None)
    assert(out.filter($"DATE_SNAPSHOT".isNotNull).count() === 0)
  }

  /** `df` staged the way the Runner stages a sheet — CSV lines read back
    * with the declared schema — so the plan's leaf is a real scan. */
  private def staged(df: DataFrame, schema: StructType): DataFrame = {
    val f = Files.createTempFile("graft-staged", ".csv")
    val lines = schema.fieldNames.mkString(",") +:
      df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString(","))
    Files.writeString(f, lines.mkString("\n"))
    Staging.readSheet(spark, f.toString, schema, skipRows = 0)
  }

  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  test("each pipeline reads its staged sheet once: one leaf scan and no UnionExec in the executed plan") {
    val pipelines = Seq(
      "IndexPipeline" -> (IndexPipeline(staged(rawIndex, Schemas.rawIndexSheet), targets), 3L),
      "Adult4Pipeline" -> (Adult4Pipeline(staged(rawAdult, Schemas.rawAdultSheet), targets,
        "2017-2021", Some("December 2023")), 14L))
    for ((name, (out, rows)) <- pipelines) {
      val plan = physical(out)
      assert(plan.collectLeaves().size === 1, s"$name reads its source more than once:\n$plan")
      assert(plan.collect { case u: UnionExec => u }.isEmpty, s"$name plans a union:\n$plan")
      assert(out.count() === rows)
    }
  }
}
