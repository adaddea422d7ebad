package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge semantics of the operator combinators (SURVEY.md §7.4 gotchas). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq(
    ("Breast", "Female", "All ages", 1L),
    ("Breast", "Female", "15-44", 2L),
    ("Breast", "Male", "All ages", 3L),
    ("Lung", "Female", "All ages", 4L))
    .toDF("Cancer site", "Gender", "Age at diagnosis", "v")

  test("duplicateWhere (R1) keeps originals and appends overwritten copies") {
    val out = Ops.duplicateWhere(frame,
      col("Cancer site") === "Breast" && col("Gender") === "Female",
      Map("Gender" -> lit("Persons")))
    assert(out.count() === 6)
    // originals still present
    assert(out.filter($"Gender" === "Female" && $"Cancer site" === "Breast").count() === 2)
    assert(out.filter($"Gender" === "Persons").count() === 2)
  }

  test("replaceWhere (R2) removes the matching originals — the deliberate asymmetry") {
    val out = Ops.replaceWhere(frame,
      col("Cancer site") === "Breast" && col("Gender") === "Female" &&
        col("Age at diagnosis") === "All ages",
      Map("Gender" -> lit("Persons")))
    assert(out.count() === 4)
    assert(out.filter($"Gender" === "Female" && $"Age at diagnosis" === "All ages"
      && $"Cancer site" === "Breast").count() === 0)
    assert(out.filter($"Gender" === "Persons" && $"v" === 1L).count() === 1)
  }

  test("replaceWhere keeps rows where the predicate is NULL (pandas keep-NaN semantics)") {
    // a blank cell makes the conjunctive predicate NULL, not false; pandas
    // ~((..)&(..)) keeps the NaN row, so the keep side must too
    val withNull = Seq(
      (Option("Breast"), Option("Female"), Option("All ages"), 1L),
      (Option.empty[String], Option("Female"), Option("All ages"), 2L),
      (Option("Lung"), Option.empty[String], Option("All ages"), 3L))
      .toDF("Cancer site", "Gender", "Age at diagnosis", "v")
    val out = Ops.replaceWhere(withNull,
      col("Cancer site") === "Breast" && col("Gender") === "Female" &&
        col("Age at diagnosis") === "All ages",
      Map("Gender" -> lit("Persons")))
    // row 1 replaced; rows 2 and 3 (NULL predicate) KEPT, not dropped
    assert(out.count() === 3)
    assert(out.filter($"v" === 2L).count() === 1)
    assert(out.filter($"v" === 3L).count() === 1)
    assert(out.filter($"v" === 1L && $"Gender" === "Persons").count() === 1)
  }

  test("the 'Other' site exclusion keeps NULL-site rows (pandas != semantics)") {
    val withNull = Seq(Option("Other"), Option("Lung"), Option.empty[String])
      .toDF("Cancer site")
    val kept = withNull.filter(!(col("Cancer site") <=> "Other"))
    assert(kept.count() === 2, "NULL site must survive the exclusion")
  }

  test("generaliseGender only copies the (site, gender) slice") {
    val out = Ops.generaliseGender(frame, "Breast", "Female")
    assert(out.count() === 6)
    assert(out.filter($"Gender" === "Persons").select("v").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("carveStandardisation: parenthetical split, NULL for Non-standardised and paren-less") {
    val df = Seq(
      "Age-standardised (5 age groups)",
      "Age-standardised (all ages)",
      "Non-standardised",
      "Age-standardised").toDF("Standardisation type")
    val out = Ops.carveStandardisation(df)
      .select("Standardisation type", "standardisation_type_subcategory")
      .as[(String, Option[String])].collect().toSet
    assert(out === Set(
      ("Age-standardised", Some("5 age groups")),
      ("Age-standardised", Some("all ages")),
      ("Non-standardised", None),
      ("Age-standardised", None))) // paren-less non-Non-standardised → NULL (pandas .str[1] of 1-elem split)
  }

  test("unpivotMetrics keeps null measure values (pandas melt semantics)") {
    val df = Seq((1L, Some(10.0), None: Option[Double]), (2L, Some(20.0), Some(5.0)))
      .toDF("id", "Net survival (%)", "Overall survival (%)")
    val out = Ops.unpivotMetrics(df, Seq("id"),
      Seq("Net survival (%)", "Overall survival (%)"), "metric", "value")
    assert(out.count() === 4) // null kept, not dropped
    assert(out.filter($"value".isNull).count() === 1)
  }
}
