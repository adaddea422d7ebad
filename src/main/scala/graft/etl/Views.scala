package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The six Snowflake reporting views (reference docs/reporting_*.sql)
  * re-expressed as composable DataFrame functions. Each takes the modelling
  * table(s) and returns the view frame; register with
  * `createOrReplaceTempView` for a SQL entry point. View-on-view layering is
  * inlined by construction, so Catalyst optimizes across layers — filters
  * in outer views push into inner aggregations where legal.
  */
object Views {

  /** JOIN_KEY = CONCAT(site, gender, years, window) with Snowflake's
    * integer rendering (no decimal point) — reference
    * docs/reporting_adult4.sql:8. */
  private def joinKey: Column = concat(
    col("CANCER_SITE"), col("GENDER"),
    col("YEARS_SINCE_DIAGNOSIS").cast("string"), col("DATE_DIAGNOSIS_WINDOW"))

  /** SORT_GENDER: Persons before a single gender. */
  private def sortGender: Column =
    when(col("GENDER") === "Persons", 1).otherwise(2).cast("long")

  /** REPORTING.INDEX_BEST_CA (reference docs/reporting_index_best_ca.sql):
    * best non-core Cancer-Alliance survival per dimension combination —
    * GROUP BY ALL with constant literals in scope, NULL-typed filler
    * columns matching the INDEX schema. */
  def indexBestCa(index: DataFrame): DataFrame =
    index.filter(col("IS_AREA_CORE") === false)
      .groupBy(
        col("IS_AREA_CORE"), col("CANCER_SITE"), col("GENDER"),
        col("AGE_AT_DIAGNOSIS"), col("STANDARDISATION_TYPE"),
        col("YEAR_OF_DIAGNOSIS"), col("YEARS_SINCE_DIAGNOSIS"))
      .agg(max("SURVIVAL_PERCENT").as("SURVIVAL_PERCENT"))
      .select(
        lit("X").as("AREA_CODE"),
        lit("Best Non-NCL Cancer Alliance").as("AREA_NAME"),
        col("IS_AREA_CORE"), col("CANCER_SITE"), col("GENDER"),
        col("AGE_AT_DIAGNOSIS"), col("STANDARDISATION_TYPE"),
        col("YEAR_OF_DIAGNOSIS"), col("YEARS_SINCE_DIAGNOSIS"),
        lit(null).cast("long").as("PATIENT_NUMBERS"),
        col("SURVIVAL_PERCENT"),
        lit(null).cast("double").as("LOWER_CI"),
        lit(null).cast("double").as("UPPER_CI"),
        lit(null).cast("double").as("PRECISION"),
        lit(null).cast("double").as("STANDARD_ERROR"),
        lit(null).cast("boolean").as("IS_DATA_SUBTITUTED"))

  /** REPORTING.INDEX (reference docs/reporting_index.sql): core rows ⊎
    * best-CA rows, plus the three CASE sort keys. `_TIMESTAMP` never enters
    * (the sink appends it at write; views build on the pre-stamp frame —
    * same observable surface as `SELECT * EXCLUDE _TIMESTAMP`). */
  def reportingIndex(index: DataFrame): DataFrame = {
    val core = index.filter(col("IS_AREA_CORE") === true)
    core.unionByName(indexBestCa(index).select(core.columns.toIndexedSeq.map(col): _*))
      .withColumn("SORT_SITE",
        when(col("CANCER_SITE") === "Overall", 1).otherwise(2).cast("long"))
      .withColumn("SORT_GENDER", sortGender)
      .withColumn("SORT_AGE",
        when(col("AGE_AT_DIAGNOSIS") === "All ages", 1).otherwise(2).cast("long"))
  }

  /** REPORTING.PROCESSED_ADULT_4 (reference docs/reporting_adult4.sql:1-19):
    * core areas, age-standardised+net-survival for non-NCL, everything for
    * NCL; JOIN_KEY + gender sort key. The reference's `IS_AREA_CORE = 1`
    * leans on Snowflake bool↔number coercion — expressed here as the
    * boolean itself. */
  def processedAdult4(adult4: DataFrame): DataFrame =
    adult4
      .filter(col("IS_AREA_CORE") === true)
      .filter(
        (col("STANDARDISATION_TYPE") === "Age-standardised" &&
          col("SURVIVAL_METRIC") === "Net Survival") ||
          col("AREA_CODE") === "E56000027")
      .withColumn("JOIN_KEY", joinKey)
      .withColumn("SORT_GENDER", sortGender)

  /** The dashboard-facing column renames of the published ADULT_4 layer
    * (reference docs/reporting_adult4.sql:21-43), which the published
    * Cancer Alliance comparison repeats (the two views share the base
    * schema). */
  private val publishedAdult4Names = Seq(
    "AREA_TYPE" -> "Area_Type", "AREA_CODE" -> "Area_Code",
    "AREA_NAME" -> "Area_Name", "IS_AREA_CORE" -> "Area_Core",
    "CANCER_SITE" -> "Cancer_Site", "GENDER" -> "Gender",
    "STANDARDISATION_TYPE" -> "Standardisation_Type",
    "STANDARDISATION_TYPE_SUBCATEGORY" -> "Standardisation_Subcategory",
    "YEARS_SINCE_DIAGNOSIS" -> "Years_Since_Diagnosis",
    "PATIENT_NUMBERS" -> "Patient_Numbers",
    "SURVIVAL_METRIC" -> "Survival_Metric",
    "SURVIVAL_PERCENT" -> "Survival_Per",
    "DATE_DIAGNOSIS_WINDOW" -> "Date_Diagnosis_Window",
    "DATE_SNAPSHOT" -> "Date_Snapshot",
    "JOIN_KEY" -> "JOIN_KEY", "SORT_GENDER" -> "Sort_Gender")

  /** PUBLISHED.PROCESSED_ADULT_4: [[processedAdult4]] under
    * [[publishedAdult4Names]]. */
  def publishedAdult4(adult4: DataFrame): DataFrame =
    Ops.renameSelect(processedAdult4(adult4), publishedAdult4Names)

  /** REPORTING.CANCER_ALLIANCE_COMPARISON (reference
    * docs/reporting_cancer_alliance_reporting.sql:1-32): all Cancer
    * Alliances, age-standardised net survival only. */
  def cancerAllianceComparison(adult4: DataFrame): DataFrame =
    caRows(adult4)
      .withColumn("JOIN_KEY", joinKey)
      .withColumn("SORT_GENDER", sortGender)

  /** PUBLISHED.CANCER_ALLIANCE_COMPARISON — dashboard-facing rename layer
    * over [[cancerAllianceComparison]] (reference
    * docs/reporting_cancer_alliance_reporting.sql:34-56). Same rename map as
    * the published ADULT_4 layer (the two views share the base schema). */
  def publishedCancerAllianceComparison(adult4: DataFrame): DataFrame =
    Ops.renameSelect(cancerAllianceComparison(adult4), publishedAdult4Names)

  /** The shared CA base: age-standardised net-survival Cancer-Alliance rows
    * (reference docs/reporting_rank.sql:11-15). */
  private def caRows(adult4: DataFrame): DataFrame =
    adult4.filter(
      col("STANDARDISATION_TYPE") === "Age-standardised" &&
        col("SURVIVAL_METRIC") === "Net Survival" &&
        col("AREA_TYPE") === "Cancer Alliance")

  /** REPORTING.BENCHMARKING_RANK (reference docs/reporting_rank.sql:1-51):
    * rank CAs per join key, count the denominator, attach the target area's
    * rank per cohort (LEFT-JOIN-with-ON-constant semantics), quartile-
    * bucket.
    *
    * Scale shape: instead of the reference's two CTEs re-scanning the table
    * and a join, BOTH the rank and the denominator are window functions over
    * one partitioning of one scan; the "left join" becomes a union of the
    * matched target rows with the unmatched cohorts' null rows — the two
    * branches share the identical scan→shuffle→window subtree, which Spark's
    * ReuseExchange collapses at execution. One scan, one shuffle.
    * Multiplicity matches the reference join exactly (a cohort with k target
    * rows yields k rows; with none, one null row). */
  def benchmarkingRank(adult4: DataFrame, targetArea: String = "E56000027"): DataFrame = {
    val w = Window.partitionBy("JOIN_KEY")
    val ranked = caRows(adult4).filter(col("SURVIVAL_PERCENT").isNotNull)
      .select(col("AREA_CODE"), col("CANCER_SITE"), col("SURVIVAL_PERCENT"),
        joinKey.as("JOIN_KEY"))
      .withColumn("RANK_CA",
        rank().over(w.orderBy(col("SURVIVAL_PERCENT").desc)).cast("long"))
      .withColumn("RANK_BASE", count(lit(1)).over(w))
    val hits = ranked.filter(col("AREA_CODE") === targetArea)
      .select(
        col("JOIN_KEY"), col("CANCER_SITE"), col("SURVIVAL_PERCENT"),
        col("RANK_CA"), col("RANK_BASE"),
        when(col("RANK_BASE") < 4, "-")
          .when(col("RANK_CA") / col("RANK_BASE") < 0.25, "1st")
          .when(col("RANK_CA") / col("RANK_BASE") < 0.5, "2nd")
          .when(col("RANK_CA") / col("RANK_BASE") < 0.75, "3rd")
          .otherwise("4th")
          .as("NCL_QUARTILE"))
    val misses = ranked
      .groupBy(col("JOIN_KEY"), col("CANCER_SITE"))
      .agg(
        max(col("RANK_BASE")).as("RANK_BASE"),
        max(when(col("AREA_CODE") === targetArea, 1)).as("hit"))
      .filter(col("hit").isNull)
      .select(
        col("JOIN_KEY"), col("CANCER_SITE"),
        lit(null).cast("double").as("SURVIVAL_PERCENT"),
        lit(null).cast("long").as("RANK_CA"),
        col("RANK_BASE"),
        lit(null).cast("string").as("NCL_QUARTILE"))
    hits.unionByName(misses)
  }

  /** PUBLISHED.BENCHMARKING_RANK (reference docs/reporting_rank.sql:53-65). */
  def publishedBenchmarkingRank(adult4: DataFrame): DataFrame =
    Ops.renameSelect(benchmarkingRank(adult4), Seq(
      "JOIN_KEY" -> "JOIN_KEY", "CANCER_SITE" -> "Cancer_Site",
      "SURVIVAL_PERCENT" -> "Survival_Per", "RANK_CA" -> "Rank_CA",
      "RANK_BASE" -> "Rank_Denominator", "NCL_QUARTILE" -> "Quartile"))

  /** REPORTING.BENCHMARKING_STANDARDS (reference
    * docs/reporting_benchmarking_standard.sql:1-97): England/London/Best/
    * Worst/Q1/Q2/Q3 per cohort, wide.
    *
    * Scale shape: the reference stacks SEVEN scans of the table and pivots
    * them back; here the five CA standards (Best/Worst/Q1/Q2/Q3) come from
    * ONE aggregation pass and the two fixed-area columns from one pivot
    * over a two-code filtered scan, stitched with a full outer join of the
    * two tiny aggregated sides. Semantics (incl. PIVOT's SUM reducer over
    * the fixed-area rows and cohorts missing from either side) are
    * unchanged — the oracle still runs the literal 7-way stack. */
  def benchmarkingStandards(adult4: DataFrame): DataFrame = {
    val a4base = adult4
      .filter(
        col("STANDARDISATION_TYPE") === "Age-standardised" &&
          col("SURVIVAL_METRIC") === "Net Survival")
      .select(
        col("AREA_CODE"), col("AREA_TYPE"),
        joinKey.as("JOIN_KEY"), col("SURVIVAL_PERCENT"))
    val fixed = a4base
      .filter(col("AREA_CODE").isin("E92000001", "E40000003"))
      .groupBy("JOIN_KEY")
      .agg(
        sum(when(col("AREA_CODE") === "E92000001", col("SURVIVAL_PERCENT"))).as("ENGLAND"),
        sum(when(col("AREA_CODE") === "E40000003", col("SURVIVAL_PERCENT"))).as("LONDON"))
    val caAgg = a4base.filter(col("AREA_TYPE") === "Cancer Alliance")
      .groupBy("JOIN_KEY")
      .agg(
        max("SURVIVAL_PERCENT").as("BEST"),
        min("SURVIVAL_PERCENT").as("WORST"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY SURVIVAL_PERCENT)").as("Q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY SURVIVAL_PERCENT)").as("Q2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY SURVIVAL_PERCENT)").as("Q3"))
    fixed.join(caAgg, Seq("JOIN_KEY"), "full_outer")
      .select("JOIN_KEY", "ENGLAND", "LONDON", "BEST", "WORST", "Q1", "Q2", "Q3")
  }

  /** PUBLISHED.BENCHMARKING_STANDARDS — dashboard-facing rename layer over
    * [[benchmarkingStandards]] (reference
    * docs/reporting_benchmarking_standard.sql:99-113). */
  def publishedBenchmarkingStandards(adult4: DataFrame): DataFrame =
    Ops.renameSelect(benchmarkingStandards(adult4), Seq(
      "JOIN_KEY" -> "JOIN_KEY", "ENGLAND" -> "England", "LONDON" -> "London",
      "BEST" -> "Best", "WORST" -> "Worst",
      "Q1" -> "Q1", "Q2" -> "Q2", "Q3" -> "Q3"))
}
