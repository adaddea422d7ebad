package graft.etl

import graft.ops.SessionMemo
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** The six Snowflake reporting views (reference docs/reporting_*.sql)
  * re-expressed as composable DataFrame functions. Each takes the modelling
  * table(s) and returns the view frame; register with
  * `createOrReplaceTempView` for a SQL entry point. View-on-view layering is
  * inlined by construction, so Catalyst optimizes across layers — filters
  * in outer views push into inner aggregations where legal.
  *
  * Repeated reads of a published table are served from a result memo, as
  * Snowflake's result cache answers a repeated query until its table
  * changes. A view is served only when its input is one file relation
  * read whole, at most under a projection of its own columns — as
  * `spark.read.parquet(table).drop("_TIMESTAMP")` is. Its result is kept
  * per session under the view and its arguments, the input's canonical
  * plan and the session's SQL conf, and stamped with the path, length and
  * modification time of every file in the input's listing. A read whose
  * listing matches the stamp gets the kept rows as a local frame with the
  * view's own schema, and runs no job; any other read computes the view
  * once, in one SQL execution, and replaces the kept rows, so a republish
  * replaces the result rather than adding one. Results live until the
  * session's context stops ([[graft.ops.SessionMemo]]). Every other input
  * (filtered, cached, in-memory, not read from files) computes the view as
  * a plain frame, as before.
  */
object Views {

  /** The North Central London Cancer Alliance, the reference's target
    * area. */
  private val NclArea = "E56000027"

  /** What a served result is kept under: the view and its arguments, the
    * input's canonical plan and the session's SQL conf. */
  private case class Read(view: Seq[String], input: LogicalPlan, conf: Map[String, String])

  /** A view's rows as computed from `files` (path, length, modification
    * time), under the view's output attributes. */
  private final case class Result(files: Seq[(String, Long, Long)], output: Seq[Attribute],
      rows: Seq[InternalRow])

  /** One [[Read]]'s result; a read over other files replaces it. */
  private final class Slot {
    @volatile var result: Result = _
  }

  private val results = new SessionMemo[Read, Slot]

  /** The files of `input` (path, length, modification time, by path) when
    * it is one file relation read whole, at most under a projection of its
    * own columns, and not cached; taken from its file index's listing,
    * without a refresh. */
  private def fileIdentity(input: DataFrame): Option[Seq[(String, Long, Long)]] = {
    val plan = input.queryExecution.analyzed
    val relation = plan match {
      case r: LogicalRelation => Some(r)
      case Project(list, r: LogicalRelation) if list.forall {
        case a: AttributeReference => r.outputSet.contains(a)
        case _ => false
      } => Some(r)
      case _ => None
    }
    relation
      .filter(r => !r.isStreaming &&
        input.queryExecution.withCachedData.find(_.isInstanceOf[InMemoryRelation]).isEmpty)
      .map(_.relation)
      .collect { case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
      }
  }

  /** `compute(input)`, served from [[results]] when `input` has a
    * [[fileIdentity]]: as a local frame of the rows last computed from the
    * same files, or, when there are none, of the rows computed now. */
  private def served(view: Seq[String], input: DataFrame)(compute: DataFrame => DataFrame): DataFrame =
    fileIdentity(input) match {
      case None => compute(input)
      case Some(files) =>
        val spark = input.sparkSession
        val slot = results.getOrElseUpdate(spark,
          Read(view, input.queryExecution.analyzed.canonicalized, spark.sessionState.conf.getAllConfs))(new Slot)
        def current = Option(slot.result).filter(_.files == files)
        val result = current.getOrElse(slot.synchronized {
          current.getOrElse {
            val qe = compute(input).queryExecution
            val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
            val fresh = Result(files, qe.analyzed.output, ArraySeq.unsafeWrapArray(rows))
            slot.result = fresh
            fresh
          }
        })
        GraftSqlBridge.ofRows(spark, LocalRelation(result.output.map(_.newInstance()), result.rows))
    }

  /** Live served results for `s` — test hook. */
  private[etl] def servedEntries(s: SparkSession): Int = results.entriesFor(s)

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
    served(Seq("indexBestCa"), index)(computeIndexBestCa)

  private def computeIndexBestCa(index: DataFrame): DataFrame =
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
  def reportingIndex(index: DataFrame): DataFrame =
    served(Seq("reportingIndex"), index)(computeReportingIndex)

  private def computeReportingIndex(index: DataFrame): DataFrame = {
    val core = index.filter(col("IS_AREA_CORE") === true)
    core.unionByName(computeIndexBestCa(index).select(core.columns.toIndexedSeq.map(col): _*))
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
    served(Seq("processedAdult4"), adult4)(computeProcessedAdult4)

  private def computeProcessedAdult4(adult4: DataFrame): DataFrame =
    adult4
      .filter(col("IS_AREA_CORE") === true)
      .filter(
        (col("STANDARDISATION_TYPE") === "Age-standardised" &&
          col("SURVIVAL_METRIC") === "Net Survival") ||
          col("AREA_CODE") === NclArea)
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
    served(Seq("publishedAdult4"), adult4)(computePublishedAdult4)

  private def computePublishedAdult4(adult4: DataFrame): DataFrame =
    Ops.renameSelect(computeProcessedAdult4(adult4), publishedAdult4Names)

  /** REPORTING.CANCER_ALLIANCE_COMPARISON (reference
    * docs/reporting_cancer_alliance_reporting.sql:1-32): all Cancer
    * Alliances, age-standardised net survival only. */
  def cancerAllianceComparison(adult4: DataFrame): DataFrame =
    served(Seq("cancerAllianceComparison"), adult4)(computeCancerAllianceComparison)

  private def computeCancerAllianceComparison(adult4: DataFrame): DataFrame =
    caRows(adult4)
      .withColumn("JOIN_KEY", joinKey)
      .withColumn("SORT_GENDER", sortGender)

  /** PUBLISHED.CANCER_ALLIANCE_COMPARISON — dashboard-facing rename layer
    * over [[cancerAllianceComparison]] (reference
    * docs/reporting_cancer_alliance_reporting.sql:34-56). Same rename map as
    * the published ADULT_4 layer (the two views share the base schema). */
  def publishedCancerAllianceComparison(adult4: DataFrame): DataFrame =
    served(Seq("publishedCancerAllianceComparison"), adult4)(computePublishedCancerAllianceComparison)

  private def computePublishedCancerAllianceComparison(adult4: DataFrame): DataFrame =
    Ops.renameSelect(computeCancerAllianceComparison(adult4), publishedAdult4Names)

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
    * Scale shape: instead of the reference's two CTEs and a join, BOTH the
    * rank and the denominator are window functions over one partitioning
    * of the CA rows; the "left join" becomes a union of the matched target
    * rows with the unmatched cohorts' null rows. The two branches do not
    * share their subtree: column pruning drops `SURVIVAL_PERCENT` and the
    * rank window from the misses branch, so no exchange is reused, and the
    * executed plan scans the table twice and shuffles twice (ViewsSpec pins
    * the count; the `q_etl` plan fingerprints depend on this shape).
    * Multiplicity matches the reference join exactly (a cohort with k target
    * rows yields k rows; with none, one null row). */
  def benchmarkingRank(adult4: DataFrame, targetArea: String = NclArea): DataFrame =
    served(Seq("benchmarkingRank", targetArea), adult4)(computeBenchmarkingRank(_, targetArea))

  private def computeBenchmarkingRank(adult4: DataFrame, targetArea: String): DataFrame = {
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
    served(Seq("publishedBenchmarkingRank"), adult4)(computePublishedBenchmarkingRank)

  private def computePublishedBenchmarkingRank(adult4: DataFrame): DataFrame =
    Ops.renameSelect(computeBenchmarkingRank(adult4, NclArea), Seq(
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
  def benchmarkingStandards(adult4: DataFrame): DataFrame =
    served(Seq("benchmarkingStandards"), adult4)(computeBenchmarkingStandards)

  private def computeBenchmarkingStandards(adult4: DataFrame): DataFrame = {
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
    served(Seq("publishedBenchmarkingStandards"), adult4)(computePublishedBenchmarkingStandards)

  private def computePublishedBenchmarkingStandards(adult4: DataFrame): DataFrame =
    Ops.renameSelect(computeBenchmarkingStandards(adult4), Seq(
      "JOIN_KEY" -> "JOIN_KEY", "ENGLAND" -> "England", "LONDON" -> "London",
      "BEST" -> "Best", "WORST" -> "Worst",
      "Q1" -> "Q1", "Q2" -> "Q2", "Q3" -> "Q3"))
}
