package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reporting-view semantics on hand-built modelling tables. */
class ViewsSpec extends SparkSpec {
  import spark.implicits._

  /** Minimal ADULT_4 frame: one cohort, 5 Cancer Alliances + England +
    * London, age-standardised net survival. */
  private def adult4(withNcl: Boolean) = {
    val cas = Seq(
      ("Cancer Alliance", "E56000027", "NCL", true, 80.0),
      ("Cancer Alliance", "E56000014", "WY", false, 90.0),
      ("Cancer Alliance", "E56000015", "HNY", false, 85.0),
      ("Cancer Alliance", "E56000016", "EM", false, 70.0),
      ("Cancer Alliance", "E56000017", "WM", false, 60.0))
      .filter { case (_, code, _, _, _) => withNcl || code != "E56000027" }
    val areas = cas ++ Seq(
      ("Country", "E92000001", "England", true, 75.0),
      ("Region", "E40000003", "London", true, 78.0))
    areas.map { case (t, code, name, core, surv) =>
      (t, code, name, core, "Breast", "Persons", "Age-standardised",
        "5 age groups", 1L, 100L, "Net Survival", surv, "2017-2021", "December 2023")
    }.toDF(
      "AREA_TYPE", "AREA_CODE", "AREA_NAME", "IS_AREA_CORE", "CANCER_SITE",
      "GENDER", "STANDARDISATION_TYPE", "STANDARDISATION_TYPE_SUBCATEGORY",
      "YEARS_SINCE_DIAGNOSIS", "PATIENT_NUMBERS", "SURVIVAL_METRIC",
      "SURVIVAL_PERCENT", "DATE_DIAGNOSIS_WINDOW", "DATE_SNAPSHOT")
  }

  test("benchmarkingRank: NCL rank 3 of 5 → 3rd quartile-bucket boundary math") {
    val out = Views.benchmarkingRank(adult4(withNcl = true))
    val row = out.head()
    assert(row.getAs[Long]("RANK_CA") === 3L)   // 90, 85, 80 → rank 3
    assert(row.getAs[Long]("RANK_BASE") === 5L)
    assert(row.getAs[String]("NCL_QUARTILE") === "3rd") // 3/5 = 0.6 → < 0.75
  }

  test("benchmarkingRank: missing NCL → LEFT JOIN keeps the key, quartile NULL (J1 ON-clause semantics)") {
    val out = Views.benchmarkingRank(adult4(withNcl = false))
    assert(out.count() === 1)
    val row = out.head()
    assert(row.isNullAt(row.fieldIndex("RANK_CA")))
    assert(row.isNullAt(row.fieldIndex("NCL_QUARTILE")))
    assert(row.getAs[Long]("RANK_BASE") === 4L)
  }

  test("benchmarkingRank: small cohort (<4) → '-'") {
    val small = adult4(withNcl = true).filter(
      $"AREA_CODE".isin("E56000027", "E56000014", "E56000015"))
    val row = Views.benchmarkingRank(small).head()
    assert(row.getAs[String]("NCL_QUARTILE") === "-")
  }

  test("benchmarkingStandards: pivoted England/London/Best/Worst/quartiles") {
    val row = Views.benchmarkingStandards(adult4(withNcl = true)).head()
    assert(row.getAs[Double]("ENGLAND") === 75.0)
    assert(row.getAs[Double]("LONDON") === 78.0)
    assert(row.getAs[Double]("BEST") === 90.0)
    assert(row.getAs[Double]("WORST") === 60.0)
    // percentile_disc over {60,70,80,85,90}: cume_dist 0.2,0.4,0.6,0.8,1.0
    assert(row.getAs[Double]("Q1") === 70.0)
    assert(row.getAs[Double]("Q2") === 80.0)
    assert(row.getAs[Double]("Q3") === 85.0)
  }

  test("processedAdult4: NCL keeps everything, others only age-standardised net survival") {
    val base = adult4(withNcl = true)
    val extra = base.limit(2)
      .withColumn("STANDARDISATION_TYPE", lit("Non-standardised"))
    val out = Views.processedAdult4(base.unionByName(extra))
    // extras: row0 = NCL (kept via AREA_CODE branch), row1 = WY (dropped: non-core)
    assert(out.filter($"STANDARDISATION_TYPE" === "Non-standardised").count() === 1)
    // JOIN_KEY renders the integer without decimal point (F11)
    assert(out.select("JOIN_KEY").head().getString(0) === "BreastPersons12017-2021")
  }

  /** Minimal INDEX frame: two non-core Cancer Alliances and the core NCL. */
  private def index = Seq(
    ("E56000014", "WY", false, "Breast", "Persons", "All ages", "Age-standardised", 2018L, 1L, 10L, 80.0),
    ("E56000015", "HNY", false, "Breast", "Persons", "All ages", "Age-standardised", 2018L, 1L, 20L, 85.0),
    ("E56000027", "NCL", true, "Breast", "Persons", "All ages", "Age-standardised", 2018L, 1L, 30L, 70.0))
    .toDF("AREA_CODE", "AREA_NAME", "IS_AREA_CORE", "CANCER_SITE", "GENDER",
      "AGE_AT_DIAGNOSIS", "STANDARDISATION_TYPE", "YEAR_OF_DIAGNOSIS",
      "YEARS_SINCE_DIAGNOSIS", "PATIENT_NUMBERS", "SURVIVAL_PERCENT")
    .withColumn("LOWER_CI", lit(null).cast("double"))
    .withColumn("UPPER_CI", lit(null).cast("double"))
    .withColumn("PRECISION", lit(null).cast("double"))
    .withColumn("STANDARD_ERROR", lit(null).cast("double"))
    .withColumn("IS_DATA_SUBTITUTED", lit(false))

  test("indexBestCa: GROUP BY ALL over non-core with literal area and null fillers") {
    val best = Views.indexBestCa(index)
    assert(best.count() === 1)
    val row = best.head()
    assert(row.getAs[String]("AREA_CODE") === "X")
    assert(row.getAs[String]("AREA_NAME") === "Best Non-NCL Cancer Alliance")
    assert(row.getAs[Double]("SURVIVAL_PERCENT") === 85.0)
    assert(row.isNullAt(row.fieldIndex("PATIENT_NUMBERS")))
    val rep = Views.reportingIndex(index)
    assert(rep.count() === 2) // NCL core row + best-CA row
    assert(rep.filter($"SORT_SITE" === 2 && $"SORT_GENDER" === 1 && $"SORT_AGE" === 1).count() === 2)
  }

  // ---- served reads ---------------------------------------------------------

  /** `frame` published as a table is (without `_TIMESTAMP`), and a read of it
    * as a dashboard makes one. */
  private def publishedRead(frame: DataFrame): () => DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-views-table").resolve("T").toString
    Sink.overwriteTable(frame, dir)
    () => spark.read.parquet(dir).drop("_TIMESTAMP")
  }

  /** The nodes of `df`'s executed plan after a collect, query stages
    * included. */
  private def executedNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  test("benchmarkingRank over a published ADULT_4: two file scans and two shuffles, none reused") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // a filter the optimizer drops: the plan of an unserved read of the table
    val read = publishedRead(adult4(withNcl = true))
    val nodes = executedNodes(Views.benchmarkingRank(read().filter(lit(true))))
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) === 2)
    assert(nodes.count(_.isInstanceOf[ShuffleQueryStageExec]) === 2)
    assert(nodes.count(_.isInstanceOf[ReusedExchangeExec]) === 0)
  }

  test("served: each refused input computes its views; a published read whole is served") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    type View = DataFrame => DataFrame
    val adult4Views = Seq[View](
      Views.processedAdult4, Views.publishedAdult4, Views.cancerAllianceComparison,
      Views.publishedCancerAllianceComparison, Views.benchmarkingRank(_),
      Views.publishedBenchmarkingRank, Views.benchmarkingStandards, Views.publishedBenchmarkingStandards)
    val indexViews = Seq[View](
      Views.indexBestCa, Views.reportingIndex)
    val adult = publishedRead(adult4(withNcl = true))
    val indexTable = publishedRead(index)
    def served(df: DataFrame) = df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    def scans[T: scala.reflect.ClassTag](df: DataFrame) =
      executedNodes(df).exists(implicitly[scala.reflect.ClassTag[T]].runtimeClass.isInstance)
    def refuses(what: String, input: () => DataFrame, fns: Seq[View],
        reads: DataFrame => Boolean): Unit = fns.foreach { fn =>
      val out = fn(input())
      assert(!served(out), what)
      assert(reads(out), s"$what: the view reads its input\n${out.queryExecution.executedPlan}")
    }
    val entries = Views.servedEntries(spark)
    refuses("filtered", () => adult().filter($"AREA_CODE".isNotNull), adult4Views, scans[FileSourceScanExec])
    refuses("filtered index", () => indexTable().filter(lit(true)), indexViews, scans[FileSourceScanExec])
    refuses("in-memory", () => adult4(withNcl = true), adult4Views, scans[LocalTableScanExec])
    refuses("in-memory index", () => index, indexViews, scans[LocalTableScanExec])
    refuses("not read from files", () => spark.createDataFrame(adult().rdd, adult().schema), adult4Views,
      scans[RDDScanExec])
    // last: while it is cached, every read of the table reads the cache
    val cached = adult().cache()
    try refuses("cached", () => cached, adult4Views, scans[InMemoryTableScanExec])
    finally cached.unpersist(blocking = true)
    assert(Views.servedEntries(spark) === entries)
    // the same table read whole is served, under the computed view's schema
    for ((read, fns) <- Seq(adult -> adult4Views, indexTable -> indexViews); fn <- fns) {
      val out = fn(read())
      assert(served(out))
      assert(out.schema === fn(read().filter(lit(true))).schema)
    }
  }
}
