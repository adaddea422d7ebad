package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's QuerySpec; `oracleSql`
  * carries the DuckDB twin for the driver's hash-compare (Verify.scala).
  */
object SparkEntry {

  /** All query modules, in SURVEY.md §2 order. */
  def allSpecs: Seq[QuerySpec] =
    graft.queries.Relational.specs ++
      graft.queries.TextDedup.specs ++
      graft.queries.Similarity.specs ++
      graft.queries.EventsMultimodal.specs ++
      graft.queries.MergeOps.specs ++
      graft.queries.GraphOps.specs ++
      graft.queries.Profiling.specs ++
      graft.queries.Curation.specs ++
      graft.queries.EtlQueries.specs

  /** The query names in `SPARK_GRAFT_ONLY` (comma-separated, blanks
    * dropped), for local iteration on a few queries; None when it is
    * unset, and [[Verify]] and [[Bench]] run every query. */
  def onlyQueries: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The deepest composite: benchmarking-rank (W1+A2+J1+F12, SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.rankQuartile.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(s => s.name -> s.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    allSpecs.map(s => s.name -> s.oracle).toMap
}
