package graft

/** Prints the formatted physical plan of selected queries (all, if no args)
  * for scale auditing: verify filters/projections reach the parquet scan
  * (PushedFilters/ReadSchema), dimension joins broadcast, and operators sit
  * inside WholeStageCodegen spans.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else SparkEntry.queries.keySet
    val spark = Sessions.build("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
