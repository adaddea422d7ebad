package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** In-flight pipeline metrics via Spark's Observation API.
  *
  * A production load wants row counts, null rates, and basic totals for
  * every batch it writes — but a separate `count()`/aggregate pass re-scans
  * the data (at 100 TB, a second full read per metric set). `observe()`
  * attaches the aggregates to the EXISTING plan: metrics accumulate on the
  * executors while the real action runs and cost nothing beyond the
  * accumulator traffic. This is the mechanism behind every "rows written /
  * rejected" dashboard number that doesn't double the job's IO.
  */
object Metrics {

  /** Standard load audit: total rows, per-column null counts, and an
    * Exact total for each requested numeric column. Returns the SAME
    * DataFrame (the plan is unchanged but for the observe node) plus the
    * Observation to read AFTER an action has run. */
  def audited(
      df: DataFrame,
      name: String,
      nullCheckCols: Seq[String],
      totalCols: Seq[String] = Nil): (DataFrame, Observation) = {
    val obs = Observation(name)
    val metrics: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        (nullCheckCols.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c")) ++
          totalCols.map(c => graft.Exact.sumD(col(c)).as(s"total_$c")))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }
}
