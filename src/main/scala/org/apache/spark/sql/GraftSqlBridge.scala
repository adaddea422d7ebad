package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The three non-public doors the library needs: construct a DataFrame
  * from a custom LogicalPlan (`classic.Dataset.ofRows` — the same entry
  * every Spark extension library bridges through; there is no public
  * equivalent), construct one from rows already in Catalyst's internal
  * format (`internalCreateDataFrame`, as `DataFrameReader.csv(Dataset)`
  * does with the rows its parser makes), and wait for the listener bus to
  * deliver what it holds. Nothing else in the repo lives outside the
  * `graft` namespace, and nothing else reaches Spark's package-private
  * API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over `rows`, each of which must already match `schema`. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Block until every listener event posted so far has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is package-private to Spark). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
