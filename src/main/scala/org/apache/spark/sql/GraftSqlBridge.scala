package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two non-public doors the library needs: construct a DataFrame from
  * a custom LogicalPlan (`classic.Dataset.ofRows` — the same entry every
  * Spark extension library bridges through; there is no public
  * equivalent), and wait for the listener bus to deliver what it holds.
  * Nothing else in the repo lives outside the `graft` namespace, and
  * nothing else reaches internal API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener event posted so far has been delivered
    * (`LiveListenerBus.waitUntilEmpty` is package-private to Spark). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
