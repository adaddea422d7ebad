package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counts read after an operation include all of its tasks. The bus's
  * drain method is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
