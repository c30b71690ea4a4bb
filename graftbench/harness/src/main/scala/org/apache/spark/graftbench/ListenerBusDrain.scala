package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so the harness reads complete job, task and progress records after
  * an operation returns. The listener bus is package-private to Spark,
  * hence this one-method shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
