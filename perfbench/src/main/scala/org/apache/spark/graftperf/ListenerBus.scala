package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a job include all of its tasks. The bus is
  * private to Spark, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
