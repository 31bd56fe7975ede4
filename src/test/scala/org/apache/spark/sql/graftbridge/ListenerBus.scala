package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private:
  * a spec that counts jobs or reads plans through a listener drains the
  * bus first, so every event posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
