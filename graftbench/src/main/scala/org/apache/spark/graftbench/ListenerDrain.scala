package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so the benchmark reads complete attribution counts. The
  * bus is private to Spark; this accessor lives in Spark's package for
  * that reason only. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
