package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to `org.apache.spark`. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
