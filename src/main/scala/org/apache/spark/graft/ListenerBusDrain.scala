package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted to the context's listener bus so far
  * has been delivered. `listenerBus` is private to the `org.apache.spark`
  * packages, hence this one-line shim; a bus that does not drain within
  * Spark's own timeout throws. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
