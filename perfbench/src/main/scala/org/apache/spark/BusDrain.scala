package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. `listenerBus` is private to the `org.apache.spark`
  * package, hence this one-line helper lives there. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
