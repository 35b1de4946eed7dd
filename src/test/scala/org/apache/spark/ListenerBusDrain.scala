package org.apache.spark

/** Lets a spec wait until every listener event of the work it just ran has
  * been delivered, so a listener's counts are complete when asserted. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
