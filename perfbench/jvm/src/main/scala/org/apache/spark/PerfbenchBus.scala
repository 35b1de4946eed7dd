package org.apache.spark

/** Lets a traced run wait until every listener event of the work it just
  * timed has been delivered, so counts are attributed to the right query. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
