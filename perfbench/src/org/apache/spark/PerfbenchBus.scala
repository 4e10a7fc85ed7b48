package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced op's events are complete before they are
  * attributed to it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
