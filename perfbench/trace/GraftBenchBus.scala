package org.apache.spark

/** The listener bus is private to Spark; the traced replay waits for it
  * to empty at each span boundary so counter snapshots include every
  * event of the work the span timed.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
