package org.apache.spark

/** The listener bus is private to Spark; specs that count events wait
  * for it to empty so a count includes every event of the work it timed.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
