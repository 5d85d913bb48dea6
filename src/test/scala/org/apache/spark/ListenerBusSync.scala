package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a test's `SparkListener` has seen every job that already ran.
  * The listener bus is `private[spark]`; this bridge lives in Spark's
  * package to reach it.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
