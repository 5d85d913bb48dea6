package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`; this one-line bridge lives in
  * Spark's package so the traced run can attribute each job to the
  * query that ran it before the next query starts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
