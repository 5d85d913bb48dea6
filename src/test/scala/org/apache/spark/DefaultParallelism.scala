package org.apache.spark

/** Runs `f` with `spark.default.parallelism` set to `n` on a live
  * context, then restores the previous value. A local scheduler
  * backend re-reads that key on every `defaultParallelism` call, so
  * range-partitioned operators sized by
  * `graft.dfw.SplitOps.adaptiveRangeParts` see `n` partitions on tiny
  * inputs without a new session. `SparkContext.conf` is
  * `private[spark]`; this bridge lives in Spark's package to reach it.
  */
object DefaultParallelism {
  private val Key = "spark.default.parallelism"

  def withDefaultParallelism[T](sc: SparkContext, n: Int)(f: => T): T = {
    val prev = sc.conf.getOption(Key)
    sc.conf.set(Key, n.toString)
    try f
    finally prev match {
      case Some(v) => sc.conf.set(Key, v)
      case None => sc.conf.remove(Key)
    }
  }
}
