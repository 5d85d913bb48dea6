package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One SparkSession shared by every suite in the forked test JVM —
  * session startup dominates test wall time otherwise.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.tuned(
        SparkSession.builder()
          .master("local[4]")
          .appName("graft-tests")
          .config("spark.ui.enabled", "false"),
        parallelism = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** `f`'s result and the Spark jobs it ran, counted by a listener
    * after the listener bus is drained. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusSync.drain(sc) // earlier tests' jobs stay out
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusSync.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
