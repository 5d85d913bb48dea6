package graft

import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dfw.{ExpectOps, FunnelOps}
import graft.llm.GraphOps

/** Every graph round, funnel step and reference check joins its state
  * side through an explicit `broadcast` hint. With Spark's size-based
  * auto-broadcast switched off, the hint is the only way a
  * `BroadcastHashJoin` can reach the plan: each operator's plans must
  * carry the pinned number of them (dropping any one hint turns its
  * join into a shuffle join and lowers the count), and its result must
  * stay the value its own spec pins on the same fixture.
  */
class StateBroadcastSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
  private def day(d: Int, h: Int) = Timestamp.valueOf(f"2024-02-$d%02d 0$h:00:00")

  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 1L))
  private val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
  private val events = Seq(
    (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
    (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "click", ts(3)), (2L, "purchase", ts(4)),
    (3L, "view", ts(5)),
    (4L, "view", ts(1)), (4L, "purchase", ts(2)), (4L, "click", ts(3)),
    (5L, "click", ts(1)), (5L, "purchase", ts(2))
  ).toDF("user_id", "event_type", "ts")
  private val steps = Seq("view", "click", "purchase")
  private val M = 60000000L

  /** (operator, result, expected rows as comma-joined strings in any
    * order, broadcast hash joins summed over the final plans of every
    * query the operator runs — all of them hinted joins) */
  private def cases: Seq[(String, () => DataFrame, Seq[String], Int)] = Seq(
    ("pageRankInt",
      () => GraphOps.pageRankInt(chain.toDF("src", "dst"), "src", "dst", iters = 4),
      Seq("1,1651842", "2,1554066", "3,644088", "4,150000"),
      8),
    ("pageRankWeightedInt",
      () => GraphOps.pageRankWeightedInt(
        Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 1),
      Seq("1,1850000", "2,362500", "3,787500"),
      2),
    ("minLabelPropagate",
      () => GraphOps.minLabelPropagate(chain5.toDF("src", "dst"), "src", "dst", 1),
      Seq("1,1", "2,1", "3,2", "4,3", "5,4"),
      2),
    ("hitsInt",
      () => GraphOps.hitsInt(Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst"),
        "src", "dst", rounds = 3),
      Seq("1,619047,0", "2,1000000,0", "10,0,1000000", "11,0,615384"),
      14),
    ("bfsHops",
      () => GraphOps.bfsHops(chain5.toDF("src", "dst"), "src", "dst",
        Seq(1L).toDF("seed"), "seed", 3),
      Seq("1,0", "2,1", "3,2", "4,3"),
      3),
    ("ssspInt",
      () => GraphOps.ssspInt(
        Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", Seq(1L).toDF("seed"), "seed", 3),
      Seq("1,0", "2,3", "3,1", "4,2"),
      3),
    ("sequentialFunnel",
      () => FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts", steps),
      Seq("1,view,4,100", "2,click,3,75", "3,purchase,2,50"),
      3),
    ("funnelTransitionStats",
      () => FunnelOps.funnelTransitionStats(events, "user_id", "event_type", "ts", steps),
      Seq(s"1,view,click,3,$M,${2 * M},${4 * M},60.0,${120.0 * 0.8 + 60.0 * 0.2}",
        s"2,click,purchase,2,$M,$M,${2 * M},60.0,60.0"),
      2),
    ("cohortRetention",
      () => FunnelOps.cohortRetention(Seq(
          (10L, day(1, 1)), (10L, day(1, 2)), (11L, day(1, 1)),
          (10L, day(2, 1)), (12L, day(2, 1)),
          (10L, day(3, 1)), (11L, day(3, 1)), (12L, day(3, 2))
        ).toDF("user_id", "ts"), "user_id", "ts"),
      Seq("2024-02-01,0,2,100", "2024-02-01,1,1,50", "2024-02-01,2,2,100",
        "2024-02-02,0,1,100", "2024-02-02,1,1,100"),
      2),
    ("expectRefIntegrity",
      () => ExpectOps.expectRefIntegrity(
        Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk"), "fk",
        Seq(1L, 2L, 3L).toDF("pk"), "pk"),
      Seq("ref(fk->pk),3,1,0"),
      1))

  /** `f`'s result and the broadcast hash joins in the final plan of
    * every query it ran, eager freezes included, counted after the
    * listener bus is drained. */
  private def broadcastJoinsDuring[T](f: => T): (T, Int) = {
    val joins = ListBuffer.empty[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        joins.synchronized {
          joins += collect(qe.executedPlan) { case j: BroadcastHashJoinExec => j }.size
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusSync.drain(sc)
    spark.listenerManager.register(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusSync.drain(sc)
      (out, joins.synchronized(joins.sum))
    } finally spark.listenerManager.unregister(listener)
  }

  test("every state-side join is broadcast by its hint alone; results unchanged") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      for ((name, run, expected, joins) <- cases) withClue(s"$name: ") {
        val (rows, n) = broadcastJoinsDuring(run().collect().map(_.toSeq.mkString(",")))
        rows.sorted.toSeq shouldBe expected.sorted
        n shouldBe joins
      }
    } finally spark.conf.set(key, prev)
  }
}
