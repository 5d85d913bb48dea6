package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Generate, Join,
  LocalRelation, LogicalPlan, Project, Repartition, RepartitionOperation, Sort, SubqueryAlias, Window}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage}
import org.apache.spark.sql.execution.joins.BroadcastKeys
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{LongDot, PqAdcDot, QuantizeVec, QuantizedDot}

/** Algebraic rewrite: `long_dot(quantize_vec(x, s), quantize_vec(y, s))`
  * ≡ `quantized_dot(x, y, s)` — when the quantized arrays feed ONLY a
  * dot product, materializing them (one `long[]` allocation per array
  * per row) is pure overhead; the fused expression streams both floats
  * through one loop. The two-step form stays the right choice when the
  * arrays are reused across a pair join ([[graft.llm.SimilarityOps]]
  * hoists them deliberately), so this fires only on the directly
  * nested pattern and never un-hoists a column reference.
  */
object FuseQuantizedDot extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LongDot(QuantizeVec(x, s1), QuantizeVec(y, s2)) if s1 == s2 =>
        QuantizedDot(x, y, s1)
    }
}

/** AQE runtime rule: a global sort whose input measures at most one
  * advisory partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
  * sorts in ONE partition instead of range-partitioning. A range
  * exchange runs its input twice — once in the partitioner's sampling
  * job, once in the map stage — so a per-row kernel between the last
  * shuffle and a final `orderBy` paid for itself twice, for a result
  * that fits one task anyway. The rewrite puts a single-partition
  * exchange under the sort: the input runs once, across the upstream
  * stage's partitions, and one task sorts ≤ one advisory partition.
  *
  * Fires only on evidence: every leaf under the sort must be a
  * MATERIALIZED query stage or a driver-built `LocalRelation` (its
  * exact row count is known), and no `Generate` may sit between them
  * and the sort (an explode's output is not bounded by its input).
  * The input's size is Spark's estimate over those leaves' runtime
  * sizes, or — where that estimate multiplies a join's sides — a row
  * bound ([[rowBound]]) times the row width, whichever is smaller. The
  * row bound sees through a join whose broadcast side measured unique
  * keys: such a join emits at most one row per row of its other side.
  * A sort over a raw scan, over an equi-join of two big stages that is
  * not broadcast or whose broadcast side repeats a key, or over more
  * than one advisory partition keeps its range exchange.
  */
object SmallSortOnePartition extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case s: Sort if s.global && !partitionedFor(s) && small(s.child) =>
      s.copy(child = Repartition(1, shuffle = true, s.child))
  }

  // the sort's own exchange is already planned (this rule's rewrite)
  // or has run (its range or single-partition stage)
  private def partitionedFor(s: Sort): Boolean = (s.child match {
    case r: Repartition => Some(r.partitioning)
    case q: LogicalQueryStage => Some(q.physicalPlan.outputPartitioning)
    case _ => None
  }).exists(_.satisfies(OrderedDistribution(s.order)))

  private def small(input: LogicalPlan): Boolean =
    input.collectLeaves().forall {
      case q: LogicalQueryStage => q.isMaterialized
      case _: LocalRelation => true
      case _ => false
    } &&
      !input.exists(_.isInstanceOf[Generate]) && {
        val byRows = rowBound(input).map(n => BigInt(n) * EstimationUtils.getSizePerRow(input.output))
        (input.stats.sizeInBytes +: byRows.toSeq).min <=
          conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      }

  /** At most how many rows `p` emits: its own `maxRows`, or less where
    * a join probes a broadcast side with unique keys (then the join
    * emits at most one row per row of its other side) or a node that
    * emits no more rows than it reads passes its child's bound through.
    * The bound is a property of the data, so it holds whichever
    * physical join runs.
    */
  private def rowBound(p: LogicalPlan): Option[Long] = {
    val derived = p match {
      case j: Join => j.joinType match {
        case Inner | LeftOuter if uniqueBroadcast(j.right) => rowBound(j.left)
        case Inner | RightOuter if uniqueBroadcast(j.left) => rowBound(j.right)
        case _ => None
      }
      // a global aggregate emits one row even over no input
      case a: Aggregate if a.groupingExpressions.nonEmpty => rowBound(a.child)
      case _: Project | _: Filter | _: Window | _: Sort | _: Deduplicate |
           _: SubqueryAlias | _: RepartitionOperation => rowBound(p.children.head)
      case _ => None
    }
    (p.maxRows.toSeq ++ derived).minOption
  }

  // reading a completed broadcast stage's value runs no job
  private def uniqueBroadcast(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.physicalPlan match {
      case b: BroadcastQueryStageExec if b.isMaterialized =>
        BroadcastKeys.unique(b.executeBroadcast[Any]().value)
      case _ => false
    }
    case _ => false
  }
}

/** Session extension entry point:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(GraftExtensions.install)
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {
  /** The custom expressions as SQL functions, so `spark.sql` users get
    * the same codegen'd kernels as the Scala API:
    * `quantize_vec(vec[, scale])`, `long_dot(a, b)`,
    * `quantized_dot(a, b[, scale])`.
    */
  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.functions." + name, null, name, usage, ""),
      (args: Seq[Expression]) => builder(args))

  private val functions = Seq(
    fn("quantize_vec", "quantize_vec(vec[, scale]) - float vector to ARRAY<BIGINT>") {
      case Seq(v) => QuantizeVec(v, 1000.0)
      case Seq(v, s) => QuantizeVec(v, s.eval().toString.toDouble)
      case args => throw new IllegalArgumentException(
        s"quantize_vec expects 1 or 2 arguments, got ${args.length}")
    },
    fn("long_dot", "long_dot(a, b) - integer dot product of ARRAY<BIGINT>") {
      case Seq(a, b) => LongDot(a, b)
      case args => throw new IllegalArgumentException(
        s"long_dot expects 2 arguments, got ${args.length}")
    },
    fn("quantized_dot", "quantized_dot(a, b[, scale]) - fused quantize + integer dot") {
      case Seq(a, b) => QuantizedDot(a, b, 1000.0)
      case Seq(a, b, s) => QuantizedDot(a, b, s.eval().toString.toDouble)
      case args => throw new IllegalArgumentException(
        s"quantized_dot expects 2 or 3 arguments, got ${args.length}")
    },
    fn("pq_adc_dot", "pq_adc_dot(codes, tables) - PQ asymmetric-distance dot: sum of tables[m][codes[m]]") {
      case Seq(c, t) => PqAdcDot(c, t)
      case args => throw new IllegalArgumentException(
        s"pq_adc_dot expects 2 arguments, got ${args.length}")
    })

  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FuseQuantizedDot)
    ext.injectRuntimeOptimizerRule(_ => SmallSortOnePartition)
    functions.foreach(ext.injectFunction)
  }
}
