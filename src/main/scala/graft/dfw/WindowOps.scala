package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Materializer.freeze

/** Scalable analytic-window evaluation for LOW-CARDINALITY partition
  * keys (the `q_analytics` shape: 5 `o_orderpriority` values means a
  * `Window.partitionBy(prio)` plan is ONE task per priority at any
  * data size — at 100× each task holds 20% of the table).
  *
  * [[orderedAnalyticsScalable]] evaluates lag / lead / rank /
  * dense_rank / ntile / cume_dist with the same two-phase scheme as
  * [[SplitOps.rankByPermutationScalable]]: range-partition each class
  * across [[SplitOps.adaptiveRangeParts]] tasks, rank and lag/lead
  * locally per partition,
  * then fix up with a broadcast of one tiny row per (class, partition)
  * — global rank = local rank + preceding partitions' count;
  * boundary rows take their missing lag/lead value from the
  * neighboring partition's edge row carried on the same broadcast.
  *
  * Requires `orderCols` to be a TOTAL order (the same requirement
  * oracle determinism already imposes). Under a total order the window
  * functions degenerate helpfully: `rank = dense_rank = row_number`
  * and `cume_dist = rn / n` (no peer groups), and `ntile`'s fill rule
  * ("first n mod t tiles get one extra row") has the closed form
  * computed here — so one ranked pass yields the whole analytic menu.
  *
  * Why class skew needs NO salting here (SURVEY §7.4's "per-class
  * fits a partition" caveat does not apply): the range-exchange key is
  * `clsCols ++ orderCols`, not the class alone, so the range
  * partitioner balances by TOTAL row count — a class holding 95% of
  * the table simply spans ~95% of the range partitions, and every
  * task still holds ~|rows|/partitions rows regardless of how skewed the
  * class histogram is (pinned by the skew test in WindowOpsSpec). The
  * only per-CLASS structures are on the fix-up side: the offsets
  * window and broadcast are one row per (class, partition) —
  * ≤ partitions rows per class whatever the data volume. Salting would
  * add a second fix-up layer to bound something this scheme never
  * builds: there is no data-side structure keyed by class alone.
  */
object WindowOps {

  /** Adds `rn`, `n`, `prev`, `next`, `tile`, `cd` to `df`.
    *
    * @param clsCols   low-cardinality partition key
    * @param orderCols total order within each class
    * @param valCol    column whose lag/lead is emitted as prev/next
    * @param nTiles    ntile bucket count
    */
  def orderedAnalyticsScalable(df: DataFrame, clsCols: Seq[String],
                               orderCols: Seq[Column], valCol: String,
                               nTiles: Int): DataFrame = {
    require(nTiles > 0, "nTiles must be positive")
    // MATERIALIZE the range partitioning — with the partition id
    // stamped INTO the data first — before anything reads it: two
    // consumers follow (the per-partition count/offset aggregate and
    // the final join), and under separate physical executions a
    // re-derived range exchange can differ between branches (boundary
    // sampling and AQE partition coalescing are per-branch) — then the
    // (pid → offset) map disagrees with the join side's pids and
    // global ranks overshoot n (observed: an 11th ntile on a 10-tile
    // request at 5k rows, where AQE coalesces aggressively). Freezing
    // ONE executed exchange, with __pid evaluated during that one
    // execution, makes both consumers read the same mapping. Without
    // the freeze each consumer would re-run the exchange, which is
    // exactly the divergence this freeze exists to prevent.
    val parted = freeze(
      df.repartitionByRange(SplitOps.adaptiveRangeParts(df), clsCols.map(col) ++ orderCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val keyP = (clsCols :+ "__pid").map(col)
    val localW = Window.partitionBy(keyP: _*).orderBy(orderCols: _*)
    val local = parted
      .withColumn("__lrn", row_number().over(localW).cast("long"))
      .withColumn("__lprev", lag(col(valCol), 1).over(localW))
      .withColumn("__lnext", lead(col(valCol), 1).over(localW))
    // one row per (class, partition): count + first/last value. min/max
    // over (rank, value) structs pick the edge rows' values.
    val counts = local.groupBy(keyP: _*).agg(
      count(lit(1)).as("__c"),
      min(struct(col("__lrn"), col(valCol).as("__v"))).as("__first"),
      max(struct(col("__lrn"), col(valCol).as("__v"))).as("__last"))
    val seqW = Window.partitionBy(clsCols.map(col): _*).orderBy(col("__pid"))
    val offW = seqW.rowsBetween(Window.unboundedPreceding, -1)
    val nW = Window.partitionBy(clsCols.map(col): _*)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(offW), lit(0L)))
      .withColumn("n", sum(col("__c")).over(nW))
      .withColumn("__edgePrev", lag(col("__last"), 1).over(seqW).getField("__v"))
      .withColumn("__edgeNext", lead(col("__first"), 1).over(seqW).getField("__v"))
      .drop("__first", "__last")
    local.join(broadcast(offsets), clsCols :+ "__pid")
      .withColumn("rn", col("__lrn") + col("__off"))
      // partition-boundary rows take lag/lead from the neighboring
      // partition's edge row; interior rows keep their local value
      .withColumn("prev", when(col("__lrn") === 1, col("__edgePrev")).otherwise(col("__lprev")))
      .withColumn("next", when(col("__lrn") === col("__c"), col("__edgeNext")).otherwise(col("__lnext")))
      .withColumn("__tb", expr(s"n div $nTiles"))
      .withColumn("__tr", expr(s"n % $nTiles"))
      .withColumn("tile", expr(
        "IF(rn <= __tr * (__tb + 1), (rn + __tb) div (__tb + 1)," +
        " __tr + (rn - __tr * (__tb + 1) + __tb - 1) div __tb)"))
      .withColumn("cd", col("rn").cast("double") / col("n").cast("double"))
      .drop("__pid", "__lrn", "__lprev", "__lnext", "__c", "__off", "__edgePrev", "__edgeNext",
        "__tb", "__tr")
  }

  /** Global running maximum (`max(val) OVER (ORDER BY orderCol ROWS
    * UNBOUNDED PRECEDING)`) without the single-task global window that
    * a naive `Window.orderBy` plans: range-partition on `orderCol`
    * across [[SplitOps.adaptiveRangeParts]] tasks, take each
    * partition's running max locally, and lift it by the
    * strictly-preceding partitions' overall max carried on a
    * one-row-per-partition broadcast. This is the
    * watermark replay of streaming ingestion — "what had the
    * high-water mark reached when THIS row arrived" — evaluated over
    * an arrival-ordered log of any size.
    *
    * Same freeze requirement as [[orderedAnalyticsScalable]]: the
    * partition-id map has two consumers (the per-partition max and
    * the final join), so the range exchange must materialize once.
    * Adds `run_max`; `greatest` skips the first partition's NULL
    * prefix by definition.
    */
  def prefixMaxScalable(df: DataFrame, orderCol: Column, valCol: Column): DataFrame = {
    val parted = freeze(
      df.withColumn("__pv", valCol)
        .repartitionByRange(SplitOps.adaptiveRangeParts(df), orderCol)
        .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy(col("__pid")).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__lmax", max(col("__pv")).over(localW))
    val prefW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = parted.groupBy(col("__pid")).agg(max(col("__pv")).as("__pmax"))
      .withColumn("__pref", max(col("__pmax")).over(prefW))
      .drop("__pmax")
    local.join(broadcast(prefix), Seq("__pid"))
      .withColumn("run_max", greatest(col("__lmax"), col("__pref")))
      .drop("__pid", "__pv", "__lmax", "__pref")
  }

  /** Global running SUMS (`sum(val_i) OVER (ORDER BY orderCol ROWS
    * UNBOUNDED PRECEDING)` for several value columns at once) with the
    * same two-phase scheme as [[prefixMaxScalable]]: per-partition
    * local running sums after a range exchange, lifted by the
    * strictly-preceding partitions' totals on a one-row-per-partition
    * broadcast. This is the empirical-CDF builder — feed it per-value
    * slice counts and the running sums ARE the unnormalized CDFs
    * (KS tests, Lorenz/Gini curves, cumulative mixture shares).
    *
    * `orderCol` must be UNIQUE per row (group to distinct values
    * first): with duplicate order keys the within-partition row order,
    * and therefore each duplicate's intermediate running sum, is
    * nondeterministic. Sums must be exact types (long/decimal —
    * double addition would reorder across partition boundaries).
    * Adds `run_<name>` per value column; same freeze requirement as
    * [[prefixMaxScalable]].
    */
  def prefixSumScalable(df: DataFrame, orderCol: Column,
                        valCols: Seq[(String, Column)]): DataFrame = {
    require(valCols.nonEmpty, "at least one value column to sum")
    val named = valCols.map { case (n, c) => (n, s"__pv_$n") }
    val parted = freeze(
      valCols.foldLeft(df) { case (d, (n, c)) => d.withColumn(s"__pv_$n", c) }
        .repartitionByRange(SplitOps.adaptiveRangeParts(df), orderCol)
        .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy(col("__pid")).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = named.foldLeft(parted) { case (d, (n, pv)) =>
      d.withColumn(s"__l_$n", sum(col(pv)).over(localW))
    }
    val prefW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totalsPerPid = parted.groupBy(col("__pid"))
      .agg(named.head match { case (n, pv) => sum(col(pv)).as(s"__t_$n") },
        named.tail.map { case (n, pv) => sum(col(pv)).as(s"__t_$n") }: _*)
    val prefix = named.foldLeft(totalsPerPid) { case (d, (n, _)) =>
      d.withColumn(s"__p_$n", sum(col(s"__t_$n")).over(prefW))
    }.select(col("__pid") +: named.map { case (n, _) => col(s"__p_$n") }: _*)
    val joined = local.join(broadcast(prefix), Seq("__pid"))
    named.foldLeft(joined) { case (d, (n, pv)) =>
      d.withColumn(s"run_$n", col(s"__l_$n") + coalesce(col(s"__p_$n"), lit(0L)))
        .drop(pv, s"__l_$n", s"__p_$n")
    }.drop("__pid")
  }
}
