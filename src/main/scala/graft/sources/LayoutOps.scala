package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.functions.ZOrderFunctions

/** Data-layout operators: multi-dimensional clustering for scan
  * pruning.
  *
  * A 100 TB table is pruned or scanned file-by-file off parquet footer
  * min/max stats; a single-column sort gives tight stats on ONE
  * column. Z-order clustering sorts by the Morton interleave of two
  * dimensions instead, so every file covers a compact rectangle of
  * (a, b) space and range predicates on EITHER dimension skip most
  * files. [[ZOrderSpec]] measures the effect; `l1_zorder` certifies
  * the key itself against the DuckDB replay.
  */
object LayoutOps {

  /** Round-robin `df` to `defaultParallelism` partitions when its
    * input yields fewer — the entry of a CPU-heavy per-row kernel
    * behind a scan that lands in fewer splits than there are cores
    * (one parquet row group is one task however costly its rows are;
    * `files.maxPartitionBytes` sizes splits for bytes, not work).
    *
    * Decided at plan time without a job: only a map-only plan (no
    * exchange, no subquery) has a partition count before it runs, and
    * building its RDD runs nothing. Anything else — a shuffle whose
    * count AQE settles at run time, or an input already at least as
    * wide as the cores — is returned unchanged, so at local[1] this is
    * the identity. A streaming input is returned unchanged too: its
    * splits are decided per micro-batch.
    */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    lazy val plan = df.queryExecution.executedPlan
    def mapOnly = !plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    }
    if (cores > 1 && !df.isStreaming && mapOnly && plan.execute().getNumPartitions < cores)
      df.repartition(cores)
    else df
  }

  /** Z-order clustered write: range-partition AND sort by the
    * interleaved key. `repartitionByRange` samples the key
    * distribution, so files are even-sized regardless of dim skew;
    * the within-partition sort tightens per-file min/max to the
    * partition's Z-range. The helper key column is dropped before
    * write — layout is physical, the schema stays clean.
    */
  def zorderWrite(df: DataFrame, path: String, dimA: Column, dimB: Column,
                  numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("__z", ZOrderFunctions.zorder16(dimA, dimB))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)

  /** Clustering quality: per-file normalized span of a dimension,
    * averaged over files. 1.0 ≈ every file spans the whole value range
    * (min/max stats prune nothing); 1/numFiles is the single-dim-sort
    * ideal. Z-order lands both dims near sqrt(1/numFiles) — worse than
    * a dedicated sort on one dim, far better than its 1.0 on the other.
    * (Diagnostic used by tests/benchmarks, not a query operator: one
    * aggregate over the written files.)
    */
  def avgFileSpan(spark: SparkSession, path: String, dim: String): Double = {
    val df = spark.read.parquet(path)
      .select(col(dim).cast("double").as("v"),
        input_file_name().as("__f"))
    val per = df.groupBy(col("__f"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val Array(row) = per.agg(
      avg(col("hi") - col("lo")).as("avg_span"),
      max(col("hi")).as("gmax"), min(col("lo")).as("gmin")).collect()
    val range = row.getDouble(1) - row.getDouble(2)
    if (range == 0.0) 0.0 else row.getDouble(0) / range
  }

  /** Files whose [min, max] on `dim` intersects [lo, hi] — the number
    * a min/max-pruning scan would actually open. */
  def filesOverlapping(spark: SparkSession, path: String, dim: String,
                       lo: Double, hi: Double): Long = {
    val per = spark.read.parquet(path)
      .select(col(dim).cast("double").as("v"), input_file_name().as("__f"))
      .groupBy(col("__f"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    per.filter(col("mx") >= lo && col("mn") <= hi).count()
  }

  /** Compaction planner for the small-files problem: given a file
    * inventory `(key, bytes)` in layout-key order, assign consecutive
    * files to output bins of ~`targetBytes` each (the OPTIMIZE /
    * rewrite-manifest planning step — consecutive-by-key bins keep the
    * table's clustering, so min/max pruning survives the rewrite).
    *
    * Bin assignment is the cumulative-offset rule `bin =
    * (run_bytes − 1) div target` over the exact integer running total
    * ([[graft.dfw.WindowOps.prefixSumScalable]] — an inventory of
    * millions of files never meets a single-task window). Every bin
    * lands in [1 file, target + largest-file) bytes; the report is
    * one partial-agg rollup.
    *
    * @param keyCol UNIQUE orderable layout key (e.g. partition path)
    * @return one row per bin: `bin, n_files, bin_bytes, key_min,
    *         key_max`, ordered by bin
    */
  def compactionPlan(files: DataFrame, keyCol: Column, bytesCol: Column,
                     targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val run = graft.dfw.WindowOps.prefixSumScalable(
      files.select(keyCol.as("__k"), bytesCol.cast("long").as("__b")),
      col("__k"), Seq("b" -> col("__b")))
    run
      .withColumn("bin", expr(s"(run_b - 1) div ${targetBytes}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("__b")).as("bin_bytes"),
        min(col("__k")).as("key_min"), max(col("__k")).as("key_max"))
      .orderBy(col("bin"))
  }
}
