package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory encoding the engine's scale
  * posture. Local runs pass cpus; cluster deployments inherit the
  * same semantic settings with executor-count-appropriate partition
  * numbers from spark-submit conf.
  */
object GraftSession {

  /** @param cpus parallelism for local mode (shuffle partitions track it) */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    tuned(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()

  /** Apply the engine's standard conf to any builder.
    *
    * - AQE on (runtime coalescing + skew-join splitting replaces
    *   hand-tuned partition counts at every scale);
    *  - shuffle partitions sized to the parallelism at hand, not the
    *    200 default (local) — on a cluster set ~2-3x total cores;
    *  - 128 MB scan splits: the Parquet row-group sweet spot, keeps
    *    100 TB scans at ~800k tasks instead of millions;
    *  - UTC session timezone for engine-independent timestamp logic;
    *  - nanos-as-long: some testdata vintages store the events table
    *    as TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    *    unless this flag maps it to long — set once here, not from
    *    inside a reader function (readers must not mutate session
    *    conf). `Tables.load` adapts whichever physical type the scan
    *    yields (TablesSchemaSpec pins all vintages).
    *  - small sorts in one partition: the AQE runtime rule
    *    [[graft.plans.SmallSortOnePartition]] turns a global sort whose
    *    input — measured from materialized query stages and driver-built
    *    local relations, with no `Generate` between them and the sort —
    *    is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    *    into a single-partition sort, dropping the range partitioner's
    *    sampling job (which re-ran the sort's input). A join whose
    *    broadcast side has unique keys counts as at most as many rows as
    *    its other side. It does nothing before a stage has run, after an
    *    explode, over a join of two big stages that is not broadcast or
    *    repeats a broadcast key, or above one advisory partition; it
    *    adds no setting of its own.
    *
    * Its companion at the kernel entries (no session setting either)
    * is [[graft.sources.LayoutOps.spread]]: it round-robins a map-only
    * input that yields fewer partitions than `defaultParallelism`, and
    * leaves anything at least that wide alone.
    */
  def tuned(b: SparkSession.Builder, parallelism: Int): SparkSession.Builder = b
    .withExtensions(_.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortOnePartition))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.shuffle.partitions", parallelism.toString)
    // AQE can only coalesce DOWN from the initial partition count, so
    // shuffle.partitions = cores caps every shuffle at (rows / cores)
    // rows per partition — measured at the sf10 second-decade proof:
    // 120M-row sorts in 32 partitions spill and turn a 10x data step
    // into a 20x time step. A generous initial number with AQE
    // coalescing is the posture that survives scale: small stages
    // coalesce back to ~cores, big stages keep enough partitions to
    // fit in memory. 8x cores locally; a cluster inherits the same
    // rule via spark-submit conf.
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (parallelism * 8).toString)
    // AQE sort-merge -> shuffled-hash conversion: OFF by default
    // upstream (threshold 0). Turning it on is runtime-SIZE-GUARDED —
    // the rewrite happens only when every post-shuffle partition of
    // the build side measures under the threshold — so unlike
    // preferSortMergeJoin=false (static estimates) it cannot OOM a
    // build side that turns out big; at any scale partitions are
    // bounded by AQE's advisory size. Skips the sort on both sides of
    // qualifying joins (guide §3.1). 64 MB = the advisory partition
    // size, i.e. "convert when the build side is ordinary-sized".
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (64L * 1024 * 1024).toString)
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
