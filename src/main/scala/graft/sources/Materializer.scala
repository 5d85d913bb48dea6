package graft.sources

import org.apache.spark.sql.DataFrame

/** The one mid-plan freeze of the iterative / multi-consumer operators
  * (graph rounds, the range-partitioned windows, the session table):
  * each derives an intermediate that several downstream executions
  * consume. Left lazy, every consumer re-derives it from the raw input,
  * and for the windows the re-derived range partitioning can even
  * DISAGREE between consumers (per-branch range sampling + AQE
  * coalescing; the round-12 partition-id bug).
  *
  * The freeze is `localCheckpoint()`: executor-local blocks, no extra
  * infrastructure, lost on executor failure. Keeping it in this one
  * module keeps the checkpoint policy in one place and gives every
  * freeze job the same call site (`localCheckpoint at
  * Materializer.scala`), which job-level tracing attributes to
  * checkpointing.
  */
object Materializer {

  /** Compute `df` once and return a plan that reads the stored rows. */
  def freeze(df: DataFrame): DataFrame = df.localCheckpoint()
}
