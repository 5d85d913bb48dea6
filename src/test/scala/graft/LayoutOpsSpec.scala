package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

import graft.sources.LayoutOps

/** `LayoutOps.spread` widens only a map-only input narrower than the
  * cores (the suite session is local[4]), and never changes rows.
  */
class LayoutOpsSpec extends SparkSpec {

  test("spread leaves an input with at least as many partitions as cores unchanged") {
    val df = spark.range(0, 1000, 1, 8).select(col("id"), (col("id") % 7).as("k"))
    LayoutOps.spread(df) should be theSameInstanceAs df
  }

  test("spread leaves an input behind an exchange unchanged (its width is decided at run time)") {
    val df = spark.range(0, 1000, 1, 1).groupBy((col("id") % 3).as("k")).count()
    LayoutOps.spread(df) should be theSameInstanceAs df
  }

  test("spread round-robins a one-partition parquet scan; rows are identical") {
    import spark.implicits._
    val path = Files.createTempDirectory("spread").resolve("t.parquet").toString
    (1 to 500).map(i => (i.toLong, s"row $i")).toDF("id", "s")
      .coalesce(1).write.parquet(path)
    val scan = spark.read.parquet(path)
    scan.rdd.getNumPartitions shouldBe 1

    // decided at plan time: no job runs inside spread
    spark.sparkContext.setJobGroup("spread-plan", "spread")
    val spread = try LayoutOps.spread(scan) finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup("spread-plan") shouldBe empty
    val cores = spark.sparkContext.defaultParallelism
    spread.queryExecution.optimizedPlan.collect { case r: Repartition => r.numPartitions } shouldBe
      Seq(cores)
    spread.rdd.getNumPartitions shouldBe cores
    spread.as[(Long, String)].collect().sorted shouldBe scan.as[(Long, String)].collect().sorted
  }
}
