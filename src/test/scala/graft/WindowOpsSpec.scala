package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dfw.WindowOps

/** The two-phase analytic evaluation must equal the direct
  * per-class window exactly — including partition-boundary lag/lead
  * rows, ntile's fill rule, and cume_dist — on fixtures that span
  * several range partitions per class.
  */
class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  test("orderedAnalyticsScalable equals the direct window on every function") {
    // 2 classes × 37/23 rows (not divisible by 4 → uneven ntile fill),
    // spread over 8 range partitions so classes cross boundaries
    val rows =
      (0 until 37).map(i => ("A", i.toLong, (i * 7919 % 100).toDouble)) ++
      (0 until 23).map(i => ("B", 100L + i, (i * 104729 % 50).toDouble))
    val df = rows.toDF("cls", "id", "v").repartition(5)

    val w = Window.partitionBy(col("cls")).orderBy(col("v"), col("id"))
    val direct = df.select(col("cls"), col("id"),
        lag(col("v"), 1).over(w).as("prev"),
        lead(col("v"), 1).over(w).as("next"),
        rank().over(w).cast("long").as("rn"),
        ntile(4).over(w).cast("long").as("tile"),
        round(cume_dist().over(w), 9).as("cd"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap

    val scalable = withDefaultParallelism(spark.sparkContext, 8) {
      WindowOps.orderedAnalyticsScalable(
          df, Seq("cls"), Seq(col("v"), col("id")), "v", nTiles = 4)
        .select(col("cls"), col("id"), col("prev"), col("next"), col("rn"),
          col("tile"), round(col("cd"), 9).as("cd"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    }

    scalable.keySet shouldBe direct.keySet
    for ((k, v) <- direct) withClue(s"row $k: ") { scalable(k) shouldBe v }
  }

  test("orderedAnalyticsScalable: a 99%-skewed class spans partitions and stays window-exact") {
    // class A holds 5000 of 5050 rows: under a class-keyed exchange it
    // would be ONE task at any partition count; the range key appends the
    // order columns, so the partitioner balances by total rows instead
    val rows =
      (0 until 5000).map(i => ("A", i.toLong, (i * 7919 % 1000).toDouble)) ++
      (0 until 50).map(i => ("B", 10000L + i, (i * 104729 % 50).toDouble))
    val df = rows.toDF("cls", "id", "v").repartition(7)
    // the mechanism: the same range exchange the operator freezes
    // splits class A across many partitions
    val pids = df.repartitionByRange(8, col("cls"), col("v"), col("id"))
      .select(col("cls"), spark_partition_id().as("pid"))
      .filter(col("cls") === "A").select("pid").distinct().count()
    pids should be >= 4L
    // and the fixed-up analytics still equal the direct window exactly
    val w = Window.partitionBy(col("cls")).orderBy(col("v"), col("id"))
    val direct = df.select(col("cls"), col("id"),
        lag(col("v"), 1).over(w).as("prev"),
        lead(col("v"), 1).over(w).as("next"),
        rank().over(w).cast("long").as("rn"),
        ntile(10).over(w).cast("long").as("tile"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val scalable = withDefaultParallelism(spark.sparkContext, 8) {
      WindowOps.orderedAnalyticsScalable(
          df, Seq("cls"), Seq(col("v"), col("id")), "v", nTiles = 10)
        .select(col("cls"), col("id"), col("prev"), col("next"), col("rn"), col("tile"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    }
    scalable.keySet shouldBe direct.keySet
    for ((k, v) <- direct) withClue(s"row $k: ") { scalable(k) shouldBe v }
  }

  test("orderedAnalyticsScalable handles classes smaller than the tile count") {
    val df = Seq(("A", 1L, 5.0), ("A", 2L, 3.0), ("B", 3L, 1.0))
      .toDF("cls", "id", "v")
    val got = WindowOps.orderedAnalyticsScalable(
        df, Seq("cls"), Seq(col("v"), col("id")), "v", nTiles = 4)
      .select("cls", "id", "rn", "n", "tile")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    got(("A", 2L)) shouldBe ((1L, 2L, 1L)) // v=3 ranks first
    got(("A", 1L)) shouldBe ((2L, 2L, 2L))
    got(("B", 3L)) shouldBe ((1L, 1L, 1L))
  }

  test("prefixMaxScalable equals the direct global running-max window") {
    import spark.implicits._
    // watermark-style series: mostly increasing with late dips, spread
    // over several range partitions so the prefix lift is exercised
    val rows = (0 until 500).map { i =>
      (i.toLong, (i * 13 % 97 + (if (i % 7 == 0) -40 else 0)).toLong)
    }
    val df = rows.toDF("id", "v").repartition(6)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val direct = df.select(col("id"), max(col("v")).over(w).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = withDefaultParallelism(spark.sparkContext, 8) {
      WindowOps.prefixMaxScalable(df, col("id"), col("v"))
        .select(col("id"), col("run_max"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    got shouldBe direct
  }

  test("prefixSumScalable equals the direct running-sum window on two columns") {
    import spark.implicits._
    val rows = (0 until 400).map(i => (i.toLong, (i % 7).toLong, (i % 3).toLong))
    val df = rows.toDF("id", "a", "b").repartition(6)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val direct = df.select(col("id"), sum(col("a")).over(w).as("ra"), sum(col("b")).over(w).as("rb"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = withDefaultParallelism(spark.sparkContext, 8) {
      WindowOps.prefixSumScalable(df, col("id"), Seq("a" -> col("a"), "b" -> col("b")))
        .select(col("id"), col("run_a"), col("run_b"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    got shouldBe direct
  }
}
