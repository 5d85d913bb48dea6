package graft

import org.apache.spark.sql.functions._

import graft.dfw.WindowOps
import graft.llm.GraphOps
import graft.sources.Materializer

/** The materialization strategy must be a pure execution choice: every
  * operator that freezes an intermediate has to produce BIT-IDENTICAL
  * output whether the freeze is a localCheckpoint, a reliable
  * checkpoint, a bucketed catalog table, or (where correctness allows)
  * no freeze at all. These tests run the same op under multiple
  * strategies and compare exactly — the cluster-grade paths are code,
  * not comments.
  */
class MaterializerSpec extends SparkSpec {
  import spark.implicits._

  // 60-node graph with hubs, chains and a disconnected clique
  private lazy val edges = {
    val chain = (0L until 20L).map(i => (i, i + 1))
    val hub = (1L to 15L).map(i => (100L, 100L + i))
    val clique = for (a <- 200L to 205L; b <- 200L to 205L if a < b) yield (a, b)
    (chain ++ hub ++ clique).toDF("src", "dst")
  }

  private def ranks(mat: Materializer): Seq[(Long, Long)] =
    GraphOps.pageRankInt(edges, "src", "dst", iters = 3, mat = mat)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("pageRankInt: bucketed-table freeze is bit-identical to localCheckpoint") {
    ranks(Materializer.Bucketed(4)) shouldBe ranks(Materializer.Local)
  }

  test("pageRankInt: lazy (no freeze) still computes the same ranks") {
    ranks(Materializer.Lazy) shouldBe ranks(Materializer.Local)
  }

  test("Materializer.Reliable fail-fasts without a checkpoint dir") {
    // declared BEFORE the reliable-path test: a checkpoint dir, once
    // set on the shared session, cannot be unset. Guarded anyway so
    // suite-order changes degrade to vacuous-pass, not false-fail.
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      an[IllegalArgumentException] should be thrownBy
        ranks(Materializer.Reliable)
  }

  test("pageRankInt: reliable checkpoint path is bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    ranks(Materializer.Reliable) shouldBe ranks(Materializer.Local)
  }

  test("minLabelPropagate: bucketed freeze matches local on converged labels") {
    def labels(mat: Materializer) =
      GraphOps.minLabelPropagate(edges, "src", "dst", iters = 21, mat = mat)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    labels(Materializer.Bucketed(3)) shouldBe labels(Materializer.Local)
  }

  test("triangleStats: bucketed freeze matches local on the full census") {
    def census(mat: Materializer) =
      GraphOps.triangleStats(edges, "src", "dst", mat = mat).collect().head.toSeq
    census(Materializer.Bucketed(2)) shouldBe census(Materializer.Local)
  }

  test("orderedAnalyticsScalable: bucketed freeze equals localCheckpoint row-for-row") {
    val rows =
      (0 until 37).map(i => ("A", i.toLong, (i * 7919 % 100).toDouble)) ++
      (0 until 23).map(i => ("B", 100L + i, (i * 104729 % 50).toDouble))
    val df = rows.toDF("cls", "id", "v").repartition(5)
    def run(mat: Materializer) = WindowOps.orderedAnalyticsScalable(
        df, Seq("cls"), Seq(col("v"), col("id")), "v", nTiles = 4, numParts = 8, mat = mat)
      .select(col("cls"), col("id"), col("prev"), col("next"), col("rn"),
        col("n"), col("tile"), round(col("cd"), 9).as("cd"))
      .orderBy(col("cls"), col("id"))
      .collect().map(_.toSeq).toSeq
    run(Materializer.Bucketed(4)) shouldBe run(Materializer.Local)
  }

  test("orderedAnalyticsScalable rejects Lazy: an unfrozen exchange can diverge per consumer") {
    an[IllegalArgumentException] should be thrownBy
      WindowOps.orderedAnalyticsScalable(
        Seq(("A", 1L, 1.0)).toDF("cls", "id", "v"),
        Seq("cls"), Seq(col("v")), "v", nTiles = 2, numParts = 2,
        mat = Materializer.Lazy)
  }

  test("Bucketed freeze leaves a real sorted bucketed table behind") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val out = Materializer.Bucketed(2, prefix = "graft_mattest").freeze(df, Seq("k"), "probe")
    out.orderBy("k").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    val tables = spark.catalog.listTables().collect().map(_.name)
    tables.exists(_.startsWith("graft_mattest_probe_")) shouldBe true
  }
}
