package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.{ZOrderFunctions, ZOrderInterleave}
import graft.sources.LayoutOps

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Naive bit-by-bit interleave — the spec the shift-mask rounds must match. */
  private def naive(a: Long, b: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 16) {
      out |= ((a >> i) & 1L) << (2 * i)
      out |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  test("spread16/interleave match the bit-by-bit definition") {
    val samples = Seq(0L, 1L, 2L, 3L, 0xFFFFL, 0xAAAAL, 0x5555L, 12345L, 65535L) ++
      (0 until 200).map(i => (i * 2654435761L) & 0xFFFFL)
    for (a <- samples; b <- Seq(0L, 7L, 0xFFFFL, (a * 31) & 0xFFFFL)) {
      ZOrderInterleave.interleave(a, b) shouldBe naive(a, b)
    }
  }

  test("interleave is monotone-compatible: prefix bits partition space into quadrants") {
    // top bit of the key is b's bit 15; next is a's bit 15 — so keys
    // sort by recursive quadrant, the property pruning relies on.
    ZOrderInterleave.interleave(0L, 0x8000L) should be > ZOrderInterleave.interleave(0xFFFFL, 0x7FFFL)
    ZOrderInterleave.interleave(0x8000L, 0L) should be > ZOrderInterleave.interleave(0x7FFFL, 0x7FFFL)
  }

  test("expression: codegen path equals interpreted eval and the Scala reference") {
    val df = spark.range(2048).select(
      (col("id") * 2654435761L % 65536).cast("int").as("a"),
      (col("id") * 40503 % 65536).cast("int").as("b"))
    val got = df.select(col("a"), col("b"),
        ZOrderFunctions.zorder16(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      r.getLong(2) shouldBe ZOrderInterleave.interleave(r.getInt(0).toLong, r.getInt(1).toLong)
    }
  }

  test("expression rejects non-integral input") {
    val df = Seq(("x", 1)).toDF("s", "i")
    an[Exception] should be thrownBy
      df.select(ZOrderFunctions.zorder16(col("s"), col("i"))).collect()
  }

  test("zorderWrite: both dimensions cluster; single-dim sort leaves the other unpruned") {
    // 64x64 grid, one row per cell, arriving in hash-scrambled order.
    val grid = spark.range(4096).select(
      (col("id") % 64).cast("int").as("a"),
      (col("id") / 64).cast("int").as("b"),
      (col("id") * 2654435761L % 4096).as("arrival"))
    val tmp = Files.createTempDirectory("zorder").toString
    val natural = s"$tmp/natural"; val zordered = s"$tmp/zorder"

    // "natural" layout: files cut along arrival order (no clustering).
    grid.repartitionByRange(8, col("arrival")).drop("arrival")
      .write.parquet(natural)
    LayoutOps.zorderWrite(grid.drop("arrival"), zordered,
      col("a"), col("b"), numFiles = 8)

    val (na, nb) = (LayoutOps.avgFileSpan(spark, natural, "a"),
      LayoutOps.avgFileSpan(spark, natural, "b"))
    val (za, zb) = (LayoutOps.avgFileSpan(spark, zordered, "a"),
      LayoutOps.avgFileSpan(spark, zordered, "b"))
    // arrival-ordered files span essentially the whole range of BOTH dims
    na should be > 0.9; nb should be > 0.9
    // z-ordered files cover compact rectangles: large reduction on both
    za should be < 0.6; zb should be < 0.6

    // and min/max pruning actually opens fewer files for a range probe
    val prunedZ = LayoutOps.filesOverlapping(spark, zordered, "a", 0, 7)
    val prunedN = LayoutOps.filesOverlapping(spark, natural, "a", 0, 7)
    prunedN shouldBe 8L // no pruning at all
    prunedZ should be < prunedN
  }

  test("compactionPlan: consecutive-by-key bins, sizes in [1 file, target+max)") {
    import spark.implicits._
    // 26 files of 10..260 bytes keyed a..z; target 300
    val files = ('a' to 'z').zipWithIndex
      .map { case (k, i) => (k.toString, (i + 1) * 10L) }.toDF("k", "b")
    val plan = LayoutOps.compactionPlan(files, col("k"), col("b"), targetBytes = 300L).collect()
    plan.map(_.getAs[Long]("n_files")).sum shouldBe 26L
    plan.map(_.getAs[Long]("bin_bytes")).sum shouldBe (10L to 260L by 10).sum
    // bins are consecutive: each bin's key_min follows the previous key_max
    val ordered = plan.sortBy(_.getAs[Long]("bin"))
    ordered.sliding(2).foreach { case Array(p, q) =>
      p.getAs[String]("key_max") should be < q.getAs[String]("key_min")
    }
    // no bin exceeds target + largest file
    all(ordered.map(_.getAs[Long]("bin_bytes"))) should be < (300L + 260L)
  }

  test("compactionPlan groups many small files into one bin") {
    import spark.implicits._
    val files = (1 to 100).map(i => (f"f$i%03d", 10L)).toDF("k", "b")
    val plan = LayoutOps.compactionPlan(files, col("k"), col("b"), targetBytes = 500L).collect()
    plan.length shouldBe 2
    all(plan.map(_.getAs[Long]("n_files"))) shouldBe 50L
  }
}
