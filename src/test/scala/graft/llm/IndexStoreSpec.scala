package graft.llm

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IndexStore tombstone-DELETE protocol (VERDICT r14 item 2,
  * ADVICE r14): delete hides rows from every read, a replayed delete
  * is idempotent, a rebuild clears tombstones, compact folds them into
  * the stored data while preserving the sidecar, re-appending a
  * deleted id resurrects it (pruneTombstones), mixed tombstone id
  * columns are refused, and a crash-truncated tombstone directory
  * (no committed files) reads as "no tombstones" instead of throwing.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase() = Files.createTempDirectory("index-store-spec")

  /** A file-backed corpus (so signatures are file-metadata based). */
  private def writeCorpus(dir: String, ids: Range): DataFrame = {
    ids.map(i => (i.toLong, s"payload-$i")).toDF("id", "payload")
      .write.mode("append").parquet(dir)
    spark.read.parquet(dir)
  }

  private def idsOf(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def sidecarOf(idx: String): String =
    Files.readString(Paths.get(idx, "_graft_meta.json"))

  private def buildIdentity(corpus: DataFrame, idx: String): DataFrame =
    IndexStore.loadOrBuild(corpus, "identity", idx, rebuild = false)(corpus)

  test("deleteFrom hides rows from read/loadOrBuild; replay is idempotent; data files untouched") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 20)
    idsOf(buildIdentity(c0, idx)) shouldBe (0L until 20L).toSet

    val preSig = IndexStore.corpusSignature(c0)
    val dataFiles = Files.list(Paths.get(idx)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

    // "delete" ids 0..4 from the corpus (model: a filtered view stands
    // in for the post-delete corpus store)
    val after = c0.filter(col("id") >= 5)
    val deleted = (0L until 5L).toDF("id")
    IndexStore.deleteFrom(deleted, "id", "identity", idx, after, preSig) shouldBe true
    idsOf(IndexStore.read(spark, idx)) shouldBe (5L until 20L).toSet
    // warm load over the post-delete corpus reuses (sidecar was
    // re-stamped) and subtracts the tombstones
    idsOf(buildIdentity(after, idx)) shouldBe (5L until 20L).toSet

    // the stored index data was NOT rewritten — O(delta) means
    // tombstones only
    dataFiles.foreach(p => assert(Files.exists(p), s"data file $p was rewritten by delete"))

    // replayed delete (same ids, same post-delete state): sidecar now
    // reflects the post-delete corpus, so the stale-guard path rejects
    // a replay against preSig...
    IndexStore.deleteFrom(deleted, "id", "identity", idx, after, preSig) shouldBe false
    // ...and a replay with the current signature is harmless by value
    IndexStore.deleteFrom(deleted, "id", "identity", idx, after,
      IndexStore.corpusSignature(after)) shouldBe true
    idsOf(IndexStore.read(spark, idx)) shouldBe (5L until 20L).toSet
  }

  test("a (re)built index reads back with no schema job, under the schema a fresh read infers") {
    val base = freshBase()
    val corpus = writeCorpus(base.resolve("corpus").toString, 0 until 10)
    val idx = base.resolve("idx").toString
    // non-nullable and nested fields: the frame's own schema differs
    // from what a parquet read reports until every field is nullable
    def build = corpus.select(col("id"), lit(1).as("one"),
      array(col("id").cast("float")).as("vec"),
      struct(col("payload"), lit(2L).as("k")).as("s"),
      map(lit("k"), col("id")).as("m"))
    val (_, writeJobs) = jobsDuring(
      build.write.mode("overwrite").parquet(base.resolve("bare").toString))
    for (_ <- 1 to 2) { // a first build, then a forced rebuild over it
      val (got, jobs) = jobsDuring(IndexStore.loadOrBuild(corpus, "typed", idx, rebuild = true)(build))
      jobs shouldBe writeJobs
      got.schema shouldBe spark.read.parquet(idx).schema
    }
    val (again, readJobs) = jobsDuring(IndexStore.read(spark, idx))
    readJobs shouldBe 0
    idsOf(again) shouldBe (0L until 10L).toSet
  }

  test("deleteFrom stale/missing sidecar returns false and writes nothing") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 10)

    // no index at all
    IndexStore.deleteFrom((0L to 2L).toDF("id"), "id", "identity", idx,
      c0, "files:999:deadbeef") shouldBe false

    buildIdentity(c0, idx).count()
    // wrong params
    IndexStore.deleteFrom((0L to 2L).toDF("id"), "id", "other-params", idx,
      c0, IndexStore.corpusSignature(c0)) shouldBe false
    // stale signature
    IndexStore.deleteFrom((0L to 2L).toDF("id"), "id", "identity", idx,
      c0, "files:999:deadbeef") shouldBe false
    Files.exists(Paths.get(idx, "_graft_tombstones")) shouldBe false
    idsOf(IndexStore.read(spark, idx)) shouldBe (0L until 10L).toSet
  }

  test("rebuild clears tombstones: a fresh build subsumes prior deletes") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 10)
    buildIdentity(c0, idx).count()
    IndexStore.deleteFrom((0L to 3L).toDF("id"), "id", "identity", idx,
      c0.filter(col("id") > 3), IndexStore.corpusSignature(c0)) shouldBe true
    Files.exists(Paths.get(idx, "_graft_tombstones")) shouldBe true

    // corpus drifts (append) → next load rebuilds → tombstones gone,
    // every current-corpus row visible
    val grown = writeCorpus(corpusDir, 100 until 105)
    idsOf(buildIdentity(grown, idx)) shouldBe ((0L until 10L) ++ (100L until 105L)).toSet
    Files.exists(Paths.get(idx, "_graft_tombstones")) shouldBe false
  }

  test("compact folds tombstones into storage, preserves the sidecar, drops the tombstone table") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 20)
    buildIdentity(c0, idx).count()
    val after = c0.filter(col("id") % 2 === 0)
    val preSig = IndexStore.corpusSignature(c0)
    IndexStore.deleteFrom(c0.filter(col("id") % 2 =!= 0).select("id"), "id",
      "identity", idx, after, preSig) shouldBe true

    val sidecarBefore = sidecarOf(idx)
    val visibleBefore = idsOf(IndexStore.read(spark, idx))
    IndexStore.compact(spark, idx)

    // logical content unchanged, physical dead rows gone
    idsOf(IndexStore.read(spark, idx)) shouldBe visibleBefore
    idsOf(spark.read.parquet(idx)) shouldBe visibleBefore
    sidecarOf(idx) shouldBe sidecarBefore
    Files.exists(Paths.get(idx, "_graft_tombstones")) shouldBe false
    // no parked .old / temp siblings left behind
    Files.list(Paths.get(idx).getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_ != "idx").toSeq shouldBe Seq("corpus")

    // warm load after compact still reuses (sidecar intact)
    idsOf(buildIdentity(after, idx)) shouldBe visibleBefore
    // compact with no tombstones is a no-op
    IndexStore.compact(spark, idx)
    idsOf(IndexStore.read(spark, idx)) shouldBe visibleBefore
  }

  test("delete-then-reinsert: pruneTombstones resurrects re-appended ids (ADVICE r14)") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 10)
    buildIdentity(c0, idx).count()
    IndexStore.deleteFrom((0L to 2L).toDF("id"), "id", "identity", idx,
      c0.filter(col("id") > 2), IndexStore.corpusSignature(c0)) shouldBe true
    idsOf(IndexStore.read(spark, idx)) shouldBe (3L until 10L).toSet

    // the append path re-inserts id 1: its index rows append, then the
    // tombstone prunes — BEFORE the prune the anti-join would hide it
    Seq((1L, "payload-1-v2")).toDF("id", "payload").write.mode("append").parquet(idx)
    IndexStore.pruneTombstones(spark, idx, Seq(1L).toDF("id"), "id")
    idsOf(IndexStore.read(spark, idx)) shouldBe ((3L until 10L).toSet + 1L)
    // ids 0 and 2 stay deleted — the prune is surgical
    IndexStore.compact(spark, idx)
    idsOf(spark.read.parquet(idx)) shouldBe ((3L until 10L).toSet + 1L)
  }

  test("mixed tombstone id columns are refused (negative path)") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 10)
    buildIdentity(c0, idx).count()
    val sig = IndexStore.corpusSignature(c0)
    IndexStore.deleteFrom((0L to 1L).toDF("id"), "id", "identity", idx, c0, sig) shouldBe true
    val ex = intercept[IllegalArgumentException] {
      IndexStore.deleteFrom((2L to 3L).toDF("other_id"), "other_id", "identity",
        idx, c0, IndexStore.corpusSignature(c0))
    }
    ex.getMessage should include("refusing to append 'other_id'")
  }

  test("degenerate deletes: empty id set is a no-op; unknown ids subtract nothing; delete-all leaves an empty view") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 8)
    buildIdentity(c0, idx).count()

    // empty delta: protocol succeeds, nothing changes (an empty
    // tombstone write leaves no committed data files → treated as none)
    IndexStore.deleteFrom(Seq.empty[Long].toDF("id"), "id", "identity", idx,
      c0, IndexStore.corpusSignature(c0)) shouldBe true
    idsOf(IndexStore.read(spark, idx)) shouldBe (0L until 8L).toSet

    // ids that never existed in the index: harmless anti-join misses
    IndexStore.deleteFrom(Seq(999L, 1000L).toDF("id"), "id", "identity", idx,
      c0, IndexStore.corpusSignature(c0)) shouldBe true
    idsOf(IndexStore.read(spark, idx)) shouldBe (0L until 8L).toSet

    // delete EVERY id: view is empty but readable; compact leaves a
    // readable empty table with the sidecar intact
    IndexStore.deleteFrom((0L until 8L).toDF("id"), "id", "identity", idx,
      c0.limit(0), IndexStore.corpusSignature(c0)) shouldBe true
    IndexStore.read(spark, idx).count() shouldBe 0L
    val sidecarBefore = sidecarOf(idx)
    IndexStore.compact(spark, idx)
    IndexStore.read(spark, idx).count() shouldBe 0L
    sidecarOf(idx) shouldBe sidecarBefore
  }

  test("crash-truncated tombstone dir (no committed files) reads as no tombstones") {
    val base = freshBase()
    val corpusDir = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val c0 = writeCorpus(corpusDir, 0 until 10)
    buildIdentity(c0, idx).count()
    // simulate a crash during the first tombstone append: the dir
    // exists with only a _temporary staging subtree
    Files.createDirectories(Paths.get(idx, "_graft_tombstones", "_temporary"))
    idsOf(IndexStore.read(spark, idx)) shouldBe (0L until 10L).toSet
    IndexStore.compact(spark, idx) // must not throw; no-op
    idsOf(IndexStore.read(spark, idx)) shouldBe (0L until 10L).toSet
  }
}
