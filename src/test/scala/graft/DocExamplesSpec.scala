package graft

import org.apache.spark.sql.functions._

import graft.dfw.{Config, GridOps, MergeOps, PreProcess, SplitOps}
import graft.llm.{DedupOps, GraphOps, IvfIndex, SimilarityOps, TextOps}
import graft.streaming.StreamOps

/** Every code example in docs/OPERATORS.md, verbatim modulo fixtures —
  * the doc-rot gate (VERDICT r13 item 6): if a documented entry point
  * changes shape, this suite stops compiling. One example per family,
  * each executed against a small in-memory fixture.
  */
class DocExamplesSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "an entirely different document about spark and parquet tables"))
    .toDF("doc_id", "text")

  test("preprocessing facade example (OPERATORS.md ML preprocessing)") {
    val samples = (for {
      db <- Seq("d1"); cls <- 0 to 1; i <- 0 until 8
    } yield (db, "default", cls, (cls * 100 + i).toLong,
        Seq(i.toDouble, i * 2.0))).toDF("db", "descriptor", "cls", "sample_id", "features")
    val pp = PreProcess(samples, permutations = None,
      config = Config.ProcessConfig(center = true, extend = true,
        cv = 2, train = Seq(SplitOps.Frac(0.5))))
    pp.generator(trial = 0).count() shouldBe 16
    pp.cvData(trial = 0).count() should be > 0L
    GridOps.grid(spark, Seq(Seq(0.1, 1.0), Seq(1e-3, 1e-2))).count() shouldBe 4
  }

  test("dedup example (OPERATORS.md X1/X2)") {
    val kept = DedupOps.exactDedup(docs, md5(col("text")), "doc_id")
    kept.count() shouldBe 2 // docs 1 and 2 collapse
    val pairs = DedupOps.minHashLshPairs(docs, "doc_id", "text",
      shingleW = 3, numHashes = 16, bands = 4, num = 1, den = 2)
    val comps = DedupOps.clusterNearDups(pairs.select(col("doc1"), col("doc2")))
    comps.count() shouldBe 2 // the exact-duplicate pair, one cluster id each
  }

  test("ANN index lifecycle example (OPERATORS.md X3)") {
    val base = java.nio.file.Files.createTempDirectory("doc-ivf")
    val corpusDir = base.resolve("corpus").toString
    (0 until 30).map(i => (i.toLong, Seq.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val queries = corpus.filter(col("vec_id") < 3)

    val cents = IvfIndex.loadOrBuild(corpus, "vec_id", "embedding", 4, 2,
      base.resolve("ivf").toString)
    val listsPath = base.resolve("ivf_lists").toString
    val lists = IvfIndex.loadOrBuildLists(corpus, "vec_id", "embedding", 4, 2, cents, listsPath)
    SimilarityOps.ivfTopKIndexed(queries, lists, "vec_id", "embedding",
      k = 5, centroids = cents, nProbe = 4).count() should be > 0L

    // delete + compact half of the lifecycle
    val pre = IvfIndex.corpusSig(corpus)
    val corpusAfter = corpus.filter(col("vec_id") =!= 7L)
    IvfIndex.removeFromLists(Seq(7L).toDF("vec_id"), "vec_id", 4, 2,
      corpusAfter, listsPath, pre) shouldBe true
    IvfIndex.compactLists(spark, listsPath)
    spark.read.parquet(listsPath).filter(col("vec_id") === 7L).count() shouldBe 0L
  }

  test("text analysis example (OPERATORS.md X4)") {
    TextOps.tokenStats(docs, "doc_id", "text").count() shouldBe 3
    TextOps.trigramLangId(docs, "doc_id", "text", profiles = Seq(
      "en" -> Seq("the", "ing", "and"), "de" -> Seq("der", "sch", "ein")))
      .count() shouldBe 3
    TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 5, maxWords = 1 << 20).count() shouldBe 5
  }

  test("streaming batch-twin example (OPERATORS.md X6)") {
    val events = Seq(
      (1L, 10L, "view", 0.0, java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, 10L, "click", 0.0, java.sql.Timestamp.valueOf("2026-01-01 10:05:00")),
      (3L, 10L, "view", 0.0, java.sql.Timestamp.valueOf("2026-01-01 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    StreamOps.sessionizeBatch(events, gapMinutes = 30).count() shouldBe 2
  }

  test("graph example (OPERATORS.md g1-g9)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    GraphOps.pageRankInt(edges, "src", "dst", iters = 4).count() shouldBe 3
    val seeds = Seq(1L).toDF("seed")
    GraphOps.bfsHops(edges, "src", "dst", seeds, "seed", maxHops = 3)
      .count() shouldBe 3
    val wedges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 1L, 2L)).toDF("src", "dst", "w")
    GraphOps.ssspInt(wedges, "src", "dst", "w", seeds, "seed", rounds = 3)
      .count() shouldBe 3
  }

  test("multimodal image example (OPERATORS.md X5)") {
    val blobs = graft.llm.MultimodalOps.documentsAsImages(docs, "doc_id")
    val feats = graft.llm.MultimodalOps.imageFeatures(blobs, "doc_id", "blob")
    feats.count() shouldBe 3
    val small = graft.llm.MultimodalOps.downsampleImages(blobs, "doc_id", "blob", factor = 4)
    small.count() shouldBe 3
  }

  test("probe distillation example (OPERATORS.md stats, FitOps)") {
    val feats = Seq((1L, 10L, 2L, 3L), (2L, 20L, 4L, 7L), (3L, 30L, 6L, 11L),
      (4L, 40L, 9L, 15L)).toDF("doc_id", "x1", "x2", "y")
    val fit = graft.dfw.FitOps.ridgeFit2(feats, "x1", "x2", "y", lambda = 1e6)
    fit.count() shouldBe 1
    val bySrc = feats.withColumn("source", col("doc_id") % 2)
    graft.dfw.FitOps.ridgeFit2By(bySrc, Seq("source"), "x1", "x2", "y", 1e6)
      .count() shouldBe 2
    val scored = graft.dfw.FitOps.ridgeResiduals2(feats, Seq("doc_id"), "x1", "x2", "y", 1e6)
    scored.count() shouldBe 4
  }

  test("experimentation example (OPERATORS.md stats)") {
    val users = (1L to 300L).toDF("user_id")
    val srm = graft.dfw.AuditOps.sampleRatioCheck(users,
      pmod(xxhash64(col("user_id")), lit(3)) === 0, expectedAPpm = 333333L)
    srm.select("srm").as[Boolean].collect()(0) shouldBe false
  }

  test("CDC maintenance example (OPERATORS.md m1-m6)") {
    val state = Seq.empty[(Long, Long, String, String)].toDF("k", "version", "op", "name")
    val changes = Seq((1L, 1L, "update", "a"), (1L, 3L, "delete", "a"),
      (1L, 2L, "update", "b"), (2L, 1L, "update", "c")).toDF("k", "version", "op", "name")
    val next = MergeOps.applyChangesLwwVersioned(state, changes, "k", "version", "op")
    val live = MergeOps.latestState(next, "version", "op")
    live.select("k").as[Long].collect().toSeq shouldBe Seq(2L) // key 1 deleted at v3
  }

  test("named-query runner example (OPERATORS.md header)") {
    val df = graft.Queries.queryMap("q1_agg")(spark, "/root/testdata/sf0.001")
    df.count() should be > 0L
  }
}
