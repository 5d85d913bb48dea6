package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.apache.spark.sql.functions._

import graft.dfw.{QuantileOps, SplitOps, TimeSeriesOps, TransformOps}
import graft.llm.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** Degenerate-input sweep: at 100 TB an EMPTY input is routine (a
  * filter that matches nothing, a partition with no rows, a fresh
  * corpus before first ingest) — every operator must return an empty
  * result, never throw. Each case here collects on a 0-row frame with
  * the right schema.
  */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val noEvents = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
  private val noCat = Seq.empty[(String, Int)].toDF("cat", "y")

  test("text/dedup operators return empty on an empty corpus") {
    TextOps.packGreedy(noDocs, "doc_id", "text", 2048, 8).collect() shouldBe empty
    TextOps.paddingWaste(noDocs, "doc_id", "text", 16, 8, 8).count() shouldBe 2 // accounting rows with zero batches
    DedupOps.wordShingles(noDocs, "doc_id", "text", 5).collect() shouldBe empty
    DedupOps.minHashLshPairs(noDocs, "doc_id", "text", 5, 64, 16, 1, 2).collect() shouldBe empty
    DedupOps.clusterNearDups(Seq.empty[(Long, Long)].toDF("doc1", "doc2")).collect() shouldBe empty
    DedupOps.clusterNearDupsIncremental(
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
      Seq.empty[(Long, Long)].toDF("doc1", "doc2")).collect() shouldBe empty
  }

  test("mixture/encoding/aggregation operators return empty on empty input") {
    TransformOps.mixtureWeightsTemperature(noDocs, "text", 0.5).collect() shouldBe empty
    TransformOps.epochSchedule(noDocs, "text", lit(1L), 0.5, 1000L).collect() shouldBe empty
    TransformOps.targetEncodeLoo(noCat, "cat", "y").collect() shouldBe empty
    TransformOps.standardizeByGroup(noCat.withColumn("y", col("y").cast("long")),
      Seq("cat"), Seq("y")).collect() shouldBe empty
    TimeSeriesOps.rollingActiveUsers(noEvents, "ts", "user_id", 7).collect() shouldBe empty
    // the histogram's bucket spine exists even with no data: nb rows,
    // all-zero counts and fractions (the q_histogram ADVICE-r12 pin)
    val hist = QuantileOps.equiWidthHistogram(
      noCat.select(col("y").cast("double").as("v")), "v", 10).collect()
    hist.length shouldBe 10
    hist.map(_.getAs[Long]("cnt")).sum shouldBe 0L
    hist.map(_.getAs[Long]("frac_ppm")).sum shouldBe 0L
  }

  test("audio operators return empty on an empty blob table") {
    val noBlobs = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "blob")
    MultimodalOps.documentsAsAudio(noDocs, "doc_id").collect() shouldBe empty
    MultimodalOps.audioStats(noBlobs, "doc_id", "blob").collect() shouldBe empty
    MultimodalOps.audioEnergyWindows(noBlobs, "doc_id", "blob", 160).collect() shouldBe empty
    MultimodalOps.audioUpsample2x(noBlobs, "doc_id", "blob").collect() shouldBe empty
  }

  test("similarity operators return empty on empty lists/corpus") {
    val noLists = Seq.empty[(Long, Long, Seq[Long], Long)]
      .toDF("centroid_id", "vec_id", "__qv", "__n2")
    val cents = SimilarityOps.ivfCentroids(
      Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 2)
    SimilarityOps.cellOutliersIndexed(noLists, cents, "vec_id", 5).collect() shouldBe empty
    SimilarityOps.diversitySampleIndexed(noLists, "vec_id", 5,
      DedupOps.md5TokenHash).collect() shouldBe empty
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    SimilarityOps.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding", 5)
      .collect() shouldBe empty
  }

  test("split operators return empty on empty input") {
    SplitOps.hashSplit(noDocs, col("doc_id").cast("string"),
      Seq("train" -> 0.8, "test" -> 0.2), DedupOps.md5TokenHash)
      .collect() shouldBe empty
  }

  test("round-13 close audits/drift tests return empty on empty input") {
    import graft.dfw.AuditOps
    val noVals = Seq.empty[(Double, Boolean)].toDF("v", "is_ref")
    AuditOps.kAnonymity(noCat, Seq(col("cat")), Seq(2, 5)).collect() shouldBe empty
    AuditOps.joinProfile(noCat, "cat", noCat, "cat").head().getAs[Long]("left_rows") shouldBe 0L
    AuditOps.snapshotDiff(noDocs, noDocs, "doc_id", Seq("text")).collect() shouldBe empty
    AuditOps.giniConcentration(noCat.select(col("y")), col("y")).collect() shouldBe empty
    AuditOps.benfordAudit(noCat.select(col("y").cast("double").as("amt")), col("amt"))
      .collect() shouldBe empty
    AuditOps.blockJackknifeDiff(Seq.empty[(Int, Int, Long)].toDF("b", "arm", "x"),
      col("arm"), col("x"), col("b")).collect() shouldBe empty
    QuantileOps.ksTest(noVals, "v", col("is_ref")).collect() shouldBe empty
    QuantileOps.chi2Drift(noVals, col("v"), col("is_ref")).collect() shouldBe empty
  }

  test("round-13 close text/prep operators return empty on empty input") {
    val noSrc = Seq.empty[(String, String)].toDF("source", "text")
    TextOps.typeTokenStats(noSrc, "source", "text").collect() shouldBe empty
    TextOps.zipfSlope(noDocs, "text", 50).head().getAs[Long]("n_tokens") shouldBe 0L
    TextOps.keynessTopK(noSrc, "source", "text", 5).collect() shouldBe empty
    TransformOps.quotaSample(noSrc, "source", "text", 5).collect() shouldBe empty
    TransformOps.winsorizeStats(noCat.select(col("cat"), col("y").cast("double").as("v")),
      Seq("cat"), "v", p = 0.1).collect() shouldBe empty
    TransformOps.curriculumPhases(Seq.empty[(Long, Double, Long)].toDF("id", "d", "t"),
      "id", col("d"), col("t"), 4).collect() shouldBe empty
    TransformOps.mutualInfoRanking(noCat.select(col("cat"),
      col("y").cast("double").as("f")), "cat", Seq("f"), 4).collect() shouldBe empty
    TransformOps.featureHashAudit(noCat, Seq("cat"), 16,
      DedupOps.md5TokenHash).collect() shouldBe empty
    DedupOps.containmentPairs(DedupOps.wordShingles(noDocs, "doc_id", "text", 5),
      0L, Int.MaxValue).collect() shouldBe empty
    DedupOps.editDistanceJoin(noSrc.withColumn("id", lit(1L)), "id", "text",
      Seq(col("source")), 5).collect() shouldBe empty
    SimilarityOps.embeddingHealth(Seq.empty[(Int, Array[Float])]
      .toDF("label", "embedding"), "label", "embedding").collect() shouldBe empty
    graft.sources.LayoutOps.compactionPlan(Seq.empty[(String, Long)].toDF("k", "b"),
      col("k"), col("b"), 1000L).collect() shouldBe empty
    graft.llm.GraphOps.kCoreProbe(Seq.empty[(Long, Long)].toDF("src", "dst"),
      "src", "dst", k = 2, rounds = 2)
      .collect().map(_.getAs[Long]("n_nodes")).toSeq shouldBe Seq(0L, 0L)
  }

  test("round-13 time-series/experiment operators tolerate empty input") {
    import graft.dfw.AuditOps
    val noSeries = Seq.empty[(String, Long, Long)].toDF("series", "t", "v")
    TimeSeriesOps.trendOls(noSeries, "series", col("t"), col("v"))
      .collect() shouldBe empty
    TimeSeriesOps.lagAutocorr(noSeries, "series", col("t"), col("v"))
      .collect() shouldBe empty
    AuditOps.cupedAdjust(Seq.empty[(Int, Long, Long)].toDF("variant", "x", "y"),
      col("variant"), col("x"), col("y")).collect() shouldBe empty
    DedupOps.urlCanonDedup(Seq.empty[(Long, String)].toDF("id", "u"),
      col("u"), col("id")).collect() shouldBe empty
    // unkeyed final reduce: one all-null row rather than a throw
    val cs = withDefaultParallelism(spark.sparkContext, 2) {
      TimeSeriesOps.cusumChangepoint(Seq.empty[(Long, Long)].toDF("t", "v"), col("t"), col("v"))
        .collect()
    }
    cs.length shouldBe 1
    cs(0).isNullAt(cs(0).fieldIndex("cp_tick")) shouldBe true
    TextOps.pmiCollocations(noDocs, "doc_id", "text", 1L, 5).collect() shouldBe empty
    graft.dfw.AuditOps.calibrationAudit(
      Seq.empty[(Double, Long)].toDF("s", "y"), col("s"), col("y")).collect() shouldBe empty
    TransformOps.sampleWeightedTopK(
      Seq.empty[(Long, Long)].toDF("id", "w"), "id", "w", 5).collect() shouldBe empty
    val ck = graft.dfw.AuditOps.cohenKappa(
      Seq.empty[(String, String)].toDF("r1", "r2"), col("r1"), col("r2")).collect()
    ck.length shouldBe 1 // unkeyed reduce row; n=0, ratios null
    ck(0).getAs[Long]("n") shouldBe 0L
  }

  test("round-13 continuation operators tolerate empty input") {
    import graft.dfw.{AuditOps, MergeOps, PathOps}
    val noVals = Seq.empty[(Double, Boolean)].toDF("v", "is_ref")
    // unkeyed reduce: mannWhitney emits no row (empty cross of two
    // empty aggregates is fine either way — the pin is "no throw")
    noException should be thrownBy withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.mannWhitney(noVals, "v", col("is_ref")).collect()
    }
    QuantileOps.ksTestByGroup(noVals.withColumn("g", lit("a")), col("g"),
      "v", col("is_ref")).collect() shouldBe empty
    withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.quantileTreatmentEffect(
        Seq.empty[(Int, Double)].toDF("arm", "x"), col("arm"), "x", Seq(0.5)).collect()
    } shouldBe empty
    // documented contract (ADVICE r15): the bootstrap always returns
    // its single row — counts populated, CI columns null — instead of
    // silently vanishing when every replicate drops
    val pbm = AuditOps.poissonBootstrapMean(Seq.empty[(Long, Double)].toDF("k", "x"),
      col("k"), col("x"), reps = 40).collect()
    pbm.length shouldBe 1
    pbm(0).getAs[Long]("n") shouldBe 0L
    pbm(0).getAs[Long]("reps_used") shouldBe 0L
    AuditOps.bhAdjust(Seq.empty[(String, Double)].toDF("id", "p"),
      col("p"), Seq(col("id")), 0.05).collect() shouldBe empty
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    PathOps.topPaths(noEv, col("user_id"), col("ts"), col("event_type"),
      Seq(col("ts"), col("event_id"))).collect() shouldBe empty
    PathOps.markovAttribution(noEv, col("user_id"), col("ts"),
      col("event_type"), "purchase",
      Seq(col("ts"), col("event_id"))).collect() shouldBe empty
    val noParts = Seq.empty[(String, Long, Long)].toDF("g", "cnt", "s")
    MergeOps.mergePartials(noParts, noParts, Seq("g")).collect() shouldBe empty
    graft.llm.GraphOps.adamicAdar(Seq.empty[(Long, Long)].toDF("src", "dst"),
      "src", "dst").collect() shouldBe empty
    graft.llm.GraphOps.hitsInt(Seq.empty[(Long, Long)].toDF("src", "dst"),
      "src", "dst", rounds = 2).collect() shouldBe empty
    TextOps.rakeKeywords(noDocs, "doc_id", "text").collect() shouldBe empty
    TextOps.ngramNoveltyBySource(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", col("doc_id") % 2 === 0).collect() shouldBe empty
    TextOps.vocabFitBySource(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
      "doc_id", "text", "source").collect() shouldBe empty
    SplitOps.neymanAllocationSample(Seq.empty[(String, Long, Long)]
      .toDF("st", "x", "k"), col("st"), col("x"), col("k"), 10L)
      .collect() shouldBe empty
    AuditOps.minDetectableEffect(Seq.empty[(String, Long)].toDF("g", "x"),
      col("g"), col("x")).collect() shouldBe empty
    // unkeyed reduce over zero keys: one row, null stats, no throw
    val sk = AuditOps.partitionSkew(Seq.empty[(String, Long)].toDF("k", "x"),
      col("k")).collect()
    sk.length shouldBe 1
    sk(0).getAs[Long]("n_keys") shouldBe 0L
  }
}
