package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dfw.SplitOps

/** W1–W5 semantics pinned against the reference's own worked examples
  * (`/root/reference/DFW/preprocess.py:161-191`).
  */
class SplitOpsSpec extends SparkSpec {
  import spark.implicits._

  /** A single class of n samples already in permutation order. */
  private def ranked(n: Int): DataFrame =
    SplitOps.rankByPermutation(
      (0 until n).map(i => ("c0", i.toLong)).toDF("cls", "sample_id"),
      Seq("cls"), Seq(col("sample_id")))

  private def foldsOf(n: Int, cv: Int): Map[Int, Seq[Long]] =
    SplitOps.linspaceFolds(ranked(n).withColumn("train_n", col("n")), cv)
      .select("fold", "pos").collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap

  test("W3 linspace folds reproduce the reference's n=8, cv=5 example") {
    // preprocess.py:186: [[0],[1,2],[3],[4,5],[6,7]]
    foldsOf(8, 5) shouldBe Map(
      0 -> Seq(0L), 1 -> Seq(1L, 2L), 2 -> Seq(3L), 3 -> Seq(4L, 5L), 4 -> Seq(6L, 7L))
  }

  test("W3 linspace folds reproduce the reference's n=7, cv=5 example") {
    // preprocess.py:187: [[0],[1],[2,3],[4],[5,6]]
    foldsOf(7, 5) shouldBe Map(
      0 -> Seq(0L), 1 -> Seq(1L), 2 -> Seq(2L, 3L), 3 -> Seq(4L), 4 -> Seq(5L, 6L))
  }

  test("W3 folds are disjoint, cover all positions, and sizes differ by <= 1") {
    for (n <- Seq(5, 9, 16, 23); cv <- Seq(2, 3, 5)) {
      val folds = foldsOf(n, cv)
      val all = folds.values.flatten.toSeq.sorted
      withClue(s"n=$n cv=$cv: ") {
        all shouldBe (0L until n.toLong)
        folds.keySet shouldBe (0 until cv).toSet
        val sizes = folds.values.map(_.size)
        (sizes.max - sizes.min) should be <= 1
      }
    }
  }

  test("W4 rotation folds: fold i tests sample pos = i mod n, trains the rest") {
    val rows = SplitOps.rotationFolds(
        ranked(3).filter(col("rn") <= 3).withColumn("train_n", lit(3L)), cv = 5)
      .select("fold", "pos", "cv_role").collect()
    rows.length shouldBe 15 // 3 samples x 5 folds
    rows.foreach { r =>
      val expected = if (r.getLong(1) == r.getInt(0) % 3) "test" else "train"
      r.getString(2) shouldBe expected
    }
  }

  test("roundHalfEven matches Python round() on halves") {
    val got = spark.range(1).select(
      SplitOps.roundHalfEven(lit(0.5)).as("a"),
      SplitOps.roundHalfEven(lit(1.5)).as("b"),
      SplitOps.roundHalfEven(lit(2.5)).as("c"),
      SplitOps.roundHalfEven(lit(3.5)).as("d"),
      SplitOps.roundHalfEven(lit(2.4)).as("e"),
      SplitOps.roundHalfEven(lit(2.6)).as("f")).head()
    (0 to 5).map(got.getLong) shouldBe Seq(0L, 2L, 2L, 4L, 2L, 3L)
  }

  test("W2 train-size clamps match preprocess.py:161-173") {
    def ts(n: Long, spec: SplitOps.TrainSpec, cv: Int = 5): Long =
      spark.range(1).select(SplitOps.trainSizeCol(lit(n), spec, cv)).head().getLong(0)

    ts(10, SplitOps.All) shouldBe 10                // -1 => everything
    ts(10, SplitOps.Frac(0.5)) shouldBe 5           // round(10*0.5)
    ts(10, SplitOps.Frac(0.25)) shouldBe 5          // round=2 < cv => min(n, cv)
    ts(3, SplitOps.Frac(0.5)) shouldBe 3            // round=2 < cv => min(3, 5)
    ts(10, SplitOps.Frac(0.45)) shouldBe 5          // banker's round(4.5)=4, then 4 < cv => min(n, cv)
    ts(10, SplitOps.Frac(0.45), cv = 2) shouldBe 4  // banker's: round(4.5) = 4 (HALF_UP would give 5)
    ts(10, SplitOps.Frac(0.55), cv = 2) shouldBe 6  // banker's: round(5.5) = 6
    ts(10, SplitOps.Count(7)) shouldBe 7            // min(7,10) >= cv
    ts(10, SplitOps.Count(3)) shouldBe 5            // min(3,10) < cv => min(cv, n)
    ts(3, SplitOps.Count(100)) shouldBe 3           // min(100,3)=3 < cv => min(5,3)
  }

  test("W1 split: exactly train_size rows are train, the prefix in rank order") {
    val split = SplitOps.trainTestSplit(ranked(10), SplitOps.Frac(0.7), cv = 5)
    val train = split.filter(col("role") === "train").select("pos").as[Long].collect().sorted
    train shouldBe (0L until 7L).toArray // round(10*0.7)=7, prefix of permutation order
    split.filter(col("role") === "test").count() shouldBe 3
  }

  test("scalable two-phase rank matches the single-window rank exactly") {
    val df = (0 until 500).map { i =>
      (s"c${i % 3}", i.toLong, ((i * 2654435761L) % 97L))
    }.toDF("cls", "sample_id", "perm")
    val plain = SplitOps.rankByPermutation(df, Seq("cls"), Seq(col("perm"), col("sample_id")))
      .select("cls", "sample_id", "rn", "pos", "n")
    withDefaultParallelism(spark.sparkContext, 7) {
      SplitOps.adaptiveRangeParts(df) shouldBe 7
      val scalable = SplitOps.rankByPermutationScalable(df, Seq("cls"),
          Seq(col("perm"), col("sample_id")))
        .select("cls", "sample_id", "rn", "pos", "n")
      plain.exceptAll(scalable).count() shouldBe 0
      scalable.exceptAll(plain).count() shouldBe 0
    }
  }

  test("adaptiveRangeParts: clamp band holds for honest and garbage estimates (r19)") {
    val cores = spark.sparkContext.defaultParallelism
    // tiny honest input -> FLOOR = cores, never the AQE-inflated
    // initialPartitionNum (the r19 256-floor defect, OPTIMIZATION_r19.md §6)
    val tiny = (0 until 100).map(i => (s"c${i % 3}", i.toLong)).toDF("cls", "sample_id")
    SplitOps.adaptiveRangeParts(tiny) shouldBe cores
    // garbage-HIGH estimate: size-only stats MULTIPLY inner-join sides,
    // so a self-join's estimate explodes far past the data -> CEILING
    // = 32 x cores, not the estimate
    val wide = (0 until 1000).map(i => (s"c${i % 3}", i.toLong)).toDF("cls", "sample_id")
    val joined = wide.as("a").join(wide.as("b"), $"a.cls" === $"b.cls")
    val est = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est / (2L * 1024 * 1024) > 32L * cores,
      s"fixture no longer overestimates (est=$est) — rebuild it bigger")
    SplitOps.adaptiveRangeParts(joined) shouldBe 32 * cores
    // and the rank output is identical at any count inside the band
    // (total-order rank + offset fix-up is partition-count-free)
    val df = (0 until 500).map { i =>
      (s"c${i % 3}", i.toLong, (i * 2654435761L) % 97L)
    }.toDF("cls", "sample_id", "perm")
    val atFloor = SplitOps.rankByPermutationScalable(df, Seq("cls"),
      Seq(col("perm"), col("sample_id")))
    withDefaultParallelism(spark.sparkContext, 32 * cores) {
      SplitOps.adaptiveRangeParts(df) shouldBe 32 * cores
      val atCeil = SplitOps.rankByPermutationScalable(df, Seq("cls"),
        Seq(col("perm"), col("sample_id")))
      atFloor.select("cls", "sample_id", "rn", "pos", "n")
        .exceptAll(atCeil.select("cls", "sample_id", "rn", "pos", "n"))
        .count() shouldBe 0
    }
  }

  test("W5 offsets accumulate preceding train sizes in class order") {
    val perClass = Seq(("a", 3L), ("b", 5L), ("c", 2L)).toDF("cls", "train_size")
    val got = SplitOps.classOffsets(perClass, "cls", "train_size")
      .select("cls", "offset").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("a" -> 0L, "b" -> 3L, "c" -> 8L)
  }

  test("hashSplit: membership is stable under data growth; fractions land near target") {
    import org.apache.spark.sql.functions.{col, xxhash64, pmod, lit}
    def h(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(1000000L))
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val small = (1L to 1000L).toDF("id")
    val big = (1L to 5000L).toDF("id")
    val mSmall = SplitOps.hashSplit(small, col("id"), fr, h)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val mBig = SplitOps.hashSplit(big, col("id"), fr, h)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every original row keeps its split after the corpus grows 5x —
    // the property rank splits cannot give
    mSmall.foreach { case (id, s) => mBig(id) shouldBe s }
    val counts = mBig.values.groupBy(identity).view.mapValues(_.size).toMap
    counts("train").toDouble / 5000 shouldBe (0.8 +- 0.03)
    counts("val").toDouble / 5000 shouldBe (0.1 +- 0.02)
    counts("test").toDouble / 5000 shouldBe (0.1 +- 0.02)
  }

  test("hashSplit on a near-dup cluster key: duplicates co-travel, no cluster spans splits") {
    // three near-identical docs (one cluster) + two singletons
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tonight"),
      (3L, "the quick brown fox jumps over the lazy dog again today"),
      (10L, "completely different content about spark physical plans"),
      (11L, "unrelated text concerning duckdb oracle replay mechanics")
    ).toDF("doc_id", "text")
    val clusters = graft.llm.DedupOps.clusterNearDups(
      graft.llm.DedupOps.jaccardPairs(
        graft.llm.DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2,
        maxDocFreq = Int.MaxValue))
    val keyed = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
    val split = SplitOps.hashSplit(keyed, col("ckey"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        k => graft.llm.DedupOps.md5TokenHash(k.cast("string")))
      .select("doc_id", "ckey", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // docs 1,2,3 share one cluster key and therefore one split
    val dupSplits = split.filter(t => Set(1L, 2L, 3L)(t._1))
    dupSplits.map(_._2).toSet.size shouldBe 1
    dupSplits.map(_._3).toSet.size shouldBe 1
    // the leak-safety invariant in general: one split per cluster key
    split.groupBy(_._2).values.foreach(g => g.map(_._3).toSet.size shouldBe 1)
  }

  test("hashSplit rejects fractions that do not sum to 1") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    an[IllegalArgumentException] should be thrownBy
      SplitOps.hashSplit(Seq(1L).toDF("id"), col("id"),
        Seq("a" -> 0.5, "b" -> 0.4), c => xxhash64(c))
  }

  test("temporalSplit: last k per entity are test; short entities go all-test; ties break on id") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = Seq(
      (1L, 1L, t(0)), (1L, 2L, t(1)), (1L, 3L, t(2)), (1L, 4L, t(2)), // u1: tie at t(2)
      (2L, 5L, t(0))                                                  // u2: single event
    ).toDF("user_id", "event_id", "ts")
    val got = SplitOps.temporalSplit(df, "user_id", "ts", "event_id", k = 2)
      .select("user_id", "event_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // tie at t(2): event 4 outranks event 3 on the id tiebreak, so the
    // two most recent are {3, 4}
    got shouldBe Map((1L, 1L) -> "train", (1L, 2L) -> "train",
      (1L, 3L) -> "test", (1L, 4L) -> "test", (2L, 5L) -> "test")
  }

  test("neymanAllocationSample: zero-variance stratum gets nothing, budget flows to the varied one") {
    val rows = ((1 to 10).map(i => ("A", 500L, i.toLong)) ++
      (1 to 10).map(i => ("B", (i * 100).toLong, (100 + i).toLong)))
      .toDF("st", "xq", "k")
    val got = SplitOps.neymanAllocationSample(rows, col("st"), col("xq"),
        col("k"), totalN = 5L)
      .select("stratum", "n_pop", "alloc_n", "sampled_n")
      .as[(String, Long, Long, Long)].collect().toSeq
    got shouldBe Seq(("A", 10L, 0L, 0L), ("B", 10L, 5L, 5L))
  }

  test("neymanAllocationSample: allocation is capped at the stratum population") {
    val rows = ((1 to 3).map(i => ("A", (i * 1000).toLong, i.toLong)) ++
      (1 to 20).map(i => ("B", (i % 2 * 10).toLong, (100 + i).toLong)))
      .toDF("st", "xq", "k")
    val got = SplitOps.neymanAllocationSample(rows, col("st"), col("xq"),
        col("k"), totalN = 20L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4))))
      .toMap
    val (nA, allocA, sampledA) = got("A")
    nA shouldBe 3L
    allocA shouldBe 3L // N_h·S_h would ask for more; capped at population
    sampledA shouldBe 3L
    got("B")._2 should be <= 20L
  }
}
