package graft

import org.apache.spark.sql.functions._

import graft.llm.DedupOps

/** X1/X2: exact and near-duplicate detection on crafted corpora. */
class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again today"),
    (2L, "the quick brown fox jumps over the lazy dog again today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again tomorrow"),// near dup of 1
    (4L, "completely different text about distributed query engines here now"),
    (5L, "short doc")                                                  // < 5 tokens: no shingles
  ).toDF("doc_id", "text")

  test("X1 exactDedup keeps the lowest id and counts group size") {
    val got = DedupOps.exactDedup(docs, col("text"), "doc_id")
      .select("doc_id", "n_dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
  }

  test("X1 exactDedup on skewed and null keys: one winner and group size per key") {
    // one dominant key (80%), one singleton, and null keys — null keys
    // group together (null-safe join back)
    val skewed = ((1L to 40L).map(i => (i, "dominant")) ++
      Seq((100L, "rare"), (200L, null), (201L, null)))
      .toDF("doc_id", "text")
    DedupOps.exactDedup(skewed, col("text"), "doc_id")
      .select("doc_id", "n_dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 40L, 100L -> 1L, 200L -> 2L)
  }

  test("wordShingles yields distinct w-grams, none for short docs") {
    val sh = DedupOps.wordShingles(docs, "doc_id", "text", 5)
    sh.filter(col("doc_id") === 5L).count() shouldBe 0
    // doc 4 has 9 tokens, all distinct => 5 5-gram shingles
    sh.filter(col("doc_id") === 4L).count() shouldBe 5
  }

  test("X2 jaccardPairs finds exact and near duplicates, skips unrelated") {
    val sh = DedupOps.wordShingles(docs, "doc_id", "text", 5)
    val pairs = DedupOps.jaccardPairs(sh, 1, 2)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L)) // identical: jaccard 1.0
    pairs should contain((1L, 3L)) // one-word change: high overlap
    pairs.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("X2/X6 minHashGateIndexed: directed expansion of the pair set, exactly once per pair") {
    val sh = DedupOps.wordShingles(docs, "doc_id", "text", 5)
    val banded = DedupOps.minHashBandedFromShingles(sh, 64, 16)
    val probeIds = Set(1L, 3L, 5L)
    val got = DedupOps.minHashGateIndexed(
        docs.filter(col("doc_id").isin(probeIds.toSeq: _*)), banded, sh,
        "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exactly-once: docs 1 and 2 collide in EVERY band, yet one row
    got.map(t => (t._1, t._2)).distinct.length shouldBe got.length
    // the gate is the probe-side directed expansion of the pair op
    val expected = DedupOps.minHashLshPairsIndexed(banded, sh, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .flatMap { case (d1, d2, i, u) => Seq((d1, d2, i, u), (d2, d1, i, u)) }
      .filter(t => probeIds(t._1)).toSet
    expected should not be empty
    got.toSet shouldBe expected
  }

  test("MinHashBandHashes expression is bit-equal to the HOF formulation AND the index-build band hashes") {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .filter(expr("size(__toks) >= 5"))
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(__toks) - 4), i -> concat_ws(' ', slice(__toks, i, 5))))")
        .as("__shq"))
    val hof = d
      .withColumn("__sig", expr(
        "transform(sequence(0, 63), i -> array_min(transform(__shq, s -> xxhash64(i, s))))"))
      .withColumn("mbh", expr(
        "transform(sequence(0, 15), b -> hash(slice(__sig, b * 4 + 1, 4), b))"))
      .select("doc_id", "mbh").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val fast = d
      .withColumn("mbh", graft.functions.MinHashFunctions.minHashBandHashes(col("__shq"), 64, 16))
      .select("doc_id", "mbh").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    fast shouldBe hof
    // ...and to what the PERSISTED index stores — the collision contract
    val idxBands = DedupOps.minHashBandedFromShingles(
        DedupOps.wordShingles(docs, "doc_id", "text", 5), 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val rowBands = fast.toSeq.flatMap { case (id, arr) =>
      arr.zipWithIndex.map { case (h, b) => (id, b) -> h } }.toMap
    rowBands shouldBe idxBands
  }

  test("clusterNearDupsIncremental: delta fold-in equals from-scratch clustering (both code paths)") {
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val deltaPairs = Seq((3L, 5L), (8L, 9L), (0L, 1L)).toDF("doc1", "doc2")
    // 0 joins {1,2,3} and bridges to {5,6} via (3,5): min becomes 0
    val full = DedupOps.clusterNearDups(oldPairs.unionByName(deltaPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (threshold <- Seq(65536L, 0L)) { // union-find fast path AND the star iteration
      val oldLabels = DedupOps.clusterNearDups(oldPairs, localEdgeThreshold = threshold)
      val inc = DedupOps.clusterNearDupsIncremental(oldLabels, deltaPairs,
          localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      inc shouldBe full
    }
    full(6L) shouldBe 0L
    full(9L) shouldBe 8L
  }

  test("X2 minHashLshPairs recovers the exact-duplicate pair with exact stats") {
    val got = DedupOps.minHashLshPairs(docs, "doc_id", "text",
        shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // identical docs collide in every band; inter == uni for the (1,2) pair
    got.find(t => t._1 == 1L && t._2 == 2L) match {
      case Some((_, _, inter, uni)) => inter shouldBe uni
      case None => fail("LSH missed the exact-duplicate pair (1,2)")
    }
  }

  test("X2 simHash (typed aggregator) equals the explode reference fingerprints") {
    val real = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (d <- Seq(docs, real)) {
      val ref = ExplodeRefs.simHash(d, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = DedupOps.simHash(d, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe ref
    }
  }

  test("X2 clusterNearDups: transitive closure gets one min-id label per component") {
    // components: {1,2,3} via chain 1-2, 2-3; {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc1", "doc2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // default: small-graph union-find fast path
    val got = DedupOps.clusterNearDups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe expected
    // forced distributed iteration must produce identical labels
    val distributed = DedupOps.clusterNearDups(pairs, localEdgeThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    distributed shouldBe expected
  }

  test("X2 simHash: identical docs get identical fingerprints, hamming 0 pair found") {
    val fps = DedupOps.simHash(docs, "doc_id", "text")
    val byId = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId(1L) shouldBe byId(2L)
    val pairs = DedupOps.simHashPairs(fps, maxHamming = 0)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
  }

  test("X2 clusterNearDups: a long chain converges (large-star/small-star, not O(diameter))") {
    // a 64-link chain: plain min-label propagation needs 64 rounds;
    // the alternating-star iteration must finish inside maxIter=10
    // (localEdgeThreshold = 0 forces the distributed path — the
    // default would solve this driver-side)
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = DedupOps.clusterNearDups(chain, maxIter = 10, localEdgeThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.keySet shouldBe (0L to 64L).toSet
    all(got.values) shouldBe 0L
  }

  test("X2 jaccardPairs: a hot shingle above maxDocFreq adds no candidate pairs") {
    // 40 docs sharing one boilerplate shingle but nothing else: without
    // the DF cap the self-join materializes 40*39/2 = 780 candidate
    // pairs; with the cap the hot shingle is dropped before the join
    // and no pair survives (their true overlap is 1 shingle anyway)
    val boiler = (0 until 40).map(i =>
      (100L + i, s"all rights reserved legal notice unique$i token$i word$i filler$i end$i"))
      .toDF("doc_id", "text")
    val sh = DedupOps.wordShingles(boiler, "doc_id", "text", 5)
    val capped = DedupOps.jaccardPairs(sh, 1, 10, maxDocFreq = 8)
    capped.count() shouldBe 0L
    // the cap leaves genuinely-similar pairs intact (df below the cap)
    val pairs = DedupOps.jaccardPairs(
        DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2, maxDocFreq = 8)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
  }

  test("LSH(16 bands) covers the full exact-Jaccard pair set on the shipped sf0.01 testdata") {
    // x2_minhash_lsh is oracle-checked VALUE-EXACT against the uncapped
    // exact-Jaccard oracle, which is only sound while LSH banding misses
    // zero qualifying pairs on this corpus (per-pair escape probability
    // at J=0.5 is ~0.36, so this is a property of the data, not the
    // algorithm). This spec is the tripwire: if the testdata is ever
    // regenerated and a pair escapes the bands, THIS fails — not the
    // oracle hash diff.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"shipped testdata not present at $dir")
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val exact = DedupOps.jaccardPairs(
        DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2,
        maxDocFreq = Int.MaxValue)
      .select("doc1", "doc2")
    val lsh16 = DedupOps.minHashLshPairs(docs, "doc_id", "text", 5, 64, 16, 1, 2)
      .select("doc1", "doc2")
    exact.except(lsh16).count() shouldBe 0L
  }

  test("X2 crossDocSpanStats counts spans shared across documents") {
    val d = Seq(
      (1L, "a b c d e"),      // spans(3): "a b c", "b c d", "c d e"
      (2L, "x a b c d y"),    // spans(4): "x a b", "a b c", "b c d", "c d y"
      (3L, "p q")             // < 3 words: no spans
    ).toDF("doc_id", "text")
    val got = DedupOps.crossDocSpanStats(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // cross-doc spans: "a b c" and "b c d" (in docs 1 and 2)
    got(1L) shouldBe ((3L, 2L, 2.0 / 3))
    got(2L) shouldBe ((4L, 2L, 0.5))
    got(3L) shouldBe ((0L, 0L, 0.0))
  }

  test("X2 crossDocSpanStats counts a span repeated WITHIN one doc only once per dup check") {
    // "a b a b a b": spans "a b a", "b a b", "a b a", "b a b" — each
    // appears twice within doc 10 but in NO other doc, so none are
    // cross-doc duplicates
    val d = Seq((10L, "a b a b a b"), (11L, "z z z z")).toDF("doc_id", "text")
    val got = DedupOps.crossDocSpanStats(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got(10L) shouldBe ((4L, 0L))
    got(11L) shouldBe ((2L, 0L))
  }

  test("X2 removeDuplicateSpans keeps the corpus-first occurrence, strips the rest") {
    val d = Seq(
      (1L, "a b c d e"),      // "a b c" at (1,1) is corpus-first: doc 1 unchanged
      (2L, "x a b c y"),      // "a b c" at (2,2) is a later occurrence: a,b,c removed
      (3L, "p q")             // < 3 words: passes through
    ).toDF("doc_id", "text")
    val got = DedupOps.removeDuplicateSpans(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    got(1L) shouldBe ((5L, "a b c d e"))
    got(2L) shouldBe ((2L, "x y"))
    got(3L) shouldBe ((2L, "p q"))
  }

  test("X2 removeDuplicateSpans: overlapping dup spans merge their covered ranges") {
    // docs 20 and 21 share the 4-token run "a b c d": in doc 21 it
    // spans two overlapping 3-grams ("a b c", "b c d") whose covered
    // ranges union to tokens 2..5
    val d = Seq(
      (20L, "a b c d x"),
      (21L, "z a b c d")
    ).toDF("doc_id", "text")
    val got = DedupOps.removeDuplicateSpans(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    got(20L) shouldBe ((5L, "a b c d x"))
    got(21L) shouldBe ((1L, "z"))
  }

  test("X2 span ops: hashed span keys produce the same output as exact strings on real data") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val statsS = DedupOps.crossDocSpanStats(real, "doc_id", "text", 8)
    val statsH = DedupOps.crossDocSpanStats(real, "doc_id", "text", 8, spanKey = xxhash64(_))
    statsS.exceptAll(statsH).count() shouldBe 0L
    statsH.exceptAll(statsS).count() shouldBe 0L
    val remS = DedupOps.removeDuplicateSpans(real, "doc_id", "text", 8)
    val remH = DedupOps.removeDuplicateSpans(real, "doc_id", "text", 8, spanKey = xxhash64(_))
    remS.exceptAll(remH).count() shouldBe 0L
    remH.exceptAll(remS).count() shouldBe 0L
  }

  test("X1 canonicalKeep picks the best-by-order doc per group and maps every member") {
    val d = Seq(
      (1L, "k1", 5L),
      (2L, "k1", 9L),   // higher quality: canonical for k1
      (3L, "k2", 1L)
    ).toDF("doc_id", "key", "quality")
    val got = DedupOps.canonicalKeep(d, "doc_id", col("key"),
        Seq(col("quality").desc, col("doc_id")))
      .select("doc_id", "canonical_id", "group_n", "is_canonical")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    got(1L) shouldBe ((2L, 2L, false))
    got(2L) shouldBe ((2L, 2L, true))
    got(3L) shouldBe ((3L, 1L, true))
  }

  test("bloomDecontaminate never misses a contaminated doc (one-sided error)") {
    // exact truth: train docs sharing >=1 shingle with eval
    val train = docs.filter(col("doc_id") =!= 2L)
    val eval = docs.filter(col("doc_id") === 2L)
    val exact = DedupOps
      .wordShingles(train, "doc_id", "text", 5)
      .join(DedupOps.wordShingles(eval, "doc_id", "text", 5)
        .select(col("sh")).distinct(), Seq("sh"))
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    exact should contain(1L)  // doc 1 is an exact dup of eval doc 2
    exact should contain(3L)  // doc 3 shares its prefix shingles
    val got = DedupOps.bloomDecontaminate(train, eval, w = 5, mBits = 1 << 16, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // every exactly-contaminated doc must be flagged
    exact.foreach { id => got(id)._3 shouldBe true }
    // the exact dup hits on EVERY shingle
    got(1L)._1 shouldBe got(1L)._2
    // disjoint-vocabulary doc 4: unflagged at this fill (deterministic)
    got(4L)._3 shouldBe false
    // doc 5 (< w tokens) has no shingles: absent by contract
    got.contains(5L) shouldBe false
  }

  test("bloomDecontaminate is deterministic across partitionings (bitmap merges associatively)") {
    val train = docs.filter(col("doc_id") =!= 2L)
    val eval = docs.filter(col("doc_id") === 2L)
    def run(t: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame) =
      DedupOps.bloomDecontaminate(t, e, w = 5, mBits = 1 << 16, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    run(train.repartition(7), eval.repartition(5)) shouldBe run(train.coalesce(1), eval.coalesce(1))
  }

  test("bloomDecontaminateStateless (per-row HOF form) equals the aggregated batch op") {
    val train = docs.filter(col("doc_id") =!= 2L)
    val eval = docs.filter(col("doc_id") === 2L)
    val bm = DedupOps.bloomBitmap(eval, w = 5, mBits = 1 << 16, k = 3)
    val agg = DedupOps.bloomDecontaminate(train, eval, w = 5, mBits = 1 << 16, k = 3)
    val row = DedupOps.bloomDecontaminateStateless(train, bm, w = 5, mBits = 1 << 16, k = 3)
    row.exceptAll(agg).count() shouldBe 0L
    agg.exceptAll(row).count() shouldBe 0L
  }

  test("X2 simHashPairs: chunk count derives from maxHamming (no pigeonhole false negatives)") {
    import graft.llm.DedupOps
    // two fingerprints at Hamming distance 7, crafted so every 16-bit
    // quarter differs (bits 3, 13, 19, 29, 35, 45, 51 set): a fixed
    // 4-chunk banding would never join them, the 8-chunk banding for
    // maxHamming=7 must
    val fp1 = 0L
    val fp2 = Seq(3, 13, 19, 29, 35, 45, 51).map(1L << _).sum
    java.lang.Long.bitCount(fp1 ^ fp2) shouldBe 7
    val fps = Seq((1L, fp1), (2L, fp2)).toDF("doc_id", "fp")
    val got = DedupOps.simHashPairs(fps, maxHamming = 7)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((1L, 2L))
  }

  test("editDistanceJoin equals brute-force pairs within blocks") {
    val rows = Seq(
      (1L, "A", "kitten"), (2L, "A", "sitting"), (3L, "A", "mitten"),
      (4L, "B", "kitten"),                       // other block: never pairs with A
      (5L, "A", "completely unrelated string")   // length band cuts it
    )
    val df = rows.toDF("id", "blk", "s")
    val got = DedupOps.editDistanceJoin(df, "id", "s", Seq(col("blk")), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ia, ba, sa) <- rows; (ib, bb, sb) <- rows
      if ba == bb && ia < ib && lev(sa, sb) <= 3
    } yield (ia, ib) -> lev(sa, sb).toLong).toMap
    got shouldBe expect
    expect.keySet should contain((1L, 3L))   // kitten↔mitten dist 1
    got.keySet should not contain ((1L, 4L)) // cross-block, even though identical
  }

  test("containmentPairs: a swallowed doc has high containment, its container low") {
    // doc 1 = the first 8 tokens of doc 2's 20: with w=5 shingles,
    // doc1 has 4, all present in doc2's 16 → containment 1e6 vs 250000
    val small = (1 to 8).map(i => s"t$i").mkString(" ")
    val big = (1 to 20).map(i => s"t$i").mkString(" ")
    val other = (100 to 110).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val sh = DedupOps.wordShingles(docs, "doc_id", "text", 5)
    val got = DedupOps.containmentPairs(sh, minContainPpm = 0L, maxDocFreq = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    got((1L, 2L)) shouldBe 1000000L           // fully contained
    got((2L, 1L)) shouldBe (4L * 1000000L / 16L) // 4 of 16 shingles
    got.keySet.flatMap(k => Set(k._1, k._2)) should not contain 3L
  }

  test("containmentPairs honors the threshold filter") {
    val small = (1 to 8).map(i => s"t$i").mkString(" ")
    val big = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val sh = DedupOps.wordShingles(docs, "doc_id", "text", 5)
    val got = DedupOps.containmentPairs(sh, minContainPpm = 500000L, maxDocFreq = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((1L, 2L)) // only the swallowed direction survives
  }

  test("canonicalizeUrl: case, port, tracking params, slash and fragment normalize") {
    val cases = Seq(
      ("HTTPS://Www.Ex.COM:443/a/b/?utm_source=x&id=1#frag",
        "https://www.ex.com/a/b?id=1"),
      ("http://ex.com:80/", "http://ex.com"),
      ("https://ex.com/p?id=1&utm_campaign=z", "https://ex.com/p?id=1"),
      ("https://ex.com/p?utm_only=1", "https://ex.com/p"),
      ("https://ex.com/p/", "https://ex.com/p"),
      ("https://ex.com:8080/p", "https://ex.com:8080/p"), // non-default port kept
      ("https://ex.com/p?b=2&a=1", "https://ex.com/p?b=2&a=1"), // order untouched
      ("https://ex.com/p?fbclid=abc&gclid=x&id=3", "https://ex.com/p?id=3"),
      ("https://ex.com", "https://ex.com"))
    val got = cases.map(_._1).toDF("u")
      .select(DedupOps.canonicalizeUrl(col("u"))).as[String].collect().toSeq
    got shouldBe cases.map(_._2)
  }

  test("canonicalizeUrl is idempotent (canonical forms are fixed points)") {
    val raw = Seq("HTTPS://Www.Ex.COM:443/a/b/?utm_source=x&id=1#frag",
      "http://ex.com:80/", "https://ex.com/p?b=2&a=1").toDF("u")
    val once = raw.select(DedupOps.canonicalizeUrl(col("u")).as("c"))
    val twice = once.select(DedupOps.canonicalizeUrl(col("c")))
      .as[String].collect().toSeq
    twice shouldBe once.as[String].collect().toSeq
  }

  test("urlCanonDedup groups raw spellings under the canonical key") {
    val raw = Seq(
      (1L, "https://ex.com/p?id=1"),
      (2L, "HTTPS://EX.COM/p/?id=1"),
      (3L, "https://ex.com:443/p?utm_source=z&id=1"),
      (4L, "https://ex.com/q?id=2")).toDF("doc_id", "url")
    val got = DedupOps.urlCanonDedup(raw, col("url"), col("doc_id"))
      .orderBy("canon_url").collect()
    got.length shouldBe 2
    got(0).getAs[String]("canon_url") shouldBe "https://ex.com/p?id=1"
    got(0).getAs[Long]("n_rows") shouldBe 3L
    got(0).getAs[Long]("n_raw_forms") shouldBe 3L
    got(0).getAs[Long]("keep_id") shouldBe 1L
    got(1).getAs[Long]("n_rows") shouldBe 1L
  }
}
