package graft

import org.apache.spark.sql.functions._

import graft.llm.{MultimodalOps, TextOps}

/** X4/X5: text statistics and multimodal plumbing. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "aa bb aa cccc")).toDF("doc_id", "text")

  test("tokenStats computes exact counts and ratios") {
    val r = TextOps.tokenStats(docs, "doc_id", "text").head()
    r.getLong(1) shouldBe 4L                 // n_tokens
    r.getLong(2) shouldBe 3L                 // n_uniq
    r.getDouble(3) shouldBe 0.75             // ttr
    r.getDouble(4) shouldBe 10.0 / 4         // avg_tok_len: 10 non-space chars
    r.getLong(5) shouldBe 4L                 // longest token
  }

  test("langScore counts marker tokens and thresholds the label") {
    val d = Seq((1L, "the cat in the hat"), (2L, "chat chapeau")).toDF("doc_id", "text")
    val got = TextOps.langScore(d, "doc_id", "text", Seq("the"), threshold = 2, label = "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    got(1L) shouldBe ((2L, "en"))
    got(2L) shouldBe ((0L, "other"))
  }

  test("quote-bearing markers/stopwords are literals, not SQL text") {
    // markers containing quotes previously broke expr() parsing
    val d = Seq((1L, "don't can't won't plain")).toDF("doc_id", "text")
    val ls = TextOps.langScore(d, "doc_id", "text", Seq("don't", "can't"), 1, "en").head()
    ls.getLong(1) shouldBe 2L
    ls.getString(2) shouldBe "en"
    val qs = TextOps.qualityScore(d, "doc_id", "text", Seq("don't")).head()
    qs.getAs[Long]("n_stop") shouldBe 1L
  }

  test("fingerprint is a deterministic left fold over tokens") {
    def fold(text: String): Long =
      text.split(" ").foldLeft(0L)((h, t) =>
        (h * 1000003L + t.head.toInt * 256L + t.length) % 2147483647L)
    val r = TextOps.fingerprint(docs, "doc_id", "text").head()
    r.getLong(1) shouldBe fold("aa bb aa cccc")
  }

  test("X5 extractFeatures: normalized 8-bin histogram sums to ~1") {
    val blobs = MultimodalOps.documentsAsBlobs(docs, "doc_id", "text")
    val f = MultimodalOps.extractFeatures(blobs, "doc_id", "blob").collect().head
    f.features.length shouldBe 8
    f.features.map(_.toDouble).sum shouldBe 1.0 +- 1e-6
  }

  test("X5 resizeMedia emits exactly w*h bytes from the source blob") {
    val blobs = MultimodalOps.documentsAsBlobs(docs, "doc_id", "text")
    val r = MultimodalOps.resizeMedia(blobs, "doc_id", "blob", 4, 3).collect().head
    r.blob.length shouldBe 12
    // subsampled bytes come from the source
    val src = "aa bb aa cccc".getBytes("UTF-8").toSet
    r.blob.toSet.subsetOf(src) shouldBe true
  }

  test("X5 sampleFrames explodes every stride-th fixed-size chunk") {
    val blobs = MultimodalOps.documentsAsBlobs(
      Seq((9L, "x" * 100)).toDF("doc_id", "text"), "doc_id", "text")
    val frames = MultimodalOps.sampleFrames(blobs, "doc_id", "blob", frameSize = 16, stride = 2)
      .collect().sortBy(_.frame_no)
    frames.map(_.frame_no) shouldBe Array(0, 2, 4) // 100/16 = 6 frames, stride 2
    all(frames.map(_.frame.length)) shouldBe 16
  }

  test("X4 trigramLangId (codegen expression) equals the explode reference") {
    val profiles = Seq(
      "en" -> Seq("the", "ing", "and", "ion", "ent"),
      "de" -> Seq("der", "sch", "ein", "ich", "und"))
    // crafted edge cases: short text, case folding, overlapping hits
    val crafted = Seq(
      (1L, "The THEory of THIngs, lasting and ending"),
      (2L, "ab"), (3L, ""),
      (4L, "der schein und der schein ich")).toDF("doc_id", "text")
    val real = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (d <- Seq(crafted, real)) {
      val ref = ExplodeRefs.trigramLangId(d, "doc_id", "text", profiles)
      val got = TextOps.trigramLangId(d, "doc_id", "text", profiles)
      got.exceptAll(ref).count() shouldBe 0L
      ref.exceptAll(got).count() shouldBe 0L
    }
  }

  test("X4 chunkTokens: overlapping windows, trailing partial, short docs") {
    // 10 tokens, window 4, stride 3 -> starts 1,4,7,10
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.chunkTokens(d, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    got shouldBe Set(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (1L, 3L, "t10", 1L),       // trailing partial chunk
      (2L, 0L, "a b", 2L))       // doc shorter than one window
  }

  test("X4 chunkTokens: invariants hold across a window/stride sweep") {
    // reference model: chunk k starts at 1 + k*stride while start <= max(n,1)
    for ((n, w, s) <- Seq((1, 4, 3), (3, 4, 3), (10, 4, 3), (10, 3, 3),
                          (11, 4, 4), (12, 5, 2), (7, 7, 7), (2, 1, 1))) {
      val toks = (1 to n).map(i => s"t$i")
      val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val got = TextOps.chunkTokens(d, "doc_id", "text", w, s)
        .orderBy("chunk_id").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
      val starts = Iterator.iterate(1)(_ + s).takeWhile(_ <= math.max(n, 1)).toSeq
      withClue(s"n=$n w=$w s=$s: ") {
        got.length shouldBe starts.length
        for (((id, text, nt), start) <- got.zip(starts)) {
          val exp = toks.slice(start - 1, math.min(start - 1 + w, n))
          id shouldBe (start - 1) / s
          text shouldBe exp.mkString(" ")
          nt shouldBe exp.length
        }
        if (s <= w) { // full coverage guarantee
          val covered = starts.flatMap(st => (st - 1) until math.min(st - 1 + w, n)).toSet
          covered shouldBe (0 until n).toSet
        }
      }
    }
  }

  test("X4 packGreedy: boundary doc stays in the earlier pack, shards independent") {
    // shard 0 (ids 0,2,4): tokens 3,3,3 with budget 5 ->
    // cum_before 0,3,6 -> packs 0,0,1 (id 2 straddles: stays in pack 0)
    val d = Seq((0L, "a b c"), (2L, "d e f"), (4L, "g h i"), (1L, "x y z w"))
      .toDF("doc_id", "text")
    val got = TextOps.packGreedy(d, "doc_id", "text", budgetTokens = 5, shards = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    got shouldBe Map(0L -> (0L, 0L), 2L -> (0L, 0L), 4L -> (0L, 1L), 1L -> (1L, 0L))
  }

  test("X4 paddingWaste: length-bucketed batching eliminates padding on a bimodal corpus") {
    // one shard, batches of 2: lengths 2,100,2,100 in arrival order
    // pair short with long (pad both batches to 100); bucketed pairs
    // like with like (zero padding)
    val d = Seq(1L -> 2, 2L -> 100, 3L -> 2, 4L -> 100)
      .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val got = TextOps.paddingWaste(d, "doc_id", "text",
        batchSize = 2, bucketWidth = 8, shards = 1)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // arrival: batches (1,2) and (3,4), each padded to 2×100
    got("arrival") shouldBe ((2L, 204L, 400L, 490000L))
    // bucketed: batches (1,3) and (2,4) — padded == useful
    got("bucketed") shouldBe ((2L, 204L, 204L, 0L))
  }

  test("X4 repeatedNgramStats counts occurrences of within-doc repeated n-grams") {
    // "a b a b a": 3-grams = [a b a], [b a b], [a b a] -> 3 total,
    // "a b a" occurs twice -> 2 repeated occurrences
    val d = Seq((1L, "a b a b a"), (2L, "u v w x")).toDF("doc_id", "text")
    val got = TextOps.repeatedNgramStats(d, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    got(1L) shouldBe ((3L, 2L, 2.0 / 3.0))
    got(2L) shouldBe ((2L, 0L, 0.0))
  }

  test("X2 contamination: picks the best-overlap train doc per eval doc") {
    import graft.llm.DedupOps
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // eval (say)
      (1L, "the quick brown fox jumps over the lazy cat"),    // near match
      (2L, "completely unrelated text about query engines here"),
      (3L, "the quick brown fox jumps over the lazy dog"))    // exact match
      .toDF("doc_id", "text")
    val evalSh = DedupOps.wordShingles(docs.filter(col("doc_id") === 10L), "doc_id", "text", 5)
    val trainSh = DedupOps.wordShingles(docs.filter(col("doc_id") =!= 10L), "doc_id", "text", 5)
    val got = DedupOps.contamination(trainSh, evalSh).collect()
    got.length shouldBe 1
    val r = got.head
    (r.getLong(0), r.getLong(1)) shouldBe (10L, 3L) // exact dup wins
    r.getDouble(4) shouldBe 1.0 // jaccard of identical shingle sets
  }

  test("X5 decodeBlobs is deterministic and preserves row count") {
    val blobs = MultimodalOps.documentsAsBlobs(docs, "doc_id", "text")
    val metas = MultimodalOps.decodeBlobs(blobs, "doc_id", "blob").collect()
    metas.length shouldBe 1
    val m = metas.head
    m.doc_id shouldBe 1L
    m.blob_len shouldBe "aa bb aa cccc".getBytes("UTF-8").length.toLong
    m.channels should (be >= 1 and be <= 3)
    // determinism: same input -> same fake decode
    MultimodalOps.decodeBlobs(blobs, "doc_id", "blob").collect().head shouldBe m
  }

  test("pHashStub packs the byte-histogram fingerprint deterministically") {
    // "aaab" = bytes 97,97,97,98: 97 % 8 = 1 (×3), 98 % 8 = 2 (×1)
    // → fp = 3·256 + 1·65536
    val blobs = MultimodalOps.documentsAsBlobs(
      Seq((1L, "aaab")).toDF("doc_id", "text"), "doc_id", "text")
    val fp = MultimodalOps.pHashStub(blobs, "doc_id", "blob").head().getLong(1)
    fp shouldBe 3L * 256 + 1L * 65536
    MultimodalOps.pHashStub(blobs, "doc_id", "blob").head().getLong(1) shouldBe fp
  }

  test("bpeEncode applies greedy longest match with single-char unknown fallback") {
    // "The cat!" lowercased: "the" is a vocab 3-gram; "cat!" has no
    // "ca" merge, so c + at + fallback '!' (not in vocab -> unk)
    val d = Seq((1L, "The cat!"), (2L, "with with")).toDF("doc_id", "text")
    val got = TextOps.bpeEncode(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    got(1L) shouldBe ((4L, 1L, "the|c|at|!"))
    got(2L) shouldBe ((2L, 0L, "with|with"))
  }

  test("bpeEncode fused n_unk matches the filter-HOF definition exactly") {
    // the fused expression counts fallback emissions; the old
    // definition counted single-char tokens not in the vocab over the
    // emitted token array — assert they agree on inputs that hit every
    // branch: known single char ('a', in vocab: NOT unk), unknown
    // chars at word start/middle/end, repeated unknowns, empty text,
    // multiple spaces, and a doc with no unknowns at all
    val d = Seq((1L, "a!b"), (2L, "!!the!!"), (3L, ""), (4L, "a  b"),
        (5L, "with"), (6L, "9 99 x9x")).toDF("doc_id", "text")
    val got = TextOps.bpeEncode(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val F = org.apache.spark.sql.functions
    val expected = TextOps.bpeEncode(d, "doc_id", "text").select(
        col("doc_id"),
        F.size(F.filter(F.split(col("toks"), "\\|"),
          (t: org.apache.spark.sql.Column) =>
            F.length(t) === 1 &&
            !F.array_contains(F.typedLit(TextOps.DemoBpeVocab), t))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 3 ("") splits to one empty word -> zero tokens; split("|")
    // of "" yields [""] which the length-1 filter counts, so pin it
    // directly instead
    got(3L) shouldBe 0L
    for (id <- Seq(1L, 2L, 4L, 5L, 6L)) assert(got(id) == expected(id))
    got(1L) shouldBe 1L   // '!' between known chars
    got(2L) shouldBe 4L   // repeated '!' around a vocab 3-gram
    got(6L) shouldBe 4L   // digits are unknown under DemoBpeVocab
  }

  test("bpeEncode round-trips: concatenated tokens rebuild the spaceless text") {
    val d = Seq((1L, "some document text 123 with punctuation, and digits"))
      .toDF("doc_id", "text")
    val toks = TextOps.bpeEncode(d, "doc_id", "text").head().getString(3)
    toks.replace("|", "") shouldBe "somedocumenttext123withpunctuation,anddigits"
  }

  test("lmSurprisal scores docs by corpus-trained quantized token surprisal") {
    val d = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    // corpus tf: a=3, b=1, total=4
    val sqA = math.round(-math.log(3.0 / 4) * 1e6)
    val sqB = math.round(-math.log(1.0 / 4) * 1e6)
    val got = TextOps.lmSurprisal(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    got(1L) shouldBe ((3L, 2 * sqA + sqB, (2 * sqA + sqB) / 1e6 / 3))
    got(2L) shouldBe ((1L, sqA, sqA / 1e6))
  }

  test("classifierScore: hashed unigram+bigram features, broadcast weights, truncated mean") {
    // tiny explicit model: every bucket gets weight 0 except the
    // buckets of the features we plant — verify the feature set and
    // the integer score arithmetic by hand
    val nB = 64
    val d = Seq((1L, "x y"), (2L, "z")).toDF("doc_id", "text")
    // doc 1 features: "x", "y", "x y" ; doc 2: "z" (no bigram)
    def bucket(f: String): Long = {
      val h = Seq(f).toDF("f")
        .select(graft.llm.DedupOps.md5TokenHash(col("f"))).head().getLong(0)
      ((h % nB) + nB) % nB
    }
    // deliberately NOT pre-aggregated: the duplicate bucket("x") row
    // must SUM inside the op (10 + 0), never fan out the feature join
    // and inflate n_feat
    val w = Seq(bucket("x") -> 10L, bucket("x") -> 0L, bucket("y") -> -3L,
        bucket("x y") -> 5L, bucket("z") -> -7L)
      .toDF("bucket", "w")
    val got = TextOps.classifierScore(d, "doc_id", "text", w, nB,
        tokenHash = graft.llm.DedupOps.md5TokenHash)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // doc 1: 3 features, sum 12, score trunc(12000/3)=4000, keep
    got(1L) shouldBe ((3L, 12L, 4000L, true))
    // doc 2: 1 feature, sum -7, score trunc(-7000/1)=-7000 (toward zero)
    got(2L) shouldBe ((1L, -7L, -7000L, false))
  }

  test("classifierScore: unweighted buckets score 0; negative mean truncates toward zero") {
    val d = Seq((1L, "only unknown tokens here")).toDF("doc_id", "text")
    val empty = spark.emptyDataFrame
      .withColumn("bucket", lit(0L)).withColumn("w", lit(0L)).limit(0)
    val r = TextOps.classifierScore(d, "doc_id", "text", empty, 16).head()
    // 4 unigrams + 3 bigrams, all weightless
    r.getLong(1) shouldBe 7L
    r.getLong(2) shouldBe 0L
    r.getLong(3) shouldBe 0L
    r.getBoolean(4) shouldBe false
    // -5 * 1000 div 2 must be -2500 either way; -5000 div 3 must be
    // -1666 (toward zero), not -1667 (floor) — pin Spark's div
    import spark.implicits._
    Seq((-5000L, 3L)).toDF("a", "b").selectExpr("a div b").head().getLong(0) shouldBe -1666L
  }

  test("redactPatterns applies rules in order with per-rule-visible text and counts") {
    val d = Seq((1L, "a1 b22 c"), (2L, "clean")).toDF("doc_id", "text")
    val got = TextOps.redactPatterns(d, "doc_id", "text",
        rules = Seq("[0-9]+" -> "<N>", "<N>" -> "#"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // rule 2 runs on rule 1's OUTPUT: the two digit runs become <N>,
    // then both <N>s become # — 2 + 2 = 4 redactions
    got(1L) shouldBe ((4L, "a# b# c", 7L))
    got(2L) shouldBe ((0L, "clean", 5L))
  }

  test("gopherRules computes each flag and the conjunction on a hand fixture") {
    val d = Seq(
      (1L, "alpha beta gamma delta the"),  // 5 words, 22 chars, mean 4.4, short 0, stop 1
      (2L, "a b the")                      // 3 words, mean 5/3, short 2/3, stop 2
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(d, "doc_id", "text", stopwords = Seq("the", "a"),
        minWords = 4, maxWords = 10, minMeanLen = 3.0, maxMeanLen = 5.0,
        maxShortFrac = 0.1, minStopHits = 1)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
         r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    // doc 1: 22 chars over 5 words = 4.4 mean; every rule passes
    got(1L) shouldBe ((5L, 4.4, 0.0, 1L, true, true, true, true, true))
    // doc 2: fails length (3 < 4), mean (5/3 < 3.0) and short-frac (1.0)
    val (n2, m2, s2, st2, rl, rm, rs, rst, keep) = got(2L)
    n2 shouldBe 3L
    m2 shouldBe 5.0 / 3 +- 1e-12
    s2 shouldBe 2.0 / 3 +- 1e-12
    st2 shouldBe 2L
    (rl, rm, rs, rst, keep) shouldBe ((false, false, false, true, false))
  }

  test("TextScan codegen == interpreted HOF on adversarial strings") {
    // consecutive/leading/trailing spaces (empty tokens), empty text,
    // multi-byte UTF-8 first chars and lengths, 4-byte code points
    val adversarial = Seq(
      "", " ", "  ", "a", "a ", " a", "a  b", "aa bb aa cccc",
      "é è ü", "日本語 テスト x", "𝄞clef 𝄞 end", "mixed é日𝄞 tail ",
      "x" * 300, ("ab " * 100).trim)
    val d = adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        graft.functions.TextScanFunctions.maxTokenLen(col("text")).as("longest"),
        graft.functions.TextScanFunctions.rollingFingerprint(col("text")).as("fp"))
    val want = d.select(col("doc_id"),
        expr("CAST(array_max(transform(split(text, ' '), t -> length(t))) AS BIGINT)").as("longest"),
        expr("""aggregate(split(text, ' '), CAST(0 AS BIGINT),
               |  (h, t) -> (h * 1000003 + ascii(substring(t, 1, 1)) * 256 + length(t)) % 2147483647)"""
          .stripMargin).as("fp"))
    got.collect().toSeq should contain theSameElementsAs want.collect().toSeq
  }

  test("TextScan codegen == interpreted HOF on the real documents table") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(col("doc_id"),
        graft.functions.TextScanFunctions.rollingFingerprint(col("text")).as("fp"),
        graft.functions.TextScanFunctions.maxTokenLen(col("text")).as("longest"))
      .except(docs.select(col("doc_id"),
        expr("""aggregate(split(text, ' '), CAST(0 AS BIGINT),
               |  (h, t) -> (h * 1000003 + ascii(substring(t, 1, 1)) * 256 + length(t)) % 2147483647)"""
          .stripMargin).as("fp"),
        expr("CAST(array_max(transform(split(text, ' '), t -> length(t))) AS BIGINT)").as("longest")))
    diff.count() shouldBe 0L
  }

  test("dsirWeights: source docs resembling the target score higher; target docs excluded") {
    // target slice establishes a vocabulary; source docs range from
    // pure-target-vocab to pure-source-vocab
    val docs = Seq(
      (0L, "alpha beta alpha beta alpha beta"),   // target
      (1L, "alpha alpha beta beta gamma gamma"),  // target
      (10L, "alpha beta alpha beta"),             // source, target-like
      (11L, "alpha beta zeta zeta"),              // source, mixed
      (12L, "zeta eta theta zeta eta theta")).toDF("doc_id", "text") // source, disjoint
    val got = graft.llm.TextOps.dsirWeights(docs, "doc_id", "text",
        isTarget = col("doc_id") < 10, nBuckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    got.keySet shouldBe Set(10L, 11L, 12L) // the selection pool only
    got(10L)._1 shouldBe 4L
    // importance ordering: target-like > mixed > disjoint-vocab
    got(10L)._2 should be > got(11L)._2
    got(11L)._2 should be > got(12L)._2
    // a doc sharing no vocabulary with the target scores negative
    got(12L)._2 should be < 0.0
  }

  test("bpeTrain learns merges in frequency order, handles equal-symbol runs, stops when exhausted") {
    // "aaaa": the (a,a) run must merge left-to-right non-overlapping
    // ("aa","aa"), never the overlapping count-3 reading
    val docs = Seq((0L, "aaaa aaaa cb cb cb")).toDF("doc_id", "text")
    val got = graft.llm.TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    got shouldBe Array(
      (1L, "a", "a", 6L),   // 3 pairs per "aaaa" word, freq 2
      (2L, "c", "b", 3L),   // after merge, (aa,aa)=2 < (c,b)=3
      (3L, "aa", "aa", 2L)) // then the merged symbols pair up
    // only 3 learnable merges exist: round 4 must not fabricate one
    got.length shouldBe 3
  }

  test("bpeTrain edge cases: single-char-word corpus learns nothing; single word trains fine") {
    // every word is one symbol: no pairs exist, zero merges
    val singles = Seq((0L, "a b c a b")).toDF("doc_id", "text")
    graft.llm.TextOps.bpeTrain(singles, "doc_id", "text", nMerges = 3)
      .count() shouldBe 0L
    // one multi-char word: merges walk the word bottom-up
    val one = Seq((0L, "abab")).toDF("doc_id", "text")
    val got = graft.llm.TextOps.bpeTrain(one, "doc_id", "text", nMerges = 2)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // pairs: (a,b)=2, (b,a)=1 → merge (a,b); then (ab,ab)=1
    got shouldBe Array(("a", "b", 2L), ("ab", "ab", 1L))
  }

  test("dsirWeights with an empty selection pool returns no rows") {
    val docs = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    graft.llm.TextOps.dsirWeights(docs, "doc_id", "text",
      isTarget = lit(true), nBuckets = 16).count() shouldBe 0L
  }

  test("bpeTrain breaks count ties lexicographically") {
    val docs = Seq((0L, "dc dc ba ba")).toDF("doc_id", "text")
    val got = graft.llm.TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 2)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2)))
    got shouldBe Array(("b", "a"), ("d", "c")) // both count 2: (b,a) < (d,c)
  }

  test("bpeTrain splits words by code point, not UTF-16 unit") {
    // U+1D51E is one code point, two UTF-16 units: splitting by unit
    // would learn (\uD835,\uDD1E) first
    val f = "\uD835\uDD1E"
    val docs = Seq((0L, s"a${f}${f}b a${f}${f}b a${f}${f}bx")).toDF("doc_id", "text")
    def merges(maxWords: Int) =
      TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 3, maxWords = maxWords)
        .orderBy("round").collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = Seq(("a", f, 3L), ("a" + f, f, 3L), ("a" + f + f, "b", 3L))
    merges(Int.MaxValue) shouldBe want
    merges(2) shouldBe want // the capped top-k path: both distinct words kept
  }

  test("bpeTrain breaks ties in code-point order, as Spark and DuckDB sort strings") {
    // (U+FF5A, x) and (U+1D51E, x) both count 2. By code point U+FF5A
    // sorts first; by UTF-16 unit the surrogate 0xD835 would.
    val z = "\uFF5A"
    val f = "\uD835\uDD1E"
    val docs = Seq((0L, s"${f}x ${f}x ${z}x ${z}x")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 2)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    got shouldBe Seq((z, "x"), (f, "x"))
    val sparkOrder = Seq(f, z).toDF("s").orderBy("s").collect().map(_.getString(0)).toSeq
    sparkOrder shouldBe Seq(z, f)
  }

  private val bpeCorpus = Seq(
    (0L, "low lower lowest slow slower slowest"),
    (1L, "new newer newest renew renewed wide wider widest"))

  test("bpeTrain runs a fixed number of Spark jobs, whatever nMerges is") {
    val corpus = bpeCorpus.toDF("doc_id", "text")
    def jobsFor(nMerges: Int): (Int, Int) = {
      val (merges, buildJobs) = jobsDuring(TextOps.bpeTrain(corpus, "doc_id", "text", nMerges))
      // the merges come back in round order, and collecting them runs
      // no job beyond bpeTrain's own
      val (rows, collectJobs) = jobsDuring(merges.collect())
      collectJobs shouldBe 0
      rows.map(_.getLong(0)).toSeq shouldBe (1L to rows.length.toLong)
      (buildJobs, rows.length)
    }
    val (shallowJobs, shallowMerges) = jobsFor(2)
    val (deepJobs, deepMerges) = jobsFor(40)
    shallowMerges shouldBe 2
    deepMerges should be > 20 // the deep call really runs many rounds
    deepJobs shouldBe shallowJobs
    shallowJobs should (be >= 1 and be <= 2)
  }

  test("x4_bpe_train queries return rounds in order with no job past bpeTrain's own") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-train-query").toString
    bpeCorpus.map { case (id, t) => (id.toInt, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    for (q <- Seq("x4_bpe_train", "x4_bpe_train_sampled")) withClue(s"$q: ") {
      val (df, _) = jobsDuring(SparkEntry.queries(q)(spark, dir))
      val (rows, collectJobs) = jobsDuring(df.collect())
      collectJobs shouldBe 0
      rows.map(_.getLong(0)).toSeq shouldBe (1L to 4L)
    }
  }

  test("bigramSurprisal interpolates bigram and unigram exactly; first token is unigram-only") {
    // corpus "a b a": uni a:2 b:1 (total 3); bi (a,b):1 (b,a):1,
    // prefix totals a:1 b:1 — every probability hand-derivable
    val docs = Seq((0L, "a b a")).toDF("doc_id", "text")
    val got = graft.llm.TextOps.bigramSurprisal(docs, "doc_id", "text").head()
    def q(p: Double) = math.round(-math.log(p) * 1e6)
    val want = q(2.0 / 3) +                    // 'a' at doc start: unigram only
      q(0.7 * (1.0 / 1) + 0.3 * (1.0 / 3)) +  // 'b' | 'a'
      q(0.7 * (1.0 / 1) + 0.3 * (2.0 / 3))    // 'a' | 'b'
    got.getLong(1) shouldBe 3L
    got.getLong(2) shouldBe want
  }

  test("bigramSurprisal: predictable bigrams score below the unigram model") {
    // "a b" repeated: bigram (a,b) is deterministic, unigram p = 1/2
    val docs = Seq((0L, ("a b " * 20).trim), (1L, ("b a " * 20).trim))
      .toDF("doc_id", "text")
    val bi = graft.llm.TextOps.bigramSurprisal(docs, "doc_id", "text")
      .agg(avg(col("avg_surprisal"))).head().getDouble(0)
    val uni = graft.llm.TextOps.lmSurprisal(docs, "doc_id", "text")
      .agg(avg(col("avg_surprisal"))).head().getDouble(0)
    bi should be < uni
  }

  test("dsirWeights is deterministic and independent of row order") {
    val docs = Seq(
      (0L, "a b c"), (1L, "c d e"), (2L, "a a a"), (3L, "e f g"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.llm.TextOps.dsirWeights(d, "doc_id", "text",
        isTarget = col("doc_id") % 2 === 0, nBuckets = 32)
    run(docs).exceptAll(run(docs.orderBy(col("doc_id").desc))).count() shouldBe 0L
  }

  test("zipfSlope recovers the exponent of a synthetic power-law corpus") {
    // token t_r appears round(1000/r) times, r = 1..20 → slope ≈ −1
    val text = (1 to 20).flatMap(r =>
      Seq.fill(math.round(1000.0 / r).toInt)(f"t$r%02d")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val row = graft.llm.TextOps.zipfSlope(docs, "text", topN = 20).head()
    row.getAs[Long]("n_tokens") shouldBe 20L
    row.getAs[Double]("slope") shouldBe -1.0 +- 0.01
    row.getAs[Double]("r2") should be > 0.999
  }

  test("zipfSlope's top-N cut plans a TakeOrderedAndProject, not a global sort") {
    val docs = Seq((1L, "a b c a b a")).toDF("doc_id", "text")
    val plan = graft.llm.TextOps.zipfSlope(docs, "text", topN = 2)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
  }

  test("typeTokenStats: hand-counted types, tokens and hapaxes per slice") {
    val docs = Seq(
      ("s1", "a b a c"),      // s1: 6 tokens, types {a,b,c,d}, hapaxes {b,c,d}
      ("s1", "a d"),
      ("s2", "x x x x"))      // s2: 4 tokens, 1 type, 0 hapax
      .toDF("source", "text")
    val got = graft.llm.TextOps.typeTokenStats(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got("s1") shouldBe ((6L, 4L, 3L, 666666L, 750000L))
    got("s2") shouldBe ((4L, 1L, 0L, 250000L, 0L))
  }

  test("rrfFuse: doc on both lists outranks a higher single-list doc; ties break on id") {
    // list A ranks: d1=1, d2=2, d3=3 ; list B: d2=1, d4=2
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rnk")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("doc_id", "rnk")
    val got = graft.llm.TextOps.rrfFuse(Seq(a, b), "doc_id", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.head._2 shouldBe 2L // on both lists: 1/62 + 1/61 beats 1/61 alone
    got.head._3 shouldBe 2L
    val expected2 = math.round(1e9 / 62) + math.round(1e9 / 61)
    got.head._4 shouldBe expected2
    // d1 (rank 1 on A alone) second; d4 (1/62) and d3 (1/63) after
    got.map(_._2).toSeq shouldBe Seq(2L, 1L, 4L, 3L)
  }

  test("keynessTopK surfaces the slice-exclusive token first, signed positive") {
    // 'zebra' appears only in s1 and often; 'the' is uniform background
    val docs = Seq(
      ("s1", "zebra zebra zebra the the"),
      ("s1", "zebra the the"),
      ("s2", "the the the the"),
      ("s2", "the the the the"))
      .toDF("source", "text")
    val got = graft.llm.TextOps.keynessTopK(docs, "source", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getString(2), r.getLong(5))))
      .toMap
    val (tok1, g1) = got(("s1", 1L))
    tok1 shouldBe "zebra"
    g1 should be > 0L // over-represented → positive sign
    // 'the' is UNDER-represented in s1 (its share there is below corpus rate)
    val (tok2, g2) = got(("s1", 2L))
    tok2 shouldBe "the"
    g2 should be < 0L
  }

  test("pmiCollocations: hand-computed PMI, minCount floor, total-order top-k") {
    // unigrams: new 3, york 3, a 1, b 1 (N=8); bigrams: (new,york) 3,
    // (york,new) 1, (a,b) 1 (Nb=5)
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "new york"),
      (3L, "a b")).toDF("doc_id", "text")
    val got: Seq[((String, String), (Long, Long))] =
      graft.llm.TextOps.pmiCollocations(docs, "doc_id", "text",
          minCount = 1L, topK = 10)
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
    def q(x: Double): Long = math.round(math.log(x) * 1e6)
    got.map(_._1) shouldBe Seq(("a", "b"), ("new", "york"), ("york", "new"))
    val m = got.toMap
    m(("a", "b")) shouldBe ((1L, q((1.0 / 5) / ((1.0 / 8) * (1.0 / 8)))))
    m(("new", "york")) shouldBe ((3L, q((3.0 / 5) / ((3.0 / 8) * (3.0 / 8)))))
    // minCount=2 keeps only the repeated pair
    graft.llm.TextOps.pmiCollocations(docs, "doc_id", "text", minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
      Seq(("new", "york"))
  }

  test("rakeKeywords: stopword-delimited phrases, deg/freq word scores, exact ppm") {
    // phrases: [deep learning] ×2 (docs 1, 2), [deep networks] ×1.
    // deep: freq 3, deg 6 → 2e6; learning: 2/4 → 2e6; networks: 1/2 → 2e6.
    // both phrases score 4e6; tie breaks on phrase text.
    val docs = Seq(
      (1L, "deep learning of the deep networks"),
      (2L, "deep learning")).toDF("doc_id", "text")
    val got = graft.llm.TextOps.rakeKeywords(docs, "doc_id", "text", topK = 10)
      .as[(String, Long, Long, Long)].collect().toSeq
    got shouldBe Seq(
      ("deep learning", 2L, 2L, 4000000L),
      ("deep networks", 1L, 2L, 4000000L))
  }

  test("rakeKeywords: phrases over maxLen drop; punctuation strips into the token") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "Alpha, beta!"))
      .toDF("doc_id", "text")
    // doc1 is one 5-token phrase — dropped at maxLen 4; doc2 lowers and
    // strips punctuation into the same [alpha beta] phrase
    val got = graft.llm.TextOps.rakeKeywords(docs, "doc_id", "text",
        maxLen = 4, topK = 10)
      .select("phrase").as[String].collect().toSeq
    got shouldBe Seq("alpha beta")
  }

  test("vocabFitBySource: fertility and char-fallback from the ranked encoder") {
    // "the" merges to ONE token (t,h → th; th,e → the);
    // "cat" → c|at (a,t merge; no c-merge) — 2 tokens, one single-char
    val docs = Seq((1L, "the cat", "a")).toDF("doc_id", "text", "source")
    val r = graft.llm.TextOps.vocabFitBySource(docs, "doc_id", "text", "source")
      .head()
    r.getAs[Long]("n_words") shouldBe 2L
    r.getAs[Long]("n_tokens") shouldBe 3L
    r.getAs[Long]("fertility_ppm") shouldBe 1500000L
    r.getAs[Long]("char_tok_ppm") shouldBe 333333L
  }

  test("vocabFitBySource: empty text keeps its doc row with zero ratios") {
    val docs = Seq((1L, "", "a")).toDF("doc_id", "text", "source")
    val r = graft.llm.TextOps.vocabFitBySource(docs, "doc_id", "text", "source")
      .head()
    (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
      r.getAs[Long]("fertility_ppm")) shouldBe ((1L, 0L, 0L))
  }

  test("ngramNoveltyBySource: exact novel-bigram share vs the reference slice") {
    val docs = Seq(
      (0L, "a b c", "ref"),    // reference: bigrams {a b, b c}
      (1L, "a b x", "s1"),     // {a b (seen), b x (novel)} → 500000 ppm
      (2L, "a b c", "s2"))     // both seen → 0 ppm
      .toDF("doc_id", "text", "source")
    val got = graft.llm.TextOps.ngramNoveltyBySource(docs, "doc_id", "text",
        "source", col("doc_id") === 0, w = 2)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    got shouldBe Seq(("s1", 1L, 2L, 1L, 500000L), ("s2", 1L, 2L, 0L, 0L))
  }
}
