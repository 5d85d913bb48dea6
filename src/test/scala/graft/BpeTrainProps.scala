package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.llm.TextOps

/** ScalaCheck properties for [[TextOps.bpeTrain]] against the classic
  * sequential-greedy BPE reference (the dictionary implementation from
  * Sennrich et al. 2016): per round, recount pairs weighted by word
  * frequency, take the (count desc, pair asc) argmax, and rewrite each
  * word with an explicit left-to-right scan. Words drawn from a small
  * alphabet make equal-symbol runs ("aaaa"), count ties, and early
  * exhaustion routine — the cases where the trainer's incremental pair
  * counts could drift from a full recount. The alphabet holds a
  * supplementary-plane symbol (U+1D51E, two UTF-16 units) and U+FF5A,
  * which sorts below it by code point but above it by UTF-16 unit.
  */
object BpeTrainProps extends Properties("bpeTrain") {

  // a bpeTrain case runs the word count's jobs only
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30).withMaxSize(40)

  private lazy val spark = SparkSpec.spark

  // properties use forAllNoShrink: shrinking a string drops single
  // UTF-16 units, which splits U+1D51E into lone surrogates (not text)
  private val genCase: Gen[(List[String], Int)] = for {
    nDocs   <- Gen.choose(1, 3)
    nMerges <- Gen.choose(1, 5)
    docs    <- Gen.listOfN(nDocs, for {
                 n  <- Gen.choose(1, 8)
                 ws <- Gen.listOfN(n, for {
                         len <- Gen.choose(1, 6)
                         cs  <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "\uD835\uDD1E", "\uFF5A"))
                       } yield cs.mkString)
               } yield ws.mkString(" "))
  } yield (docs, nMerges)

  /** A word's symbols: one per code point, as Spark's `split(w, "")`. */
  private def symbols(w: String): List[String] =
    w.codePoints().toArray.toList.map(cp => Character.toString(cp))

  /** Pair order of the argmax: strings compare by code point. */
  private def codePoints(s: String): List[Int] = s.codePoints().toArray.toList

  /** One greedy left-to-right merge pass — the reference rewrite. */
  private def mergeWord(syms: List[String], x: String, y: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) { out += x + y; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toList
  }

  private def model(texts: Seq[String], nMerges: Int): Seq[(Long, String, String, Long)] = {
    var words: Seq[(List[String], Long)] = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (w, f) => (symbols(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val pairs = words.flatMap { case (s, f) => s.sliding(2).collect {
        case List(a, b) => ((a, b), f) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (pairs.isEmpty) done = true
      else {
        import Ordering.Implicits.seqOrdering
        val ((x, y), cnt) = pairs.minBy { case ((a, b), c) => (-c, codePoints(a), codePoints(b)) }
        merges += ((round.toLong, x, y, cnt))
        words = words.map { case (s, f) => (mergeWord(s, x, y), f) }
        round += 1
      }
    }
    merges.toSeq
  }

  /** Merge rounds cost no Spark job, so each case trains 8× deeper
    * than the generated merge count: long merge chains and exhaustion.
    */
  property("matches the sequential-greedy reference") = Prop.forAllNoShrink(genCase) {
    case (docs, nMerges) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val deep = nMerges * 8
      val got = TextOps.bpeTrain(df, "doc_id", "text", deep)
        .orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val want = model(docs, deep)
      Prop(got == want) :| s"got=$got want=$want"
  }

  /** A cap that covers the whole vocabulary takes the distributed top-k
    * path (the former `bpeTrainSampled`) yet keeps every word, so it
    * must learn exactly what the uncapped trainer and the reference do.
    */
  property("bpeTrainSampled at full coverage matches the sequential-greedy reference") =
    Prop.forAllNoShrink(genCase) { case (docs, nMerges) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val vocab = docs.flatMap(_.split(" ", -1)).distinct.size
      val deep = nMerges * 8
      val got = TextOps.bpeTrain(df, "doc_id", "text", deep, maxWords = vocab)
        .orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val want = model(docs, deep)
      Prop(got == want) :| s"maxWords=$vocab got=$got want=$want"
    }

  /** The cap keeps only the top-frequency words: training on the
    * capped table equals training the reference on the same subset.
    */
  property("honors the deterministic top-frequency cap") =
    Prop.forAllNoShrink(genCase) { case (docs, nMerges) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val allWords = docs.flatMap(_.split(" ", -1))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val cap = (allWords.size / 2).max(1)
      import Ordering.Implicits.seqOrdering
      val kept = allWords.sortBy { case (w, f) => (-f, codePoints(w)) }.take(cap).map(_._1)
      val got = TextOps.bpeTrain(df, "doc_id", "text", nMerges, maxWords = cap)
        .orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      // reference trained on a synthetic corpus holding exactly the
      // kept words at their original frequencies
      val keptCorpus = allWords.filter(kv => kept.contains(kv._1))
        .flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      val want = model(Seq(keptCorpus.mkString(" ")), nMerges)
      Prop(got == want) :| s"cap=$cap got=$got want=$want"
    }

  /** VERDICT r12 item 5: the merge-order-faithful encoder applied to
    * the TRAINING corpus must reproduce the segmentation the trainer
    * itself reached — i.e. encoding with the learned merges in rank
    * order equals replaying the reference rewrite word-for-word. This
    * is the semantic contract greedy longest-match ([[TextOps
    * .bpeEncode]]) only approximates.
    */
  property("bpeEncodeRanked reproduces the training segmentation merge-for-merge") =
    Prop.forAllNoShrink(genCase) { case (docs, nMerges) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = model(docs, nMerges).map { case (_, x, y, _) => (x, y) }
      val got = TextOps.bpeEncodeRanked(df, "doc_id", "text", merges)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      def seg(w: String): List[String] =
        merges.foldLeft(symbols(w)) { case (s, (x, y)) => mergeWord(s, x, y) }
      val want = docs.zipWithIndex.map { case (t, i) =>
        val toks = t.split(" ", -1).filter(_.nonEmpty).toList.map(seg)
        (i.toLong, toks.map(_.length.toLong).sum, toks.map(_.mkString("|")).mkString("|"))
      }
      Prop(got == want) :| s"merges=$merges got=$got want=$want"
    }
}
