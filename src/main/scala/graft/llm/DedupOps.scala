package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.LayoutOps
import graft.sources.Materializer.freeze

/** Deduplication operators for document corpora
  * (SURVEY.md §2.8 X1/X2).
  *
  * Scale posture: exact dedup is a map-side-combined aggregate on the
  * key plus a join back on the unique winning id; the near-dup family
  * avoids the O(N²) pair space via inverted-index (shingle) joins,
  * MinHash+LSH banding, or SimHash chunk banding — the only
  * sub-quadratic options at 100 TB.
  */
object DedupOps {

  /** X1: exact dedup — keep the lowest-id row per key; adds `n_dups`
    * (group size), null keys grouped together. Window-free, so a
    * SKEWED key (a boilerplate page duplicated a billion times) never
    * lands in one task: a two-phase hash aggregation finds each key's
    * winning id and group size (partial min/count collapses a mapper's
    * rows per key to ONE before the shuffle, so a dominant key costs
    * one row per task, not one task), then a join back on
    * (key, winning id) — and since the join key includes the unique
    * id, the join itself cannot skew. Key equality is null-safe.
    */
  def exactDedup(df: DataFrame, keyCol: Column, idCol: String): DataFrame = {
    val agg = df.select(keyCol.as("__k"), col(idCol).as("__id"))
      .groupBy(col("__k"))
      .agg(min(col("__id")).as("__minid"), count(lit(1)).as("n_dups"))
    df.join(agg, keyCol <=> col("__k") && col(idCol) === col("__minid"))
      .drop("__k", "__minid")
  }

  /** Distinct word `w`-gram shingles per document:
    * `(doc_id, sh STRING)`. Documents shorter than `w` tokens yield
    * no shingles. An input with fewer partitions than cores is spread
    * first ([[graft.sources.LayoutOps.spread]]): the explode fans out
    * per row.
    */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    // start positions exploded first, shingles built post-Generate in
    // codegen (slice + concat_ws) — the in-array `transform` lambda was
    // CodegenFallback, interpreted once per shingle (VERDICT r5 item 4)
    LayoutOps.spread(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${w - 1})")).as("i"))
      .select(col("doc_id"), expr(s"concat_ws(' ', slice(toks, i, $w))").as("sh"))
      .distinct()

  /** X2: substring-level duplication stats (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" shape,
    * at word-span granularity): for every document, how much of it is
    * covered by `w`-word spans that ALSO occur in some other document.
    * Output per doc: `n_spans` (all positions), `n_dup` (positions
    * whose span text appears in ≥2 distinct documents), and
    * `dup_frac`. A doc shorter than `w` words has 0 spans and
    * dup_frac 0.
    *
    * Unlike document-level Jaccard/MinHash this catches PARTIAL
    * copies — a paragraph pasted into an otherwise-unique page — which
    * is the dominant duplication mode in web corpora.
    *
    * Plan shape at scale: explode to (doc, pos, span), one hash
    * aggregation keyed by span for cross-doc document frequency
    * (map-side combined on the distinct (doc, span) projection), one
    * shuffle join spans⋈span-df on span, one aggregation back to doc.
    * Spans never pair up — cost is linear in corpus token count, never
    * O(N²).
    *
    * @param spanKey the grouping/join key derived from the span text.
    *   Identity (default) keeps exact string semantics — the oracle
    *   path. At 100 TB pass `xxhash64(_)`: the two span-keyed shuffles
    *   carry 8 bytes instead of ~50-byte strings, trading exactness
    *   for a ~2⁻⁶⁴-per-pair collision false positive (DedupOpsSpec
    *   pins hashed == string output on real data).
    */
  def crossDocSpanStats(docs: DataFrame, idCol: String, textCol: String, w: Int,
                        spanKey: Column => Column = identity): DataFrame = {
    require(w > 0, "span width must be positive")
    // explode the start positions, build each span post-Generate in
    // codegen (slice + concat_ws): the previous `transform` lambda was
    // CodegenFallback — interpreted per span, dominating this operator's
    // runtime (VERDICT r5 item 4; TimeQ 3.1 s at sf0.1 pre-rewrite)
    val spans = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${w - 1})")).as("i"))
      .select(col("doc_id"),
        spanKey(expr(s"concat_ws(' ', slice(toks, i, $w))")).as("span"))
    // document frequency per span over DISTINCT (doc, span): the
    // distinct is the map-side-combinable projection
    val spanDf = spans.select("doc_id", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("__ndocs"))
    val perDoc = spans.join(spanDf, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_spans")))
  }

  /** X2: substring-level dedup, removal half — produce the CLEANED
    * corpus: drop every token covered by a `w`-word span that occurs
    * elsewhere in the corpus, keeping each duplicated span's first
    * occurrence (lexicographic minimum `(doc_id, pos)` struct — no
    * bound on position or doc id). Documents
    * shorter than `w` words pass through unchanged. Output:
    * `(doc_id, n_kept, clean_text)`.
    *
    * Plan shape at scale, all linear in corpus tokens: spans explode
    * (×~1 rows per token), one span-keyed aggregation for (document
    * frequency, first occurrence), one span-keyed join back, covered
    * positions aggregated to one sorted array per affected doc, a
    * doc-keyed join at one row per document, and an in-row codegen
    * merge scan that drops covered tokens — token rows themselves are
    * never shuffled (no window, no global sort). `spanKey` as
    * in [[crossDocSpanStats]]: identity = exact oracle path,
    * `xxhash64(_)` = the 100 TB shuffle-shrinking path (spec-pinned
    * equal on real data).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String, w: Int,
                           spanKey: Column => Column = identity): DataFrame = {
    require(w > 0, "span width must be positive")
    val toks = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    // start positions exploded first, spans built post-Generate in
    // codegen — same interpreted-`transform` removal as
    // [[crossDocSpanStats]]; `i` is already the 1-based position
    val spans = toks
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${w - 1})")).as("i"))
      .select(col("doc_id"), col("i").as("pos"),
        spanKey(expr(s"concat_ws(' ', slice(toks, i, $w))")).as("span"))
    // corpus-first occurrence = lexicographic min over (doc_id, pos)
    // structs — no arithmetic key packing, so no bound on position or
    // doc id (the earlier doc_id*1e6+pos encoding silently corrupted
    // selection past 1e6 tokens or on negative ids)
    val stats = spans
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("__ndocs"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
    // every occurrence of a cross-doc span EXCEPT the corpus-first one
    val dupOcc = spans.join(stats, "span")
      .filter(col("__ndocs") >= 2 &&
        !(col("doc_id") === col("__first.doc_id") && col("pos") === col("__first.pos")))
    // Rebuild in-row, not by shuffling tokens: covered positions
    // aggregate to ONE sorted array per affected document (shuffle
    // volume = duplicated positions only), join back to the tokenized
    // docs at one row per document, and a codegen merge scan
    // ([[graft.functions.RemoveCoveredTokens]], O(|toks| + |cov|))
    // drops the covered tokens. The previous reassembly exploded every
    // token in the corpus through an anti join and a collect_list +
    // array_sort aggregation — two full-corpus shuffles of (doc, pos,
    // token) rows that this plan never materializes. n_kept is
    // arithmetic: cov is distinct and within [1, size(toks)].
    val covered = dupOcc
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${w - 1})")).as("tpos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("tpos"))).as("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce((size(col("toks")) - coalesce(size(col("cov")), lit(0))).cast("long"),
          lit(0L)).as("n_kept"),
        coalesce(
          when(col("cov").isNull, concat_ws(" ", col("toks")))
            .otherwise(graft.functions.TextScanFunctions.removeCoveredTokens(
              col("toks"), col("cov"))),
          lit("")).as("clean_text"))
  }

  /** X1: canonical-document selection — the keep-one half of exact
    * dedup: group documents by content key, pick one canonical
    * representative per group by `orderCols` (first wins), and map
    * every document to its canonical id. Downstream consumers keep
    * rows with `is_canonical` and use the mapping to re-point
    * references. One shuffle on the content key; the rank window's
    * partitions are dup groups (tiny — no skew concern beyond a
    * pathological mega-duplicate, which exact dedup upstream caps).
    */
  def canonicalKeep(docs: DataFrame, idCol: String, keyCol: Column,
                    orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    docs
      .withColumn("__rn", row_number().over(w))
      .withColumn("group_n", count(lit(1)).over(Window.partitionBy(keyCol)))
      .withColumn("canonical_id", first(col(idCol)).over(
        Window.partitionBy(keyCol).orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("is_canonical", col("__rn") === 1)
      .drop("__rn")
  }

  /** X2 (exact n-gram Jaccard): all pairs with
    * |A∩B| / |A∪B| >= `num/den`, computed over the shingle
    * inverted index — pairs sharing zero shingles are never
    * materialized. The threshold test `den·inter >= num·union` stays
    * in exact integer arithmetic.
    *
    * Hot-shingle cap: a shingle shared by M documents contributes M²
    * rows to the self-join, and at corpus scale boilerplate shingles
    * ("all rights reserved …") have M in the millions. Shingles with
    * document frequency > `maxDocFreq` are dropped from the inverted
    * index BEFORE the join (the standard LSH prefilter). Document
    * sizes still count every shingle, so dropping can only lower the
    * measured intersection — the cap introduces false NEGATIVES on
    * pairs whose overlap is mostly boilerplate (which is the point),
    * never false positives.
    */
  def jaccardPairs(shingles: DataFrame, num: Int, den: Int,
                   maxDocFreq: Int = 128): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Int.MaxValue = uncapped: skip the per-shingle df window entirely.
    // Oracle-checked callers MUST use this (the DuckDB oracles are
    // uncapped, so any dropped hot shingle would diverge from them);
    // the capped default is the scale path only.
    val rare =
      if (maxDocFreq == Int.MaxValue) shingles
      else shingles
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__df") <= maxDocFreq)
        .drop("__df")
    val a = rare.select(col("doc_id").as("doc1"), col("sh"))
    val b = rare.select(col("doc_id").as("doc2"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select("doc1", "doc2", "inter", "uni")
  }

  /** X2 (cross-corpus): train/eval contamination check — for each
    * eval document, its best-matching train document by n-gram
    * Jaccard, via the same shingle inverted index as [[jaccardPairs]]
    * but across two corpora (the benchmark-leakage test every
    * training-data pipeline runs before shipping a dataset).
    *
    * Only eval docs sharing at least one (sub-`maxDocFreq`) shingle
    * with some train doc appear — absent means "no contamination
    * candidate". `jaccard` is a single double division of exact
    * integers, so it is oracle-reproducible; top-1 selection
    * tiebreaks on train doc id. Scale shape: inverted-index join
    * keyed on the shingle (never eval×train), hot shingles capped as
    * in [[jaccardPairs]]; the top-1 rank runs per eval doc
    * (WindowGroupLimit keeps it partial).
    */
  def contamination(trainShingles: DataFrame, evalShingles: DataFrame,
                    maxDocFreq: Int = 128): DataFrame = {
    val trainSizes = trainShingles.groupBy("doc_id").agg(count(lit(1)).as("n_t"))
    val evalSizes = evalShingles.groupBy("doc_id").agg(count(lit(1)).as("n_e"))
    val rareTrain =
      if (maxDocFreq == Int.MaxValue) trainShingles
      else trainShingles
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__df") <= maxDocFreq)
        .drop("__df")
    val inter = evalShingles.select(col("doc_id").as("eval_doc"), col("sh"))
      .join(rareTrain.select(col("doc_id").as("train_doc"), col("sh")), Seq("sh"))
      .groupBy("eval_doc", "train_doc").agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(evalSizes.withColumnRenamed("doc_id", "eval_doc"), "eval_doc")
      .join(trainSizes.withColumnRenamed("doc_id", "train_doc"), "train_doc")
      .withColumn("uni", col("n_e") + col("n_t") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
    val w = Window.partitionBy(col("eval_doc"))
      .orderBy(col("jaccard").desc, col("train_doc"))
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select("eval_doc", "train_doc", "inter", "uni", "jaccard")
  }

  /** X2 contamination at 100 TB: Bloom-filter decontamination.
    * [[contamination]] shuffle-joins EVERY train shingle against the
    * eval set — exact, but it moves the whole train corpus. When the
    * eval benchmarks are small and the answer is flag-then-audit, the
    * scale path never shuffles train at all: hash each eval shingle's
    * `k` probe positions into ONE fixed-size bitmap (a
    * map-side-combinable aggregate, [[graft.functions.Aggregators.BitmapOrAgg]]),
    * broadcast the bitmap (mBits/8 bytes — 128 KiB here for 2^20),
    * and test train shingles with a scan-local HOF probe. The only
    * train-side shuffle is the per-doc verdict aggregation.
    *
    * One-sided error: a shingle present in eval ALWAYS probes true
    * (no false negatives — nothing contaminated slips through); a
    * false-positive probe needs all `k` positions set by accident
    * (rate ~ fill^k; size mBits >= ~1.5 * k * distinct eval shingles
    * for low fill). Probe positions are a pure hash of
    * (shingle, probe-index), so the bitmap AND every verdict is
    * deterministic — approximate only in its one-sided false
    * positives, never in its execution. `probeHash` defaults to
    * xxhash64 (fastest); pass the [[md5TokenHash]]-based form for a
    * filter an external SQL engine reproduces bit-for-bit (the
    * `x2_bloom_decontam` oracle does — md5 is ~3× slower and is that
    * query's dominant cost, the same oracle tax as
    * `t_sample_stratified`).
    *
    * Output per train doc: `n_shingles`, `n_hit` (shingles whose k
    * positions are all set), `flagged` (n_hit > 0). Train docs with
    * fewer than `w` tokens have no shingles and are absent (same
    * contract as [[wordShingles]]).
    */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame,
                         w: Int, mBits: Int, k: Int,
                         idCol: String = "doc_id", textCol: String = "text",
                         probeHash: (Column, Column) => Column = (sh, i) => xxhash64(sh, i))
      : DataFrame = {
    val bm = bloomBitmap(eval, w, mBits, k, idCol, textCol, probeHash)
    // Train-side distinct stays ARRAY-LOCAL (array_distinct inside the
    // scan projection), so the only train shuffle is the map-side-
    // combinable per-doc verdict agg — never the shingle text
    // (wordShingles' row-wise distinct() would shuffle it all). The k
    // probes are UNROLLED columns, not a HOF lambda: higher-order
    // functions fall back to interpreted eval, which made ~1.5M md5
    // calls ~4× slower than this whole-stage-codegen'd form.
    def bitSet(p: String): String =
      s"""(shiftright(element_at(__bm, CAST($p div 64 AS INT) + 1),
         |            CAST($p % 64 AS INT)) & 1) = 1""".stripMargin
    val hit = (0 until k).map(i => bitSet(s"__p$i")).mkString("(", ") AND (", ")")
    (0 until k).foldLeft(
      train
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
        .filter(size(col("__toks")) >= w)
        .select(col("doc_id"), shingleArray(w).as("__shs"))
        .select(col("doc_id"), size(col("__shs")).cast("long").as("n_shingles"),
          explode(col("__shs")).as("sh"))
        .join(broadcast(bm))) { (df, i) =>
        df.withColumn(s"__p$i",
          pmod(probeHash(col("sh"), lit(i)), lit(mBits.toLong)))
      }
      .withColumn("__hit", expr(hit))
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(col("__hit").cast("long")).as("n_hit"))
      .withColumn("flagged", col("n_hit") > 0)
  }

  /** The broadcastable Bloom bitmap over `eval`'s shingles: ONE row,
    * `__bm ARRAY<BIGINT>` of mBits/64 words. Build it once per eval
    * set (persist like any index); both decontamination variants and
    * the streaming filter probe the same artifact.
    */
  def bloomBitmap(eval: DataFrame, w: Int, mBits: Int, k: Int,
                  idCol: String = "doc_id", textCol: String = "text",
                  probeHash: (Column, Column) => Column = (sh, i) => xxhash64(sh, i))
      : DataFrame = {
    require(k > 0, "k must be positive")
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    val bitmapUdaf = udaf(new graft.functions.Aggregators.BitmapOrAgg(mBits),
      org.apache.spark.sql.Encoders.scalaLong)
    // probe index exploded first, the hash computed post-Generate in
    // codegen — not an interpreted per-element `transform` lambda
    wordShingles(eval, idCol, textCol, w)
      .select(col("sh"), explode(expr(s"sequence(0, ${k - 1})")).as("__i"))
      .select(pmod(probeHash(col("sh"), col("__i")), lit(mBits.toLong)).as("__pos"))
      .agg(bitmapUdaf(col("__pos")).as("__bm"))
  }

  // distinct w-token shingles as an in-row ARRAY. The CASE keeps the
  // expression total: callers filter short docs, but an eagerly-
  // evaluated projection (local relations, reordered plans) must not
  // hit sequence(1, <0), which turns DESCENDING and feeds slice(0)
  private def shingleArray(w: Int): Column = expr(
    s"""CASE WHEN size(__toks) >= $w
       |     THEN array_distinct(transform(sequence(1, size(__toks) - ${w - 1}),
       |            i -> concat_ws(' ', slice(__toks, i, $w))))
       |     ELSE slice(__toks, 1, 0) END""".stripMargin)

  /** STATELESS per-row variant of [[bloomDecontaminate]] against a
    * prebuilt [[bloomBitmap]]: the whole verdict (shingle → k probes →
    * all-bits-set) evaluates inside the document's own row via HOFs —
    * no explode, no aggregation, no state, and no shuffle beyond
    * [[graft.sources.LayoutOps.spread]] widening a batch input that has
    * fewer partitions than cores. Identical
    * output (spec-pinned). This is the STREAMING form: an unbounded
    * document stream joins the one-row static bitmap (stream-static
    * broadcast) and filters micro-batch by micro-batch with zero state
    * store ([[graft.streaming.StreamOps.decontaminateStream]]).
    * Batch callers at full-corpus scale prefer [[bloomDecontaminate]]:
    * the HOF probe is interpreted per element, ~4× slower per shingle
    * than its codegen'd unrolled probes.
    */
  def bloomDecontaminateStateless(docs: DataFrame, bloomBm: DataFrame,
                                  w: Int, mBits: Int, k: Int,
                                  idCol: String = "doc_id", textCol: String = "text",
                                  probeHashSql: (String, String) => String =
                                    (sh, i) => s"xxhash64($sh, $i)")
      : DataFrame = {
    require(k > 0, "k must be positive")
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    LayoutOps.spread(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .filter(size(col("__toks")) >= w)
      .select(col("doc_id"), shingleArray(w).as("__shs"))
      .join(broadcast(bloomBm))
      .withColumn("n_shingles", size(col("__shs")).cast("long"))
      .withColumn("n_hit", expr(
        s"""CAST(size(filter(__shs, sh -> forall(
           |  transform(sequence(0, ${k - 1}),
           |    i -> pmod(${probeHashSql("sh", "i")}, CAST($mBits AS BIGINT))),
           |  p -> (shiftright(element_at(__bm, CAST(p div 64 AS INT) + 1),
           |                   CAST(p % 64 AS INT)) & 1) = 1))) AS BIGINT)""".stripMargin))
      .withColumn("flagged", col("n_hit") > 0)
      .select("doc_id", "n_shingles", "n_hit", "flagged")
  }

  /** MinHash signature per document: `sig[i] = min over shingles of
    * xxhash64(i, shingle)`. `numHashes` independent hash functions come
    * from seeding xxhash64 with the function index.
    */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles.groupBy("doc_id").agg(
      array((0 until numHashes).map(i => min(xxhash64(lit(i), col("sh")))): _*).as("sig"))

  /** X2 (MinHash + LSH): candidate pairs whose signatures collide in at
    * least one of `bands` bands (rows = numHashes/bands), then verified
    * with exact Jaccard. False negatives possible (LSH recall), false
    * positives eliminated by the verify join. At scale each band is one
    * shuffle on (band, band_hash) — never a cross join.
    */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleW: Int, numHashes: Int, bands: Int,
                      num: Int, den: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the shingle set feeds three consumers (signatures, sizes, the
    // verify join x2); measured r1: persist() lost to lazy
    // re-derivation; re-measured r3: localCheckpoint
    val sh = freeze(wordShingles(docs, idCol, textCol, shingleW))
    minHashLshPairsIndexed(minHashBandedFromShingles(sh, numHashes, bands), sh, num, den)
  }

  /** The banded LSH bucket table from a shingle table — the TEXT-side
    * index artifact (what [[minHashLshPairsIndexed]] probes), shaped
    * (doc_id, band, bhash). Band index exploded first, the band hash
    * computed post-Generate in codegen (hash + slice) — no interpreted
    * `transform` lambda.
    */
  def minHashBandedFromShingles(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minHashSignatures(sh, numHashes)
      .select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .select(col("doc_id"), col("band"),
        expr(s"hash(slice(sig, band * $r + 1, $r), band)").as("bhash"))
  }

  /** [[minHashLshPairs]] against prebuilt artifacts: the banded bucket
    * table and the shingle table (persist both via
    * [[loadOrBuildMinHashIndex]]). At 100 TB shingling + 64 hash
    * passes over the corpus dominate the query — they belong in the
    * index build, not in every pair scan; the per-call work here is
    * the band-bucket self-join plus exact-Jaccard verification of the
    * candidates.
    */
  def minHashLshPairsIndexed(banded: DataFrame, sh: DataFrame,
                             num: Int, den: Int): DataFrame = {
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
    // verify candidates with exact Jaccard over shingle sets
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc1"), col("sh")), Seq("doc1"))
      .join(sh.select(col("doc_id").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
      .filter(col("sh") === col("sh2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), "doc2")
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select("doc1", "doc2", "inter", "uni")
  }

  /** Persisted MinHash-LSH index over `docs` — the IndexStore
    * lifecycle (sidecar, drift signature, atomic commit) applied to
    * the text-dedup family: the distinct shingle table and the banded
    * bucket table stored as sibling parquet tables under `indexPath`.
    * The banded table derives from the PERSISTED shingles, so a warm
    * load of both costs two parquet reads and zero corpus scans.
    * Returns (banded, shingles).
    */
  def loadOrBuildMinHashIndex(docs: DataFrame, idCol: String, textCol: String,
                              shingleW: Int, numHashes: Int, bands: Int,
                              indexPath: String, rebuild: Boolean = false)
      : (DataFrame, DataFrame) = {
    val sh = IndexStore.loadOrBuild(docs, s"minhash-shingles:w=$shingleW",
      s"$indexPath/shingles", rebuild) {
      wordShingles(docs, idCol, textCol, shingleW)
    }
    val banded = IndexStore.loadOrBuild(docs,
      s"minhash-banded:w=$shingleW,numHashes=$numHashes,bands=$bands",
      s"$indexPath/banded", rebuild) {
      minHashBandedFromShingles(sh, numHashes, bands)
    }
    (banded, sh)
  }

  /** INCREMENTAL MinHash index maintenance (VERDICT r8 item 5) — the
    * 100 TB append path for [[loadOrBuildMinHashIndex]]: shingles and
    * band hashes are per-document (no cross-corpus state), so new
    * documents shingle + hash in O(|delta|) and append to both stored
    * tables, where a rebuild re-scans the full corpus.
    *
    * Same protocol and freshness guard as [[IvfIndex.appendToLists]]:
    * snapshot `preAppendSig = IvfIndex.corpusSig(docs)` BEFORE
    * appending to the corpus store; both sidecars must equal exactly
    * what a fresh pre-append build stamped (params + pre-append
    * signature) or the delta would extend a missing/stale/
    * differently-parameterized index — any mismatch falls back to a
    * full rebuild over `corpusAfterAppend`. Writes commit in
    * (shingles, stamp, banded, stamp) order, so a crash at any point
    * leaves sidecars that force the NEXT load to rebuild only what is
    * actually behind (stale-sidecar-means-rebuild, never wrong).
    * Returns (banded, shingles) read back from the store.
    */
  def appendToMinHashIndex(newDocs: DataFrame, idCol: String, textCol: String,
                           shingleW: Int, numHashes: Int, bands: Int,
                           corpusAfterAppend: DataFrame, indexPath: String,
                           preAppendSig: String): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val shParams = s"minhash-shingles:w=$shingleW"
    val bandParams = s"minhash-banded:w=$shingleW,numHashes=$numHashes,bands=$bands"
    val fresh =
      IndexStore.readMetaRaw(corpusAfterAppend, s"$indexPath/shingles")
        .contains(IndexStore.render(shParams, preAppendSig)) &&
      IndexStore.readMetaRaw(corpusAfterAppend, s"$indexPath/banded")
        .contains(IndexStore.render(bandParams, preAppendSig))
    if (fresh) {
      // re-appended previously-deleted ids are RESURRECTED (tombstones
      // pruned in both tables, stored rows live again) and excluded
      // from the delta — shingling them again would duplicate their
      // rows and inflate Jaccard set sizes (ADVICE r14; id↔content
      // discipline documented on IndexStore.resurrectOrFilter)
      val toAppend = IndexStore.resurrectOrFilter(newDocs, idCol, "doc_id",
        Seq(s"$indexPath/shingles", s"$indexPath/banded"))
      val deltaSh = freeze(wordShingles(toAppend, idCol, textCol, shingleW))
      deltaSh.write.mode("append").parquet(s"$indexPath/shingles")
      IndexStore.stamp(corpusAfterAppend, shParams, s"$indexPath/shingles")
      minHashBandedFromShingles(deltaSh, numHashes, bands)
        .write.mode("append").parquet(s"$indexPath/banded")
      IndexStore.stamp(corpusAfterAppend, bandParams, s"$indexPath/banded")
      // read back through IndexStore.read so any still-standing
      // tombstones (from deletes of OTHER ids) keep subtracting
      (IndexStore.read(spark, s"$indexPath/banded"),
        IndexStore.read(spark, s"$indexPath/shingles"))
    } else {
      System.err.println(
        s"DedupOps.appendToMinHashIndex: stored index at $indexPath is missing, stale, " +
          "or built with different parameters — falling back to a full rebuild")
      loadOrBuildMinHashIndex(corpusAfterAppend, idCol, textCol,
        shingleW, numHashes, bands, indexPath, rebuild = true)
    }
  }

  /** O(delta) DELETE from the persisted MinHash-LSH index — tombstone
    * the removed documents' ids in BOTH stored tables (shingles and
    * banded buckets, id column `doc_id`) instead of re-shingling the
    * corpus. Same protocol as [[appendToMinHashIndex]]: snapshot
    * `preDeleteSig = IvfIndex.corpusSig(docs)` BEFORE deleting from
    * the corpus store, then call with the deleted ids and the
    * post-delete corpus. Both sidecars are checked up front, so the
    * tombstones commit to both tables or neither; returns false when
    * either is missing/stale/differently-parameterized — the caller
    * rebuilds via `loadOrBuildMinHashIndex(..., rebuild = true)`
    * (which clears tombstones). Readers subtract tombstones through
    * [[IndexStore.read]]; [[IndexStore.compact]] on each table folds
    * them in. Re-appending a deleted id via [[appendToMinHashIndex]]
    * resurrects it. NOTE the gate artifacts ([[loadOrBuildMinHashGate]])
    * and any persisted KMV sketch tables are REBUILD-ONLY under
    * deletes: sketches are one-way aggregates (elements cannot be
    * subtracted from a KMV/HLL), so a delete invalidates them — their
    * drift signatures see the corpus change and rebuild on next load.
    */
  def deleteFromMinHashIndex(deletedIds: DataFrame, idCol: String,
                             shingleW: Int, numHashes: Int, bands: Int,
                             corpusAfterDelete: DataFrame, indexPath: String,
                             preDeleteSig: String): Boolean = {
    val shParams = s"minhash-shingles:w=$shingleW"
    val bandParams = s"minhash-banded:w=$shingleW,numHashes=$numHashes,bands=$bands"
    val fresh =
      IndexStore.readMetaRaw(corpusAfterDelete, s"$indexPath/shingles")
        .contains(IndexStore.render(shParams, preDeleteSig)) &&
      IndexStore.readMetaRaw(corpusAfterDelete, s"$indexPath/banded")
        .contains(IndexStore.render(bandParams, preDeleteSig))
    if (!fresh) false
    else {
      val ids = deletedIds.select(col(idCol).as("doc_id"))
      IndexStore.deleteFrom(ids, "doc_id", shParams,
        s"$indexPath/shingles", corpusAfterDelete, preDeleteSig) &&
      IndexStore.deleteFrom(ids, "doc_id", bandParams,
        s"$indexPath/banded", corpusAfterDelete, preDeleteSig)
    }
  }

  /** Fold any tombstones into both stored MinHash tables
    * ([[IndexStore.compact]] on shingles and banded buckets). */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String): Unit = {
    IndexStore.compact(spark, s"$indexPath/shingles")
    IndexStore.compact(spark, s"$indexPath/banded")
  }

  /** X2/X6: STATELESS per-row MinHash-LSH near-dup gate against the
    * persisted index ([[loadOrBuildMinHashIndex]]) — "is this incoming
    * document a near-duplicate of anything already in the corpus?",
    * the text-side sibling of [[graft.llm.SimilarityOps.ivfNearDupGateIndexed]]
    * and the third ingest gate beside the Bloom decontaminator and the
    * ANN gate. Each emitted row is an exact-Jaccard-verified
    * (in_id, corpus_id) hit; a silent row is a novel document.
    *
    * Streaming-safe by construction: everything per-document — the
    * shingle set, the
    * `numHashes` signature, and the band hashes — evaluates INSIDE the
    * incoming row via higher-order functions (no groupBy, so no state
    * store), and the corpus side enters only through stream-static
    * equi-joins on precomputed tables. A candidate pair colliding in
    * several bands would emit once per band; the gate instead keeps
    * each pair only at its FIRST matching band — decided per-row by
    * comparing the incoming row's band-hash array against the
    * candidate's stored one — so output pairs are exactly-once with
    * zero distinct/aggregation. The signature/band-hash expressions
    * are term-for-term the ones [[minHashBandedFromShingles]] builds
    * the index with, so gate candidates equal index-build candidates.
    *
    * Static-side preparation (batch, once per index load): the banded
    * table self-grouped to per-doc band-hash arrays (bands longs/doc)
    * and the shingle table grouped to per-doc sets — both
    * O(corpus) rows, joined on (band, bhash) and corpus id
    * respectively, so only colliding buckets are touched per batch.
    *
    * @return (in_id, corpus_id, inter LONG, uni LONG) — verified pairs
    *         with Jaccard = inter/uni ≥ num/den, corpus self-matches
    *         excluded
    */
  def minHashGateIndexed(incoming: DataFrame, banded: DataFrame, sh: DataFrame,
                         idCol: String, textCol: String, shingleW: Int,
                         numHashes: Int, bands: Int,
                         num: Int, den: Int): DataFrame = {
    val (bandedC, shSets) = minHashGateArtifacts(banded, sh)
    minHashGatePrepared(incoming, bandedC, shSets, idCol, textCol,
      shingleW, numHashes, bands, num, den)
  }

  /** The gate's corpus-side artifacts, derived from the stored
    * MinHash index tables: the banded buckets joined with each doc's
    * full band-hash array (what the first-matching-band rule compares
    * against) and the per-doc shingle sets (what exact-Jaccard verify
    * reads). Deriving these is two corpus-sized aggregations — per
    * GATE CALL that is the dominant cost, so the production shape
    * persists them once via [[loadOrBuildMinHashGate]] and every
    * batch/micro-batch pays only the probe-side work. The band table
    * carries the bands-long hash array on every band row (~bands²
    * longs per doc) — the classic index space-for-time trade, and why
    * it is stored rather than carried through the per-call plan.
    */
  def minHashGateArtifacts(banded: DataFrame, sh: DataFrame): (DataFrame, DataFrame) = {
    val bandArrays = banded.groupBy(col("doc_id").as("corpus_id"))
      .agg(expr("transform(array_sort(collect_list(struct(band, bhash))), x -> x.bhash)")
        .as("__cbh"))
    val bandedC = banded.select(col("doc_id").as("corpus_id"),
        col("band").as("__band"), col("bhash").as("__bhash"))
      .join(bandArrays, "corpus_id")
    val shSets = sh.groupBy(col("doc_id").as("corpus_id"))
      .agg(collect_set(col("sh")).as("__csh"))
    (bandedC, shSets)
  }

  /** PERSISTED gate artifacts ([[minHashGateArtifacts]]) under the
    * IndexStore lifecycle (sidecar-signed against the corpus, atomic
    * commit, drift → rebuild), derived from — and stored beside — the
    * [[loadOrBuildMinHashIndex]] tables. A warm load is two parquet
    * reads; the streaming gate then probes with zero corpus-sized
    * work per micro-batch. Returns (bandedGate, shingleSets).
    */
  def loadOrBuildMinHashGate(docs: DataFrame, idCol: String, textCol: String,
                             shingleW: Int, numHashes: Int, bands: Int,
                             indexPath: String, rebuild: Boolean = false)
      : (DataFrame, DataFrame) = {
    val (banded, sh) = loadOrBuildMinHashIndex(docs, idCol, textCol,
      shingleW, numHashes, bands, indexPath, rebuild)
    val params = s"minhash-gate:w=$shingleW,numHashes=$numHashes,bands=$bands"
    val bandedC = IndexStore.loadOrBuild(docs, params,
      s"$indexPath/gate_bands", rebuild) {
      minHashGateArtifacts(banded, sh)._1
    }
    val shSets = IndexStore.loadOrBuild(docs, params,
      s"$indexPath/gate_shsets", rebuild) {
      minHashGateArtifacts(banded, sh)._2
    }
    (bandedC, shSets)
  }

  /** [[minHashGateIndexed]] against PREPARED corpus artifacts
    * ([[minHashGateArtifacts]] / [[loadOrBuildMinHashGate]]) — the
    * per-call plan is purely probe-sized: in-row shingle/signature/
    * band-hash evaluation plus two equi-joins against the stored
    * tables.
    */
  def minHashGatePrepared(incoming: DataFrame, bandedC: DataFrame, shSets: DataFrame,
                          idCol: String, textCol: String, shingleW: Int,
                          numHashes: Int, bands: Int,
                          num: Int, den: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // per-row probe: shingles → signature → band hashes, all in-row.
    // The signature+banding runs as ONE native codegen expression
    // (functions/MinHashBandHashes) — the HOF formulation
    // (transform/array_min/xxhash64 nests) paid interpreted-lambda
    // dispatch on every one of the numHashes × |shingles| hash
    // evaluations, the measured dominant cost of the gate; the
    // expression is spec-pinned bit-equal to those HOFs, i.e. to what
    // minHashBandedFromShingles built the stored index with.
    val probes = incoming
      .select(col(idCol).as("in_id"), split(col(textCol), " ").as("__toks"))
      .filter(size(col("__toks")) >= shingleW)
      .select(col("in_id"), shingleArray(shingleW).as("__shq"))
      .withColumn("__mbh", graft.functions.MinHashFunctions
        .minHashBandHashes(col("__shq"), numHashes, bands))
      .select(col("in_id"), col("__shq"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("__band"), col("__mbh"))
      .withColumn("__bhash", expr("element_at(__mbh, __band + 1)"))
    probes
      .join(bandedC, Seq("__band", "__bhash"))
      .filter(col("in_id") =!= col("corpus_id"))
      // keep the pair only at its first matching band — exactly-once
      // emission without distinct (stateless under streaming)
      .filter(col("__band") === expr(
        s"""aggregate(sequence(0, ${bands - 1}), $bands,
           |  (acc, i) -> IF(acc < $bands, acc,
           |    IF(element_at(__mbh, i + 1) = element_at(__cbh, i + 1), i, acc)))""".stripMargin))
      .join(shSets, "corpus_id")
      .withColumn("inter", size(array_intersect(col("__shq"), col("__csh"))).cast("long"))
      .withColumn("uni",
        (size(col("__shq")) + size(col("__csh"))).cast("long") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select("in_id", "corpus_id", "inter", "uni")
  }

  /** Near-dup clustering: connected components over a pair list —
    * every document joined (transitively) by a near-dup edge gets
    * `cluster_id` = the smallest doc id in its component.
    *
    * Alternating **large-star / small-star** iteration (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewires every node toward its neighborhood minimum, halving
    * component diameter, so a length-L chain converges in O(log L)
    * rounds where plain min-label propagation needs L. The driver loop
    * is control flow only; data never leaves executors.
    *
    * Per-round cost discipline: the edge set is frozen
    * (truncating lineage so round k does not re-resolve rounds 1..k-1),
    * and convergence is ONE tiny aggregate over the checkpointed
    * partitions — a (count, hash-sum) edge-set signature; a fixed point
    * of the iteration leaves the set bit-identical. A signature match
    * is then confirmed with an exact set difference (runs once, at the
    * true fixed point), so a hash collision can never end the loop
    * early with wrong labels.
    *
    * Small-graph fast path: when the deduplicated edge set is at most
    * `localEdgeThreshold` rows (known for free from the checkpointed
    * count), the components are solved with driver-side union-find
    * instead of the iteration. This is latency engineering, not a
    * semantics change — each alternating-star round costs ~5 shuffles
    * plus two eager actions, a multi-second floor even for a
    * 300-edge graph — and it mirrors AQE's philosophy of adapting the
    * plan to the observed size. The distributed path is the default
    * the moment the edge list could not trivially sit on the driver
    * (threshold 64Ki edges ≈ 1 MB); both paths produce identical
    * labels (spec-pinned) and the iteration is forced in tests with
    * `localEdgeThreshold = 0`. Doc ids must be integral (long).
    *
    * @param pairs (doc1, doc2) undirected near-dup edges
    * @param roundHook observability tap for the skew soak (tools/CcSoak):
    *   called once per alternating-star round with (round, edgeCount) —
    *   the count is free (it rides the convergence signature). No-op by
    *   default; never changes the labels.
    * @return (doc_id, cluster_id) for every doc appearing in a pair
    */
  def clusterNearDups(pairs: DataFrame, maxIter: Int = 50,
                      localEdgeThreshold: Long = 65536,
                      roundHook: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    // materialize the pair list ONCE: it is typically the output of an
    // expensive join (shingle/LSH/IVF verify), and it feeds three
    // consumers below (nodes twice, edges once) — without this the
    // upstream join re-executes per consumer and dominates the whole
    // clustering (measured 3x the loop cost on x2_dup_clusters)
    val p0 = freeze(pairs)
    val nodes = p0.select(col("doc1").as("doc_id"))
      .union(p0.select(col("doc2").as("doc_id")))
      .distinct()

    // directed u > v, self-loops dropped
    var edges = freeze(p0
      .select(greatest(col("doc1"), col("doc2")).as("u"),
        least(col("doc1"), col("doc2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    // order-free edge-set signature: equal sets => equal signature.
    // Used only as a cheap convergence PREFILTER — a signature match is
    // confirmed with an exact exceptAll below, so a collision (or a
    // wrapped sum) costs one extra set-difference job, never an early
    // exit on a non-fixed-point. Hashes are mod-reduced before summing
    // so the ANSI-mode sum cannot overflow below ~9e9 edges per
    // partition tree.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)

    if (sig._1 <= localEdgeThreshold) {
      // union-find with path compression; label = min doc id per
      // component, exactly what the iteration converges to
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { row =>
        // tolerate any integral id type (the distributed path does)
        val (u, v) = (row.get(0).asInstanceOf[Number].longValue(),
          row.get(1).asInstanceOf[Number].longValue())
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val labels = parent.keys.map(x => (x, find(x))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      val labelDf = labels.toDF("doc_id", "cluster_id")
      return nodes.join(labelDf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: every neighbor y > x links to m(x) = min(N(x) ∪ {x})
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val large = nbrs.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: smaller neighbors (and u itself) link to min(N<(u))
      val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = freeze(large.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct())
      val nsig = signature(next)
      // both sides are distinct sets and the signatures carry counts,
      // so equal count + empty one-sided difference ⇒ set equality;
      // both frames are already frozen, so this reads
      // materialized partitions, not recomputed lineage
      converged = nsig == sig && next.exceptAll(edges).isEmpty
      sig = nsig
      edges = next
      iter += 1
      roundHook(iter, nsig._1)
    }

    // at the fixed point every non-min node has exactly one edge, to
    // its component min; min(v) also covers a maxIter-truncated run
    val labels = edges.groupBy("u").agg(min(col("v")).as("cluster_id"))
      .select(col("u").as("doc_id"), col("cluster_id"))
    nodes.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** INCREMENTAL transitive clustering — fold a DELTA of near-dup
    * pairs into an EXISTING labeling without re-clustering the
    * corpus: the daily-ingest path. Prior labels enter the edge set
    * as star edges (member → its cluster_id), which preserve old
    * connectivity exactly while replacing each old component's full
    * pair set with a depth-1 star — so the alternating-star iteration
    * re-converges in rounds proportional to the CHANGE's structure,
    * and the per-round edge volume is |old components' members| +
    * |delta|, not |all historical pairs|.
    *
    * Labels equal a from-scratch [[clusterNearDups]] over (old pairs
    * ∪ delta pairs) — spec-pinned, and oracle-pinned by
    * `x2_dup_clusters_incremental` against the full-recompute
    * recursive-CTE oracle: every old member stays reachable from its
    * old minimum through the star, and min-per-component does not
    * care which spanning edges represent the component.
    *
    * Pairs with both ends in the old corpus must already be reflected
    * in `oldLabels` (they are, when the delta pair source probes
    * new docs against the full index — e.g.
    * [[minHashGatePrepared]]'s output normalized to undirected
    * pairs).
    *
    * @param oldLabels (doc_id, cluster_id) from a prior clustering
    * @param deltaPairs (doc1, doc2) new edges touching the delta
    */
  def clusterNearDupsIncremental(oldLabels: DataFrame, deltaPairs: DataFrame,
                                 maxIter: Int = 50,
                                 localEdgeThreshold: Long = 65536): DataFrame = {
    // the (min-member, min-member) self-star is a no-op edge; its node
    // stays present through the other members' stars (components have
    // >= 2 members by construction)
    val stars = oldLabels
      .select(col("doc_id").as("doc1"), col("cluster_id").as("doc2"))
      .filter(col("doc1") =!= col("doc2"))
    clusterNearDups(stars.unionByName(deltaPairs.select("doc1", "doc2")),
      maxIter, localEdgeThreshold)
  }

  /** Persisted `(doc_id, cluster_id)` labels — the STORED-STATE half of
    * the incremental clustering contract. [[clusterNearDupsIncremental]]
    * exists so a daily ingest never re-clusters the old corpus; that
    * only holds if yesterday's labels are a durable table, not a
    * recompute. Same IndexStore lifecycle as the MinHash/IVF artifacts:
    * params + corpus signature stamp a sidecar, a stale/absent sidecar
    * triggers `build` (the caller's full clustering), a fresh one is a
    * bare parquet load. The returned frame IS the `oldLabels` argument
    * the incremental fold-in wants.
    *
    * @param corpus    the corpus the labels describe (drift detection)
    * @param params    clustering parameters, e.g. "w=5,j=1/2,exact" —
    *                  anything that changes the labels must change this
    * @param indexPath where the labels table + sidecar live
    * @param build     the full clustering to run on a cold/stale store
    */
  def loadOrBuildClusterLabels(corpus: DataFrame, params: String,
                               indexPath: String, rebuild: Boolean = false)
                              (build: => DataFrame): DataFrame =
    IndexStore.loadOrBuild(corpus, s"clusterlabels:$params", indexPath, rebuild)(build)

  /** Default SimHash token hash: xxhash64 — the fast path at scale. */
  val xxTokenHash: Column => Column = xxhash64(_)

  /** Engine-neutral 60-bit token hash: the top 15 hex digits of md5,
    * parsed as an integer. Strictly slower than xxhash64 but
    * reproducible in any engine with an md5() function — which makes
    * SimHash output value-exact against an external SQL oracle (xxhash64
    * exists in no other engine). Fingerprint bits 60-63 come out 0 on
    * both sides (every token hash is < 2^60, so those bit-sums are all
    * negative).
    */
  val md5TokenHash: Column => Column =
    t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash fingerprint per document over token hashes:
    * bit j of the fingerprint is the sign of Σ_tokens (±1 by token's
    * bit j). ONE typed aggregation over token hashes — no 64× row
    * explosion; the 64 counters live in the aggregation buffer and
    * partials merge map-side ([[graft.functions.Aggregators.SimHashAgg]]).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = xxTokenHash): DataFrame = {
    val simhashUdaf = udaf(graft.functions.Aggregators.SimHashAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"), tokenHash(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(simhashUdaf(col("h")).as("fp"))
  }

  /** SimHash near-dup pairs with Hamming distance <= `maxHamming`,
    * using chunk banding: the 64-bit fingerprint splits into
    * `maxHamming + 1` chunks, so any pair within the distance must
    * agree on at least one whole chunk (pigeonhole — at most
    * `maxHamming` bits differ, hence at most `maxHamming` chunks can
    * differ). The join is on chunk equality — no cross join. Deriving
    * the chunk count from `maxHamming` (instead of a fixed 4) keeps the
    * guarantee exact for every threshold: a fixed 16-bit banding
    * silently DROPS qualifying pairs for maxHamming in 4..15.
    *
    * Chunks narrow as `maxHamming` grows (64/(h+1) bits), so collision
    * rates rise — the usual recall/cost tradeoff; `maxHamming <= 31`
    * keeps every chunk at least 2 bits wide.
    */
  def simHashPairs(fps: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val nChunks = maxHamming + 1
    // bit boundaries of nChunks near-equal chunks covering bits 0..63
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    val chunkCols = (0 until nChunks).map { c =>
      val lo = bounds(c)
      val width = bounds(c + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      expr(s"shiftright(fp, $lo) & ${mask}L")
    }
    val chunked = fps.select(col("doc_id"), col("fp"),
      posexplode(array(chunkCols: _*)).as(Seq("c", "chunk")))
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
        expr("bit_count(x.fp ^ y.fp)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sorted-neighborhood entity-resolution blocking (Hernández &
    * Stolfo '95): sort records by a blocking key, compare each record
    * only to its `w` successors in sort order, verify survivors with
    * an edit-distance gate. The classic cheap alternative to LSH when
    * near-duplicates share long prefixes (URLs, names, addresses,
    * boilerplate openings).
    *
    * Scale posture: the textbook version ranks over ONE global sort —
    * a single-reducer window. Here the neighborhood is scoped inside
    * `blockExpr` (e.g. the first token, a URL host, a key prefix), so
    * `row_number` partitions by block: each block sorts locally and
    * windows never cross blocks. That is exactly the
    * multi-pass/blocked variant the original paper recommends; recall
    * loss at block boundaries is the documented trade (run a second
    * pass with a shifted key to recover it). Neighbor generation is an
    * equi-join on (block, rn bucket): each row joins to ≤ w
    * successors, so candidate volume is ≤ w·N — linear, not O(N²) —
    * and the levenshtein verify runs only on those pairs.
    *
    * @param keyExpr   sort + comparison key (e.g. a normalized prefix)
    * @param blockExpr coarse partition key scoping the neighborhood
    * @param w         neighbors ahead to compare (window size − 1)
    * @param maxDist   keep pairs with levenshtein(key_a, key_b) ≤ this
    * @return (id_a, id_b, dist) with id_a < id_b in scan order of the
    *         sorted block — deterministic: ties in the key sort break
    *         on the id
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              keyExpr: Column, blockExpr: Column,
                              w: Int, maxDist: Int): DataFrame = {
    require(w >= 1 && maxDist >= 0)
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col(idCol).as("id"), keyExpr.as("k"), blockExpr.as("blk"))
    val ranked = keyed.withColumn("rn",
      row_number().over(Window.partitionBy(col("blk")).orderBy(col("k"), col("id"))))
    // each left row meets its next w rows via an explode over the w
    // offsets — equi-join on (blk, rn), no range condition, hashable
    val probes = ranked.select(col("id").as("id_l"), col("k").as("k_l"), col("blk"),
      explode(sequence(col("rn") + 1, col("rn") + w)).as("rn"))
    probes.join(ranked.select(col("id").as("id_r"), col("k").as("k_r"),
        col("blk"), col("rn")), Seq("blk", "rn"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        levenshtein(col("k_l"), col("k_r")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Blocked edit-distance similarity join: all pairs within a block
    * whose Levenshtein distance is <= `maxDist` — the other classic
    * entity-resolution shape beside [[sortedNeighborhoodPairs]]
    * (blocking trades the sorted window's fixed fan-out for exact
    * recall WITHIN blocks). The self-join is an equi-join on the
    * block key — hash-shuffled, never a cross join — and two cheap
    * pre-filters run before any distance evaluation: `id_a < id_b`
    * halves the pairs, and the length band |len(a)−len(b)| <= maxDist
    * (a lower bound on edit distance) discards most of the rest
    * scan-locally. The distance itself uses the threshold form of
    * `levenshtein`, whose banded DP abandons a pair the moment its
    * distance exceeds `maxDist` (O(maxDist·len) per pair, not
    * O(len²)).
    *
    * Block size bounds the quadratic term: pairs-per-block is the
    * caller's contract (pick block columns whose classes stay small —
    * same discipline every blocked dedup op in this file documents).
    *
    * @return `a_id, b_id, dist` (one row per qualifying pair)
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[Column], maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(blockCols.nonEmpty, "blocking columns are required (unblocked = cross join)")
    def side(tag: String): DataFrame = df.select(
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"__b$i") } ++
        Seq(col(idCol).as(s"${tag}_id"), col(strCol).as(s"__s_$tag")): _*)
    val bkeys = blockCols.indices.map(i => s"__b$i")
    side("a").join(side("b"), bkeys)
      .filter(col("a_id") < col("b_id"))
      .filter(abs(length(col("__s_a")) - length(col("__s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__s_a"), col("__s_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Directed shingle CONTAINMENT pairs: |S_a ∩ S_b| / |S_a| ≥
    * threshold — the asymmetric near-dup relation symmetric Jaccard
    * misses (a paragraph quoted inside a 100× larger page has tiny
    * Jaccard but containment ≈ 1; training corpora dedup on
    * containment to catch exactly these swallowed documents).
    *
    * Same inverted-index shape as [[jaccardPairs]] — pairs meet on
    * shared shingles, never doc×doc — with the same hot-shingle df
    * cap as the scale valve. Each undirected intersection row emits
    * both directions; the ppm division is exact-integer so the filter
    * replays anywhere.
    *
    * @param shingles       `(doc_id, sh)` distinct shingles
    *                       ([[wordShingles]])
    * @param minContainPpm  keep directions with
    *                       `inter·1e6 div n_contained ≥ this`
    * @return `doc_id, container_id, inter, n_sh, contain_ppm` —
    *         doc_id's shingle set is `contain_ppm`-contained in
    *         container_id's
    */
  def containmentPairs(shingles: DataFrame, minContainPpm: Long,
                       maxDocFreq: Int = 128): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val rare =
      if (maxDocFreq == Int.MaxValue) shingles
      else shingles
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__df") <= maxDocFreq)
        .drop("__df")
    val inter = rare.select(col("doc_id").as("doc1"), col("sh"))
      .join(rare.select(col("doc_id").as("doc2"), col("sh")), Seq("sh"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
    val directed = inter
      .select(col("doc1").as("doc_id"), col("doc2").as("container_id"), col("inter"))
      .unionByName(inter
        .select(col("doc2").as("doc_id"), col("doc1").as("container_id"), col("inter")))
    directed.join(sizes, "doc_id")
      .withColumn("contain_ppm", expr("inter * 1000000 div n_sh"))
      .filter(col("contain_ppm") >= minContainPpm)
      .select("doc_id", "container_id", "inter", "n_sh", "contain_ppm")
  }

  /** URL canonicalization — the dedup key normalizer every web-crawl
    * curation pipeline applies before exact URL dedup (the same page
    * arrives as `HTTPS://Host:443/path/?utm_source=x` and
    * `https://host/path`). Light, lossless-intent canonical form:
    *
    *  1. fragment dropped (`#…` is client-side only);
    *  2. scheme + host lowercased (case-insensitive per RFC 3986);
    *  3. default ports `:80`/`:443` dropped;
    *  4. tracking parameters removed (`utm_*`, `fbclid`, `gclid`)
    *     with separator repair (`?&`→`?`, trailing `?`/`&` dropped);
    *  5. one trailing path slash dropped.
    *
    * Query parameters are NOT reordered — param order can be
    * semantic, and light canonicalizers (e.g. the common crawl-dedup
    * configuration) leave it alone.
    *
    * Pure builtin `regexp_replace`/`regexp_extract` chain → stays
    * inside whole-stage codegen, no UDF; the patterns avoid
    * lookaround/backrefs so the SAME regexes replay in RE2-based
    * engines (the DuckDB oracle re-implements the chain).
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val head = lower(regexp_extract(noFrag, "^([^:/?#]+://[^/?#]*)", 1))
    val headNoPort = regexp_replace(head, ":(443|80)$", "")
    val rest = regexp_replace(noFrag, "^[^:/?#]+://[^/?#]*", "")
    val noTrack =
      regexp_replace(rest, "(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*&?", "")
    val tidied =
      regexp_replace(regexp_replace(noTrack, "\\?&", "?"), "[?&]$", "")
    val noSlash = regexp_replace(tidied, "/(\\?|$)", "$1")
    concat(headNoPort, noSlash)
  }

  /** X1 over canonicalized URLs: collapse raw crawl URLs to canonical
    * form and report, per canonical URL, the row count, the number of
    * distinct raw spellings, and the kept (minimum) id — exact dedup
    * where the KEY is [[canonicalizeUrl]]'s output.
    *
    * Plan shape: the canonical key is computed in the scan projection
    * (codegen), then ONE map-side-combinable hash aggregate — no
    * window, no join; output cardinality = |canonical URLs|.
    */
  def urlCanonDedup(df: DataFrame, urlCol: Column, idCol: Column): DataFrame =
    df.select(canonicalizeUrl(urlCol).as("canon_url"), urlCol.as("__raw"),
        idCol.as("__id"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__raw")).as("n_raw_forms"),
        min(col("__id")).as("keep_id"))
}
