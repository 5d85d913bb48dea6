package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.LayoutOps

/** Text analysis operators (SURVEY.md §2.8 X4): token statistics,
  * marker-based language scoring, quality ratios, and document
  * fingerprinting. All pure scalar-function pipelines — they stay
  * inside whole-stage codegen and need no shuffle until the final
  * aggregation (if any).
  */
object TextOps {

  /** Token statistics per document. Tokenization is whitespace split;
    * everything downstream is exact integer arithmetic plus one
    * division, so it is oracle-reproducible.
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("__toks"), col(textCol).as("__t"))
      .select(
        col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("__toks"))).cast("long").as("n_uniq"),
        (size(array_distinct(col("__toks"))).cast("double") / size(col("__toks"))).as("ttr"),
        (length(regexp_replace(col("__t"), " ", "")).cast("double") / size(col("__toks"))).as("avg_tok_len"),
        // one-pass codegen scan == array_max(transform(__toks, t -> length(t)))
        // (interpreted HOF, VERDICT r5 item 4); TextOpsSpec pins equality
        graft.functions.TextScanFunctions.maxTokenLen(col("__t")).as("longest"))

  /** Marker-token language scoring — the n-gram-heuristic shape of a
    * language identifier: count tokens from a marker set, threshold to
    * a label. Real marker tables per language plug into the same plan.
    */
  def langScore(docs: DataFrame, idCol: String, textCol: String,
                markers: Seq[String], threshold: Int, label: String): DataFrame = {
    // markers become In-expression literals (never spliced into SQL
    // text, so quote-bearing markers are safe)
    docs.select(
      col(idCol),
      size(filter(split(col(textCol), " "), t => t.isInCollection(markers)))
        .cast("long").as("n_markers"))
      .withColumn("predicted", when(col("n_markers") >= threshold, lit(label)).otherwise(lit("other")))
  }

  /** X4: context-window chunking — split each document's token stream
    * into overlapping windows of `window` tokens every `stride`
    * tokens (the standard shape for cutting corpus documents into
    * training sequences). A chunk opens at every position
    * 1, 1+stride, … ≤ n, so trailing chunks may be shorter than
    * `window`; with `stride <= window` every token is covered.
    *
    * Scale: one Generate (explode) per document, no shuffle at all —
    * chunk rows stay on their document's partitions; output grows by
    * ~window/stride×.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // Generate over the (tiny, integer) start-position sequence, then
    // slice/concat_ws AFTER the explode — every operator codegen'd. The
    // previous shape built ALL chunks per document inside an interpreted
    // `transform` lambda (CodegenFallback: one closure call + one array
    // copy per chunk, materialized as one jumbo array value per row).
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr(s"sequence(1, greatest(size(toks), 1), $stride)"))
          .as(Seq("chunk_id", "i")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", expr(s"slice(toks, i, $window)")).as("chunk_text"),
        // size(slice(toks, i, window)) arithmetically — avoids a second
        // slice when project collapse inlines the alias
        least(lit(window.toLong), size(col("toks")) - col("i") + 1L)
          .cast("long").as("n_tokens"))
  }

  /** X4: within-document repetition stats — the Gopher-style quality
    * rule "what fraction of the document is repeated n-grams".
    * For each document: total word n-gram occurrences, occurrences
    * belonging to an n-gram that appears more than once IN THIS
    * document, and their ratio. High ratios flag boilerplate/spam for
    * filtering. Exact integer counts + one division
    * (oracle-reproducible).
    *
    * Scale: explode + two-level hash aggregation keyed by
    * (doc, gram) then doc — partial aggregation combines map-side, so
    * the shuffle carries near-distinct (doc, gram) counts, not raw
    * occurrences.
    */
  def repeatedNgramStats(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    // explode the start positions, build each n-gram post-Generate in
    // codegen (slice + concat_ws) — no interpreted `transform` lambda
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
      .select(col("doc_id"), expr(s"concat_ws(' ', slice(toks, i, $n))").as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_rep"))
      .withColumn("rep_ratio", col("n_rep").cast("double") / col("n_grams"))
  }

  /** X4: streaming sequence packing — assign documents to training
    * packs of ~`budgetTokens` by cumulative token count, in
    * deterministic `idCol` order within each of `shards` shards:
    * `pack_id = tokens-before-this-doc div budget`. A document
    * straddling a boundary stays in the earlier pack, so packs can
    * overflow by less than one document — the streaming-pack variant
    * used in practice (exact bin packing is inherently sequential and
    * does not parallelize).
    *
    * Scale: sharding bounds every window partition (pick `shards` ≈
    * cluster parallelism); within a shard the running sum is the
    * standard analytic window. Packs are meaningful within a shard
    * only — exactly how distributed tokenizer pipelines shard packing.
    */
  def packGreedy(docs: DataFrame, idCol: String, textCol: String,
                 budgetTokens: Int, shards: Int): DataFrame = {
    require(budgetTokens > 0 && shards > 0, "budget and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budgetTokens"))
      .select("doc_id", "shard", "n_tokens", "pack_id")
  }

  /** X4: padding-waste accounting for fixed-size training batches —
    * the length-grouped-batching question ("group_by_length" in
    * training loaders): every batch pads its members to the batch max,
    * so batching similar-length documents together saves compute.
    * Forms batches of `batchSize` two ways over the same corpus —
    * arrival order (by `idCol` within a shard) vs length-bucketed
    * (`n_tokens div bucketWidth` sub-ordered the same way) — and
    * emits one accounting row per strategy: batch count, useful
    * tokens, padded tokens (Σ batch-members × batch-max), and
    * `waste_ppm` = padded-minus-useful per million. All integer
    * arithmetic — exact on any engine.
    *
    * Scale: same sharding contract as [[packGreedy]] — every window
    * partition is (shard[, bucket])-bounded, so pick `shards` ≈
    * cluster parallelism and nothing sees a global order. The final
    * rollup is a 2-row aggregate. Bucketing cost is one extra integer
    * column; the payoff (typically 2–10× less padding at web-corpus
    * length spread) is what this operator measures.
    */
  def paddingWaste(docs: DataFrame, idCol: String, textCol: String,
                   batchSize: Int, bucketWidth: Int, shards: Int): DataFrame = {
    require(batchSize > 0 && bucketWidth > 0 && shards > 0,
      "batchSize, bucketWidth and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
    def account(strategy: String, parts: Seq[String]): DataFrame = {
      val w = Window.partitionBy(parts.map(col): _*).orderBy(col("doc_id"))
      base
        .withColumn("__rn", row_number().over(w))
        .withColumn("batch", expr(s"(__rn - 1) div $batchSize"))
        .groupBy((parts :+ "batch").map(col): _*)
        .agg(count(lit(1)).as("__n"), sum(col("n_tokens")).as("__sum"),
          max(col("n_tokens")).as("__max"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("__sum")).as("useful_tokens"),
          sum(col("__n") * col("__max")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("useful_tokens"), col("padded_tokens"),
          expr("(padded_tokens - useful_tokens) * 1000000 div padded_tokens")
            .as("waste_ppm"))
    }
    account("arrival", Seq("shard"))
      .unionByName(account("bucketed", Seq("shard", "bucket")))
  }

  /** Character-trigram language ID — the classic n-gram-profile
    * heuristic: slide a 3-char window over the lowercased text, count
    * hits against per-language trigram profiles, argmax wins (ties go
    * to the first profile). ONE pass per document — the
    * [[graft.functions.TrigramProfileCount]] codegen expression slides
    * the window and probes every profile inside generated code, so
    * there is no explode, no Generate, and no shuffle at all (an
    * explode formulation ships 1 row per sliding window into a
    * two-level hash aggregate).
    */
  def trigramLangId(docs: DataFrame, idCol: String, textCol: String,
                    profiles: Seq[(String, Seq[String])]): DataFrame = {
    val counts = graft.functions.VectorFunctions.trigramProfileCount(
      col(textCol), profiles.map(_._2))
    val withCounts = docs
      .withColumn("__c", counts)
      .select(col(idCol) +: profiles.zipWithIndex.map { case ((lang, _), i) =>
        element_at(col("__c"), i + 1).as(s"n_$lang")
      }: _*)
    // argmax over the n_<lang> columns as a fold of whens: a later
    // profile wins only on a strictly greater count
    val (firstLang, firstCount) = (profiles.head._1, col(s"n_${profiles.head._1}"))
    val predicted = profiles.tail.foldLeft((lit(firstLang), firstCount)) {
      case ((plabel, pcount), (lang, _)) =>
        val c = col(s"n_$lang")
        (when(c > pcount, lit(lang)).otherwise(plabel),
          when(c > pcount, c).otherwise(pcount))
    }._1
    withCounts.withColumn("predicted", predicted)
  }

  /** Quality scoring: length-based and stopword-ratio heuristics that
    * gate training-data pipelines. All exact-arithmetic.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String]): DataFrame = {
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars_m"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      size(filter(split(col(textCol), " "), t => t.isInCollection(stopwords)))
        .cast("long").as("n_stop"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality",
        when(col("n_tokens") >= 20 && col("stop_ratio") >= 0.05, lit("high"))
          .when(col("n_tokens") >= 10, lit("medium"))
          .otherwise(lit("low")))
  }

  /** Regex ("BPE-ish") tokenization: words, digit runs, and single
    * punctuation marks as separate tokens — the pre-tokenizer split
    * rule that byte-pair encoders apply before merges. Counting these
    * approximates BPE token counts far better than whitespace splitting
    * on punctuation-heavy text. Pure `regexp_extract_all`, fully
    * codegen'd, no shuffle.
    */
  def regexTokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      expr(s"regexp_extract_all($textCol, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)").as("__rt"),
      size(split(col(textCol), " ")).cast("long").as("n_ws_tokens"))
      .select(
        col(idCol),
        col("n_ws_tokens"),
        size(col("__rt")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("__rt"))).cast("long").as("n_bpe_uniq"))

  /** Corpus-level term statistics after normalization: lowercase,
    * strip non-alphanumerics, drop stopwords — then global term
    * frequencies with document counts. The corpus-frequency shape
    * behind vocabulary builds and stopword discovery; one explode +
    * one hash aggregation, map-side combined.
    */
  def corpusTermStats(docs: DataFrame, idCol: String, textCol: String,
                      stopwords: Seq[String], minCount: Long): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(filter(
          transform(split(lower(col(textCol)), " "),
            t => regexp_replace(t, lit("[^a-z0-9]"), lit(""))),
          t => t =!= "" && !t.isInCollection(stopwords)))
          .as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf_corpus"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("tf_corpus") >= minCount)

  /** TF-IDF top-k terms per document. Plan shape at scale: one shuffle
    * to (doc, token) term frequencies, one small shuffle to per-token
    * document frequencies, the corpus size broadcast as a one-row
    * cross join, a key-shuffle join tf⋈df on token, and a per-doc
    * top-k rank window (high-cardinality partition key — no skew).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("__n"))
    val scored = tf.join(df, "tok")
      .join(broadcast(n))
      .withColumn("score", col("tf") * log(col("__n").cast("double") / col("df")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("tok"), round(col("score"), 6).as("score"))
  }

  /** X4: pattern redaction — replace every match of each (pattern →
    * replacement) rule and count the matches that were redacted (the
    * PII-scrub shape of a training-data pipeline: emails, phone
    * numbers, ids). Patterns are applied in order over the running
    * result, so later rules see earlier replacements. Counting uses
    * `regexp_extract_all` on the text each rule actually sees; both it
    * and `regexp_replace` are codegen'd scalar functions — no shuffle,
    * no UDF.
    *
    * Portability: keep patterns in the common Java-regex/RE2 subset
    * (char classes, alternation, bounded repeats; no backreferences or
    * lookaround) and an external SQL oracle can reproduce the output
    * exactly.
    */
  def redactPatterns(docs: DataFrame, idCol: String, textCol: String,
                     rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "at least one redaction rule required")
    val (redacted, counts) = rules.foldLeft((col(textCol), Seq.empty[Column])) {
      case ((txt, cs), (pat, repl)) =>
        val n = size(expr_extract_all(txt, pat)).cast("long")
        (regexp_replace(txt, lit(pat), lit(repl)), cs :+ n)
    }
    docs.select(
      col(idCol),
      counts.reduce(_ + _).as("n_redacted"),
      redacted.as("red_text"))
      .withColumn("red_len", length(col("red_text")).cast("long"))
  }

  // regexp_extract_all as a Column helper (the functions._ variant
  // takes a literal idx expression; group 0 = whole match)
  private def expr_extract_all(c: Column, pat: String): Column =
    regexp_extract_all(c, lit(pat), lit(0))

  /** X4: Gopher-style quality-rule gate (Rae et al. 2021's repetition/
    * length heuristics, the document-filter shape): per document,
    * word count bounds, mean-word-length bounds, short-word fraction
    * cap, and a minimum stopword-hit count — each as its own boolean
    * flag plus the conjunction `keep`. Exposing per-rule flags (not
    * just the verdict) is what pipeline debugging needs: "what rule
    * kills how many documents".
    *
    * All counts are exact integers; the two ratios are single IEEE
    * divisions — oracle-reproducible. Pure scalar pipeline, no shuffle.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String],
                  minWords: Int, maxWords: Int,
                  minMeanLen: Double, maxMeanLen: Double,
                  maxShortFrac: Double, minStopHits: Int): DataFrame = {
    docs.select(
      col(idCol),
      length(col(textCol)).as("__tlen"),
      split(col(textCol), " ").as("__toks"))
      .select(
        col(idCol),
        size(col("__toks")).cast("long").as("n_words"),
        // sum of token lengths == total chars minus the size-1 single-space
        // separators — replaces the interpreted `aggregate` fold (VERDICT
        // r5 item 4) with pure arithmetic; exact for split-on-' ' because
        // every token boundary is exactly one space
        ((col("__tlen") - size(col("__toks")) + 1).cast("double") / size(col("__toks")))
          .as("mean_len"),
        (size(filter(col("__toks"), t => length(t) <= 2)).cast("double") / size(col("__toks")))
          .as("short_frac"),
        size(filter(col("__toks"), t => t.isInCollection(stopwords))).cast("long").as("n_stop"))
      .withColumn("r_len", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean", col("mean_len") >= minMeanLen && col("mean_len") <= maxMeanLen)
      .withColumn("r_short", col("short_frac") <= maxShortFrac)
      .withColumn("r_stop", col("n_stop") >= minStopHits)
      .withColumn("keep", col("r_len") && col("r_mean") && col("r_short") && col("r_stop"))
  }

  /** X4: corpus-trained unigram LM surprisal — the CCNet-style quality
    * filter shape: train token frequencies on the corpus itself, score
    * each document by its mean token surprisal −ln p(tok). Low mean =
    * templated/common text, high mean = rare-token (often noisy) text;
    * pipelines keep the middle band. With a real LM the per-token
    * surprisal column is model output; the aggregation plan is
    * identical.
    *
    * Determinism: each token's surprisal is quantized to an integer
    * (round(−ln p · 1e6)) BEFORE the per-doc aggregation, so the sum
    * is exact in any execution order and the mean is one IEEE division
    * — same discipline as the quantized-vector similarity ops.
    *
    * Plan: one shuffle to corpus term frequencies, corpus total
    * broadcast as a one-row join, one token-keyed join back, one
    * per-doc hash aggregation — all map-side combinable.
    */
  def lmSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("__tf"))
    val total = tf.agg(sum(col("__tf")).as("__total"))
    toks.join(tf, "tok")
      .join(broadcast(total))
      .withColumn("__sq",
        expr("CAST(round(-ln(CAST(__tf AS DOUBLE) / __total) * 1000000) AS BIGINT)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__sq")).as("sum_surprisal_q"))
      .withColumn("avg_surprisal",
        col("sum_surprisal_q").cast("double") / lit(1000000.0) / col("n_tokens"))
  }

  /** X4: interpolated bigram-LM surprisal — the standard step past
    * [[lmSurprisal]]'s unigram model for perplexity-style quality
    * filtering: per token, `p = λ·p(w|prev) + (1−λ)·p(w)` with
    * maximum-likelihood corpus estimates (`p(w|prev) =
    * c(prev,w) / Σ_u c(prev,u)`), the document's first token scored
    * by its unigram alone. Same float discipline as [[lmSurprisal]]:
    * each token's −ln p is quantized to integer micro-units before the
    * per-doc sum, so the aggregate is order-free and engine-exact.
    *
    * Plan shape: the (token, prev) pairing is in-row array arithmetic
    * (shift-and-zip — NO per-document window, no extra shuffle); model
    * lookups are the same token-keyed aggregations/joins the unigram
    * op uses, all linear.
    *
    * @param lambdaPct interpolation weight λ for the bigram term, in
    *   integer percent (engine-exact literal; default 70)
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      lambdaPct: Int = 70): DataFrame = {
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct in [0, 100]")
    val a = split(col(textCol), " ")
    // prev[i] = toks[i-1]; the first slot is NULL (document start)
    val prevArr = concat(array(lit(null).cast("string")), slice(a, lit(1), size(a) - 1))
    val toks = docs
      .select(col(idCol), explode(arrays_zip(a.as("w"), prevArr.as("v"))).as("p"))
      .select(col(idCol), col("p.w").as("w"), col("p.v").as("v"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("__uw"))
    val total = uni.agg(sum(col("__uw")).as("__utot"))
    val bi = toks.filter(col("v").isNotNull)
      .groupBy("v", "w").agg(count(lit(1)).as("__bvw"))
    val pref = bi.groupBy("v").agg(sum(col("__bvw")).as("__bv"))
    toks
      .join(uni, "w")
      .join(broadcast(total))
      .join(bi, Seq("v", "w"), "left")
      .join(pref, Seq("v"), "left")
      // λ as an integer-percent division evaluated by the engine:
      // interpolating a Scala double literal (e.g. 1.0 − 0.7 =
      // 0.30000000000000004) could diverge from the oracle's literal
      .withColumn("__q", expr(
        s"""CAST(round(-ln(CASE WHEN v IS NULL
           |  THEN CAST(__uw AS DOUBLE) / __utot
           |  ELSE ($lambdaPct / 100.0) * (CAST(__bvw AS DOUBLE) / __bv) +
           |       (${100 - lambdaPct} / 100.0) * (CAST(__uw AS DOUBLE) / __utot) END) * 1000000) AS BIGINT)"""
          .stripMargin))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__q")).as("sum_surprisal_q"))
      .withColumn("avg_surprisal",
        col("sum_surprisal_q").cast("double") / lit(1000000.0) / col("n_tokens"))
  }

  /** X4: top-k bigram collocations by pointwise mutual information
    * (Church & Hanks 1990) — `PMI(v,w) = ln(p(v,w) / (p(v)·p(w)))`
    * with maximum-likelihood corpus estimates — the standard
    * collocation miner ("New York", "machine learning") beside the
    * [[bigramSurprisal]] LM.
    *
    * Determinism: PMI is one ln over a ratio of exact int64 counts
    * (every cast and operator order pinned), quantized to integer
    * micro-units; the top-k cut orders by (pmi_q desc, v, w) — a
    * total order, so the selected set and its emission order replay
    * in any engine. `minCount` floors the bigram count (unit-count
    * pairs dominate raw PMI — the documented failure mode).
    *
    * Plan shape: the (w, prev) pairing is in-row array arithmetic (no
    * per-document window); unigram/bigram models are vocabulary-keyed
    * hash aggregates; totals ride 1-row broadcasts; the cut is a
    * TakeOrderedAndProject (map-side top-k), never a global sort.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    val a = split(col(textCol), " ")
    val prevArr = concat(array(lit(null).cast("string")), slice(a, lit(1), size(a) - 1))
    val toks = docs
      .select(explode(arrays_zip(a.as("w"), prevArr.as("v"))).as("p"))
      .select(col("p.w").as("w"), col("p.v").as("v"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("__uw"))
    val utot = uni.agg(sum(col("__uw")).as("__ut"))
    val btot = toks.filter(col("v").isNotNull).agg(count(lit(1)).as("__bt"))
    val bi = toks.filter(col("v").isNotNull)
      .groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
      .filter(col("c_vw") >= minCount)
    bi
      .join(uni.select(col("w").as("v"), col("__uw").as("__cv")), "v")
      .join(uni.select(col("w"), col("__uw").as("__cw")), "w")
      .join(broadcast(utot)).join(broadcast(btot))
      .withColumn("pmi_q", expr(
        """CAST(round(ln((CAST(c_vw AS DOUBLE) / __bt)
          |  / ((CAST(__cv AS DOUBLE) / __ut) * (CAST(__cw AS DOUBLE) / __ut)))
          |  * 1000000) AS BIGINT)""".stripMargin))
      .select(col("v"), col("w"), col("c_vw"), col("pmi_q"))
      .orderBy(col("pmi_q").desc, col("v"), col("w"))
      .limit(topK)
  }

  /** X4 (DSIR shape — Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): per-document importance
    * weights `log(p_target(x) / p_source(x))` under hashed
    * bag-of-words unigram models — the published cheap way to select
    * pretraining data that "looks like" a target domain. Token
    * features hash into `nBuckets` buckets; target and source bucket
    * distributions are Laplace-smoothed `(c_b + 1) / (total + B)`;
    * each SOURCE document (the selection pool) scores
    * `Σ_tokens λ[bucket]` with `λ = log γ_target − log γ_source`.
    *
    * Float discipline (same as [[lmSurprisal]]): each bucket's λ is
    * quantized to integer micro-units ONCE in the B-row table, so the
    * per-document sum is an order-free integer — engine-exact.
    *
    * Plan shape at scale: two linear hash aggregations (token → B
    * buckets, map-side combinable), a B-row broadcast, and one
    * per-doc aggregation — no token-keyed shuffle join (contrast
    * [[lmSurprisal]]'s per-term join: here the model is B buckets, not
    * |vocab| terms, so it always broadcasts).
    *
    * @param isTarget row predicate over `docs` marking the target
    *   (domain-exemplar) slice; the rest is the source pool scored
    * @param tokenHash default xxhash64; pass
    *   [[DedupOps.md5TokenHash]] for an external-SQL-reproducible
    *   model (`x4_dsir_weights` does)
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, nBuckets: Int = 256,
                  tokenHash: Column => Column = t => xxhash64(t)): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val toks = docs.select(col(idCol), isTarget.as("__tgt"),
        explode(split(col(textCol), " ")).as("tok"))
      .withColumn("__bkt", pmod(tokenHash(col("tok")), lit(nBuckets.toLong)))
      .drop("tok")
    val cnt = toks.groupBy("__bkt").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cs"))
    val tot = cnt.agg(sum("__ct").as("__tt"), sum("__cs").as("__ts"))
    val lam = broadcast(cnt.join(tot) // 1-row broadcast: no shuffle
      .withColumn("__lam", expr(
        s"CAST(round((ln((__ct + 1.0) / (__tt + $nBuckets)) - " +
          s"ln((__cs + 1.0) / (__ts + $nBuckets))) * 1000000) AS BIGINT)"))
      .select(col("__bkt"), col("__lam")))
    toks.filter(!col("__tgt"))
      .join(lam, "__bkt")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lam")).as("logw_q"))
      .withColumn("avg_logw",
        col("logw_q").cast("double") / lit(1000000.0) / col("n_tokens"))
  }

  /** Document fingerprint: a polynomial rolling hash over per-token
    * surrogates (first-char code and length), mod 2^31-1 — the rolling
    * structure of Rabin-Karp content fingerprints, in portable integer
    * arithmetic. Computed by the one-pass codegen scan
    * [[graft.functions.RollingFingerprint]]; semantics are exactly the
    * strict left fold `aggregate(split(text, ' '), 0L, (h, t) ->
    * (h*1000003 + ascii(substring(t,1,1))*256 + length(t)) % 2147483647)`
    * (= the oracle's `list_reduce`), which TextOpsSpec pins against the
    * interpreted HOF on real data.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.TextScanFunctions.rollingFingerprint(col(textCol)).as("fp"))

  /** X4: BPE vocabulary TRAINING (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units") — learn
    * the first `nMerges` byte-pair merges from a corpus.
    *
    * The corpus-sized work is ONE distributed aggregate: split on
    * spaces and count each distinct word. Its word-frequency table is
    * collected, and every merge round then runs on the driver, as in
    * Sennrich et al.'s reference trainer: pair counts weighted by word
    * frequency, the (count desc, pair ascending) argmax, and a
    * left-to-right non-overlapping rewrite of each word. Pair counts
    * are kept incrementally (subword-nmt's optimization): a round
    * re-counts only the words that held the merged pair. So a call runs
    * the word count's jobs and no more, whatever `nMerges` is; a
    * per-round Spark loop would pay at least two jobs per merge, which
    * at 30k merges never finishes.
    *
    * Symbols are Unicode code points, the unit of Spark's `split(w, "")`
    * and of SQL `substr`: a character outside the Basic Multilingual
    * Plane is one symbol, never two surrogates. Pairs compare by code
    * point, which is the UTF-8 byte order Spark and DuckDB sort strings
    * by, so count ties break as an engine-side `ORDER BY` breaks them.
    *
    * Driver memory holds the collected table. `maxWords` bounds it: the
    * aggregate then keeps only the top `maxWords` words by frequency
    * (ties: word ascending) through a distributed top-k, and training
    * runs on that head of the table — the trade every sampled tokenizer
    * run makes, here deterministic instead of shard-order dependent.
    *
    * @param maxWords cap on the distinct words trained on;
    *   `Int.MaxValue` (the default) trains on every word, exactly
    * @return one row per learned merge: (round, left, right,
    *   pair_freq), round 1-based; fewer than `nMerges` rows once no
    *   pair is left. The rows are a driver-built local relation IN
    *   ROUND ORDER: collecting them runs no Spark job, and callers
    *   need no `orderBy("round")`.
    */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               nMerges: Int, maxWords: Int = Int.MaxValue): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    require(maxWords > 0, "maxWords must be positive")
    val spark = docs.sparkSession
    val counted = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // the merges do not depend on row order, so the exact path needs
    // no sort; a cap needs the deterministic top-k
    val wordRows =
      if (maxWords == Int.MaxValue) counted.collect()
      else counted.orderBy(col("freq").desc, col("w")).limit(maxWords).collect()
    val syms = wordRows.map(r => codePointSymbols(r.getString(0)))
    val freq = wordRows.map(_.getLong(1))
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]
    def addPairs(wi: Int, sign: Long): Unit = {
      val s = syms(wi)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * freq(wi)
        if (c == 0L) pairCount.remove(p) else pairCount.update(p, c)
        if (sign > 0)
          pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty).add(wi)
        i += 1
      }
    }
    syms.indices.foreach(addPairs(_, 1L))
    val argmaxOrder = Ordering.Tuple3(Ordering.Long, CodePointOrder, CodePointOrder)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    while (merges.length < nMerges && pairCount.nonEmpty) {
      val ((x, y), cnt) = pairCount.minBy { case ((a, b), c) => (-c, a, b) }(argmaxOrder)
      merges += ((merges.length + 1L, x, y, cnt))
      // rewrite only words that (may) contain the pair; stale indices
      // (pair merged away earlier) fail the contains check and skip
      val touched = pairWords.remove((x, y)).getOrElse(scala.collection.mutable.BitSet.empty)
      touched.foreach { wi =>
        val s = syms(wi)
        var contains = false
        var i = 0
        while (!contains && i + 1 < s.length) {
          if (s(i) == x && s(i + 1) == y) contains = true
          i += 1
        }
        if (contains) {
          addPairs(wi, -1L) // retract the word's old pairs
          val out = scala.collection.mutable.ArrayBuffer[String]()
          i = 0
          while (i < s.length) { // left-to-right non-overlapping greedy
            if (i + 1 < s.length && s(i) == x && s(i + 1) == y) { out += x + y; i += 2 }
            else { out += s(i); i += 1 }
          }
          syms(wi) = out.toArray
          addPairs(wi, 1L)
        }
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "left", "right", "pair_freq")
  }

  /** A word's code points, one string each — Spark's `split(w, "")`
    * on a non-empty word (an empty word has no pairs either way).
    */
  private def codePointSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => Character.toString(cp))

  /** String order by code point, i.e. UTF-8 byte order. `String.compareTo`
    * orders UTF-16 units instead, which puts a supplementary character
    * (a surrogate pair, 0xD800..) before U+E000–U+FFFF.
    */
  private object CodePointOrder extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      var d = 0
      while (d == 0 && i < a.length && i < b.length) {
        val ca = a.codePointAt(i)
        d = Integer.compare(ca, b.codePointAt(i))
        i += Character.charCount(ca)
      }
      if (d != 0) d else Integer.compare(a.length, b.length)
    }
  }

  /** A small trained-merge stand-in vocabulary for [[bpeEncode]]:
    * every lowercase letter (so alphabetic text never falls back to
    * unknowns) plus frequent English 2–4-gram merges, longest-match
    * ordering. A real tokenizer drops in by replacing this list with
    * its learned vocab — the apply operator is vocabulary-agnostic.
    */
  val DemoBpeVocab: Seq[String] =
    "abcdefghijklmnopqrstuvwxyz".map(_.toString) ++ Seq(
      "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
      "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
      "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
      "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
      "ra", "ce", "li", "ch", "ll", "be", "ma", "si", "om", "ur",
      "the", "ing", "and", "ion", "tio", "ent", "ati", "for", "her", "ter",
      "hat", "tha", "ere", "ate", "his", "con", "res", "ver", "all", "ons",
      "nce", "men", "ith", "ted", "ers", "pro", "thi", "wit", "are", "ess",
      "not", "ive", "was", "ect", "rea", "com", "eve", "per", "int", "est",
      "sta",
      "tion", "atio", "that", "ther", "with", "ment", "ions", "this", "here",
      "from", "ould", "ting", "hich", "ence", "have")

  /** X4: BPE-apply — encode each document with a trained subword
    * vocabulary via greedy longest match
    * ([[graft.functions.GreedyMatchEncode]]): the broadcast-vocab
    * tokenization step of a training-data pipeline. Text is
    * lowercased, split on spaces; characters outside the vocabulary
    * become single-character unknown tokens (counted in `n_unk`).
    * Map-only and codegen'd — the vocabulary rides the plan; the only
    * shuffle is [[graft.sources.LayoutOps.spread]] widening an input
    * with fewer partitions than cores. Per-doc output is the token
    * count, unknown count, and the full '|'-joined token stream
    * (value-exact cross-engine).
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                vocab: Seq[String] = DemoBpeVocab): DataFrame = {
    // the tokenizer counts its own fallback emissions (= unknown
    // tokens, exactly), so n_unk is free: the old interpreted
    // filter-HOF post-pass re-probed the vocab linearly per token and
    // doubled encode cost (guide §4)
    val enc = graft.functions.TokenizeFunctions.greedyMatchEncode(
      lower(col(textCol)), vocab)
    LayoutOps.spread(docs).select(col(idCol).as("doc_id"), enc.as("__enc"))
      .select(
        col("doc_id"),
        size(col("__enc").getField("toks")).cast("long").as("n_tokens"),
        col("__enc").getField("n_unk").as("n_unk"),
        array_join(col("__enc").getField("toks"), "|").as("toks"))
  }

  /** A rank-ordered merge list paired with [[DemoBpeVocab]] for
    * [[bpeEncodeRanked]] — the form a trained tokenizer actually
    * ships (merges.txt): earlier rank = learned earlier = applied
    * first. Compound merges ((th,e), (th,at), (w,ith)) exercise the
    * property greedy longest-match cannot express: a merge's operands
    * are PRODUCTS of earlier merges, so application order changes the
    * segmentation. `bpeTrain` output (round-ordered (left, right)
    * rows) plugs in directly.
    */
  val DemoBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("an", "d"),
    ("in", "g"), ("o", "r"), ("e", "s"), ("o", "u"), ("t", "o"),
    ("th", "at"), ("f", "or"), ("i", "th"), ("w", "ith"), ("o", "f"))

  /** X4: merge-order-faithful BPE apply (Sennrich et al. 2016, the
    * same semantics [[bpeTrain]] learns under): encode by applying the
    * trained merges IN RANK ORDER, one left-to-right non-overlapping
    * pass each — so a word segments exactly as it did during training,
    * where [[bpeEncode]]'s greedy longest-match is only an
    * approximation (it can pick a long vocab entry the merge sequence
    * never actually forms).
    *
    * Spark-first trick: a merge pass IS a literal string replace.
    * Each symbol is wrapped in its own separator pair
    * (`␟s␟`, U+001F), so word "aaa" is `␟a␟␟a␟␟a␟` and merge (x,y) is
    * `replace(enc, "␟x␟␟y␟", "␟xy␟")` — literal `replace` scans
    * left-to-right over non-overlapping matches, which is EXACTLY the
    * trainer's left-to-right rewrite (adjacent matches only arise for
    * x = y, and the per-symbol separator pairs make the 1st, 3rd, … of
    * each run match). One pass per merge suffices: a merge
    * removes every (x,y) adjacency and can't recreate one (the
    * product symbol differs from both operands, and leftover run
    * tails are never adjacent).
    *
    * Scale shape: merges fold into ONE chain of k codegen'd string
    * replaces over the DISTINCT-word table (vocab-sized, not
    * corpus-sized — the same reduction as the trainer), which then
    * broadcast-joins back to the corpus positions. Map-only over the
    * corpus; no window, no shuffle of the text, whole-stage codegen
    * end to end.
    *
    * @param merges rank-ordered (left, right) pairs — `bpeTrain`
    *               output or a shipped merges.txt
    * @return (doc_id, n_tokens LONG, toks STRING) — '|'-joined token
    *         stream; empty-text docs keep a row with n_tokens = 0
    */
  def bpeEncodeRanked(docs: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)] = DemoBpeMerges): DataFrame = {
    val S = "\u001f"
    def wrap(sym: String) = S + sym + S
    require(merges.forall { case (x, y) => !(x + y).contains(S) },
      "merge symbols must not contain the U+001F separator")
    val wordsOf = (t: Column) =>
      filter(split(lower(t), " "), w => length(w) > 0)
    // distinct words, each char wrapped ␟c␟ (Spark split('') keeps a
    // trailing "" — filtered before wrapping)
    val dw = docs.select(explode(wordsOf(col(textCol))).as("w")).distinct()
      .withColumn("__enc", concat(lit(S),
        array_join(filter(split(col("w"), ""), c => length(c) > 0), S + S),
        lit(S)))
    val encoded = merges.foldLeft(dw) { case (df, (x, y)) =>
      df.withColumn("__enc",
        replace(col("__enc"), lit(wrap(x) + wrap(y)), lit(wrap(x + y))))
    }
    val wordToks = encoded.select(col("w"),
      split(expr("substring(__enc, 2, length(__enc) - 2)"), S + S).as("__wt"))
    val positioned = docs
      .select(col(idCol).as("doc_id"),
        posexplode(wordsOf(col(textCol))).as(Seq("__p", "w")))
      .join(broadcast(wordToks), "w")
      .groupBy(col("doc_id"))
      .agg(sum(size(col("__wt"))).cast("long").as("n_tokens"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(__p, __wt))), s -> array_join(s.__wt, '|'))"),
          "|").as("toks"))
    docs.select(col(idCol).as("doc_id")).join(positioned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("toks"), lit("")).as("toks"))
  }

  /** X4: hashed-n-gram linear classifier scoring — the fastText
    * serving shape (Joulin et al. 2016, "Bag of Tricks for Efficient
    * Text Classification") behind CCNet/FineWeb-style model-based
    * quality filters: features are the document's unigrams + bigrams
    * hashed into `nBuckets` buckets; the trained model is a
    * (bucket → integer weight) table small enough to broadcast; the
    * document's score is its mean feature weight. This op is the
    * SERVING side — any trained weight table plugs in unchanged.
    *
    * Output per doc: `n_feat`, `sum_w`, `score_q` (mean weight ×1000,
    * integer-truncated toward zero) and `keep` (score_q > 0).
    *
    * Scale: explode(features) → broadcast join against the weight
    * table (map-side, no shuffle of the corpus) → ONE per-doc hash
    * aggregation with map-side combine. Integer weights + truncating
    * division keep the verdicts engine-exact — no float model math in
    * the gate.
    */
  def classifierScore(docs: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, nBuckets: Int,
                      tokenHash: Column => Column = DedupOps.xxTokenHash): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // ONE Generate enumerates unigrams and bigrams: feature index
    // j ∈ [1, 2·size−1] maps to token j for j ≤ size, else to the
    // bigram starting at j − size. Same feature multiset as
    // concat(unigrams, bigrams) — order is irrelevant to the
    // aggregation — with the interpreted `transform` bigram lambda
    // (CodegenFallback) replaced by post-Generate codegen'd
    // element_at/slice/concat_ws, and no second corpus scan.
    val feats = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, 2 * size(toks) - 1)")).as("j"))
      .select(col("doc_id"), expr(
        """CASE WHEN j <= size(toks) THEN element_at(toks, j)
          |     ELSE concat_ws(' ', slice(toks, j - size(toks), 2)) END"""
          .stripMargin).as("feat"))
    // duplicate bucket rows SUM (linear-model semantics) instead of
    // fanning out the feature join and silently inflating n_feat
    val w = broadcast(weights
      .groupBy(col("bucket").cast("long").as("__bucket"))
      .agg(sum(col("w").cast("long")).as("__w")))
    feats
      .withColumn("__bucket", pmod(tokenHash(col("feat")), lit(nBuckets.toLong)))
      .join(w, Seq("__bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        sum(coalesce(col("__w"), lit(0L))).as("sum_w"))
      .withColumn("score_q", expr("sum_w * 1000 div n_feat"))
      .withColumn("keep", col("score_q") > 0)
  }

  /** Deterministic pseudo-weight table for [[classifierScore]] demos
    * and oracles: weight(b) = md5-hash("w:b") mapped into
    * [-1000, 1000]. Stands in for a trained model the way the
    * multimodal stub codecs stand in for image libraries — the
    * serving plan (hash, broadcast join, aggregate) is the real thing.
    */
  def pseudoWeights(spark: org.apache.spark.sql.SparkSession, nBuckets: Int): DataFrame =
    spark.range(0, nBuckets).select(
      col("id").as("bucket"),
      (pmod(DedupOps.md5TokenHash(concat(lit("w:"), col("id").cast("string"))),
        lit(2001L)) - 1000L).as("w"))

  /** X4: corpus heavy hitters with a count-min certification — the
    * single-pass sketch shape for "top terms over a corpus whose
    * vocabulary does not fit anywhere".
    *
    * The exact side (groupBy term → count → TakeOrdered top-k, ties
    * broken by term) is the oracle anchor: map-side-combinable and
    * fine at any corpus size, but its shuffle key space is the full
    * vocabulary. The sketch side is ONE d×w matrix
    * ([[graft.functions.Aggregators.CountMinAgg]]) built in the same
    * pass structure — bounded memory regardless of vocabulary — and
    * each top-k term's estimate is read back from the broadcast
    * sketch with the identical `pmod(xxhash64(term, i), w)` hash the
    * build used.
    *
    * Certification (the t5_class_count_approx / q_percentiles_approx
    * pattern): count-min is ONE-SIDED — `estimate ≥ exact` always
    * (a violated inequality means a broken merge or indexing, not
    * noise), and `estimate ≤ exact + slack·(e/w)·N` with failure
    * probability < (slack·e)^(−d) by Markov on each of the d
    * independent rows (≈10⁻⁶ at the defaults). Both verdicts ride the
    * output as integers; DuckDB replays them as literal 1s, so a
    * sketch escaping its bound fails the hash gate.
    */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 10, d: Int = 4, w: Int = 8192,
                   slack: Int = 10): DataFrame = {
    val toks = docs.select(explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
    val idxExpr = s"transform(sequence(0, ${d - 1}), i -> pmod(xxhash64(term, i), $w))"
    val cmUdaf = udaf(new graft.functions.Aggregators.CountMinAgg(d, w),
      graft.functions.Aggregators.seqLongEncoder)
    val sketch = toks
      .agg(cmUdaf(expr(idxExpr).as("idxs")).as("sk"), count(lit(1)).as("n_tokens"))
    val topk = toks.groupBy(col("term")).agg(count(lit(1)).as("tf_corpus"))
      .orderBy(col("tf_corpus").desc, col("term")).limit(k)
    topk.crossJoin(broadcast(sketch))
      .withColumn("est", expr(
        s"array_min(transform(sequence(0, ${d - 1}), " +
          s"i -> element_at(sk, cast(i * $w + pmod(xxhash64(term, i), $w) + 1 as int))))"))
      .select(col("term"), col("tf_corpus"),
        (col("est") >= col("tf_corpus")).cast("int").as("never_under"),
        (col("est") <= col("tf_corpus") +
          ceil(lit(slack * math.E / w) * col("n_tokens")).cast("long"))
          .cast("int").as("within_eps"))
      .orderBy(col("tf_corpus").desc, col("term"))
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones; the Lucene-default
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` variant, always
    * positive) — the relevance-ranked lookup a curation pipeline runs
    * when mining a corpus for documents matching a probe query
    * (eval-set decontamination by retrieval, topic mining, hard-
    * negative search).
    *
    * Plan shape at scale: tokenization keeps ONLY query terms before
    * the explode (the filter runs inside codegen on each doc's token
    * array, so the exploded row count is Σ per-doc query-term hits,
    * not corpus token count); doc length rides the same row — tf and
    * dl come out of ONE (doc, term) aggregate with no doc-side
    * re-join. The per-term idf table is |query| rows and the (N,
    * avgdl) pair one row — both broadcast. Final top-k is
    * orderBy+limit = TakeOrderedAndProject (per-partition heaps, no
    * global sort).
    *
    * Scores are quantized to integer micro-units before ranking so the
    * (score, id) order — and therefore the result set — is engine-
    * exact, not ulp-dependent.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && topK > 0)
    val base = docs.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        explode_outer(filter(col("__toks"), t => t.isInCollection(queryTerms))).as("term"))
    // corpus stats: N and avgdl over ALL docs (explode_outer keeps
    // term-free docs as one null-term row, so this needs no second
    // scan); tf rows drop the nulls after
    val corpus = base.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val hits = base.filter(col("term").isNotNull)
    val tf = hits.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val df = hits.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .join(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        // constants pre-folded driver-side (k1+1, 1-b) so the column
        // expression is the exact IEEE op sequence the oracle writes
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(sum(round(col("contrib") * 1000000).cast("long")).as("score_q"),
        count(lit(1)).as("n_terms"))
    val top = scored.orderBy(col("score_q").desc, col(idCol)).limit(topK)
    // rank the k survivors (tiny set) for a stable output surface
    import org.apache.spark.sql.expressions.Window
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("score_q").desc, col(idCol))).cast("long"))
      .select(col("rnk"), col(idCol), col("n_terms"), col("score_q"),
        (col("score_q").cast("double") / 1000000.0).as("score"))
  }

  /** Per-document character-level Shannon entropy — the cheap
    * "is this text or noise" quality signal (low entropy ⇒ repetitive
    * boilerplate/padding, high ⇒ random bytes; natural text sits in a
    * narrow band). Uses the identity H = ln(n) − (Σ c·ln c)/n so the
    * per-(doc, char) contributions quantize to integer micro-units
    * BEFORE the per-doc sum — order-free, engine-exact.
    *
    * Plan shape: one explode to (doc, char) rows, one shuffle on that
    * high-cardinality pair, one per-doc aggregate whose state is the
    * doc's own alphabet size (≤ a few hundred), never its length.
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        // Spark's split(-1 limit) keeps a trailing "" element on
        // empty-regex splits; drop it so counts are pure characters
        explode(filter(split(col(textCol), ""), c => c =!= "")).as("ch"))
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(round(col("c") * log(col("c")) * 1000000).cast("long")).as("sum_clnc_q"))
      .withColumn("entropy",
        // rounded: Math.log and libm log differ in the last ulp, and
        // the quantized sum cannot absorb a difference in ln(n) itself
        round(log(col("n_chars")) -
          (col("sum_clnc_q").cast("double") / 1000000.0) / col("n_chars"), 6))

  /** Within-document repetition removal, keep-first — the intra-doc
    * twin of corpus-level dedup (real pipelines run it on lines or
    * paragraphs; the unit here is the whitespace token because the
    * testdata corpus is single-line). Emits the rewritten text plus
    * before/after token counts, so a repetition-ratio gate can filter
    * on the same pass.
    *
    * Plan shape: posexplode → (doc, unit) min-position aggregate →
    * per-doc ordered re-assembly via array_sort over (pos, unit)
    * structs (collect_list is order-free; the sort makes the result
    * deterministic under any shuffle order). One shuffle on (doc,
    * unit), one on doc — both high-cardinality keys, and state per
    * doc is bounded by the doc's own distinct units.
    */
  def dedupWithinDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "unit")))
      .groupBy(col(idCol), col("unit"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_before"), count(lit(1)).as("n_after"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("unit")))),
          x => x("unit")), " ").as("dedup_text"))
      .withColumn("rep_ratio_ppm",
        expr("(n_before - n_after) * 1000000 div n_before"))

  /** Zipf's-law fit over the corpus frequency spectrum: regress
    * ln(freq) on ln(rank) for the top `topN` tokens and report the
    * slope (natural text sits near −1; a corpus whose slope drifts
    * far from it is boilerplate-heavy or template-generated — a cheap
    * corpus-health indicator beside the quality classifiers).
    *
    * The token count is one partial-agg groupBy; the top-`topN` cut
    * is a global `orderBy().limit()` (TakeOrderedAndProject — each
    * map task forwards only its local top `topN`), so the single-task
    * tail work — ranking `topN` rows and one `regr_slope` aggregate —
    * is bounded by the parameter, not the corpus. Rank ties break on
    * the token string for a deterministic spectrum.
    *
    * @return single row: `n_tokens, slope, intercept, r2` (4 dp)
    */
  def zipfSlope(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 1, "topN must exceed 1 (a regression needs >1 point)")
    val top = docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_tokens"),
        round(expr("regr_slope(ln(freq), ln(rank))"), 4).as("slope"),
        round(expr("regr_intercept(ln(freq), ln(rank))"), 4).as("intercept"),
        round(expr("regr_r2(ln(freq), ln(rank))"), 4).as("r2"))
  }

  /** Lexical-diversity profile per corpus slice: type-token ratio and
    * hapax-legomenon share (vocabulary words seen exactly once) — the
    * corpus-health companion to [[zipfSlope]] (template-generated or
    * boilerplate-heavy slices show low TTR and a thin hapax tail;
    * natural text runs rich in both).
    *
    * Two partial-agg passes over the exploded tokens — (slice, token)
    * counts, then per-slice rollup — so the plan is two hash
    * aggregates with map-side combine and nothing proportional to
    * corpus size crosses a single task. Ratios are ppm integer
    * divisions of exact counts.
    *
    * @return one row per slice: `<sliceCol>, n_tokens, n_types,
    *         n_hapax, ttr_ppm, hapax_ppm` (hapax share of TYPES)
    */
  def typeTokenStats(docs: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(sliceCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(sliceCol), col("tok")).agg(count(lit(1)).as("__f"))
    tf.groupBy(col(sliceCol))
      .agg(sum(col("__f")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__f") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 div n_tokens"))
      .withColumn("hapax_ppm", expr("n_hapax * 1000000 div n_types"))
      .orderBy(col(sliceCol))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of K rankings into
    * one — the standard hybrid-retrieval combiner (BM25 lexical +
    * dense-embedding ANN feed one ranked list without score
    * calibration, since RRF consumes only ranks). Each input carries
    * `(docCol, rnk)`; fused score = Σ_lists round(1e9/(k0+rnk)) in
    * exact integer nano-units (per-list quantization BEFORE the sum —
    * double addition order would leak engine layout), missing docs
    * contribute 0.
    *
    * Scale shape: inputs are already top-N tables (bounded by their
    * own retrieval cut), so the union/aggregate is tiny; the final
    * top-`topK` cut is a TakeOrderedAndProject. Ties break on doc id.
    *
    * @return `rnk, <docCol>, n_lists, rrf_q` — fused rank, doc,
    *         how many input lists contained it, integer RRF score
    */
  def rrfFuse(rankings: Seq[DataFrame], docCol: String, topK: Int,
              k0: Int = 60): DataFrame = {
    require(rankings.size >= 2, "fusion needs at least two rankings")
    val contribs = rankings.map { r =>
      r.select(col(docCol),
        round(lit(1e9) / (lit(k0) + col("rnk").cast("double"))).cast("long").as("__c"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy(col(docCol))
      .agg(sum(col("__c")).as("rrf_q"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_q").desc, col(docCol))
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_q").desc, col(docCol))
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col(docCol), col("n_lists"), col("rrf_q"))
  }

  /** Dunning log-likelihood keyness (G², Dunning 1993): for each
    * corpus slice, the top-k tokens most over-represented vs the REST
    * of the corpus — the corpus-linguistics "characteristic terms"
    * report (what makes this source/language/time-slice read the way
    * it does), and the standard signal for slice-specific boilerplate.
    *
    * `G² = 2·(a·ln(a/E_a) + b·ln(b/E_b))` over the 2×2 token/slice
    * table, signed by over/under-representation — the sign test
    * `a·N > R₁·(a+b)` runs in exact DECIMAL, never a float ratio.
    * Scores are per-row IEEE arithmetic on exact counts (quantized to
    * micro-units, no cross-row float sums), so ranks replay anywhere.
    *
    * Plan shape: (slice, token) counts join token totals on the token
    * key (both already reduced); per-slice totals and the grand total
    * ride broadcasts; the top-k rank is slice-partitioned
    * (WindowGroupLimit keeps it partial map-side).
    *
    * @return `<sliceCol>, rnk, tok, obs` (count in slice), `exp`
    *         (expected under homogeneity, 4 dp), `g2_q` (signed
    *         round(G²·1e6))
    */
  def keynessTopK(docs: DataFrame, sliceCol: String, textCol: String,
                  k: Int): DataFrame = {
    require(k > 0)
    val tf = docs
      .select(col(sliceCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(sliceCol), col("tok")).agg(count(lit(1)).as("a"))
    val tokTot = tf.groupBy(col("tok")).agg(sum(col("a")).as("ab"))
    val sliceTot = tf.groupBy(col(sliceCol)).agg(sum(col("a")).as("r1"))
    val grand = sliceTot.agg(sum(col("r1")).as("nn"))
    val scored = tf
      .join(tokTot, "tok")
      .join(broadcast(sliceTot), sliceCol)
      .join(broadcast(grand))
      .withColumn("b", col("ab") - col("a"))
      .withColumn("r2", col("nn") - col("r1"))
      .withColumn("__ea",
        col("r1").cast("double") * col("ab").cast("double") / col("nn").cast("double"))
      .withColumn("__eb",
        col("r2").cast("double") * col("ab").cast("double") / col("nn").cast("double"))
      .withColumn("__g2",
        lit(2.0) * (col("a").cast("double") * log(col("a").cast("double") / col("__ea")) +
          when(col("b") > 0L,
            col("b").cast("double") * log(col("b").cast("double") / col("__eb")))
            .otherwise(lit(0.0))))
      .withColumn("g2_q",
        when(col("a").cast("decimal(38,0)") * col("nn") > col("r1").cast("decimal(38,0)") * col("ab"),
          round(col("__g2") * 1e6).cast("long"))
          .otherwise(-round(col("__g2") * 1e6).cast("long")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sliceCol)).orderBy(col("g2_q").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(sliceCol), col("rnk"), col("tok"), col("a").as("obs"),
        round(col("__ea"), 4).as("exp"), col("g2_q"))
      .orderBy(col(sliceCol), col("rnk"))
  }

  /** Default RAKE stopword list (function-word delimiters). Small on
    * purpose — RAKE degrades gracefully with a short list, and a
    * short fixed list keeps the oracle replay trivial.
    */
  val RakeStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on",
    "for", "with", "as", "by", "at", "it", "this", "that", "be",
    "are", "was", "from")

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents"): candidate phrases are
    * maximal stopword-free token runs; a word scores deg/freq (deg =
    * Σ length of phrases containing it — words that travel in long
    * phrases score high); a phrase scores the sum of its words. The
    * corpus-level top-k is the "what is this corpus about" digest.
    *
    * Determinism: tokenization is a single-space split + lowercase +
    * `[^a-z0-9]` strip (no locale, no regex-engine divergence); word
    * scores quantize to integer ppm (deg·1e6 div freq) BEFORE the
    * phrase sum, so phrase scores are order-free integer sums.
    *
    * Scale shape: one token explode (linear), ONE per-doc window for
    * the phrase-id prefix count (partition = one document), two
    * vocabulary-bounded word aggregates broadcast back onto the
    * linear token stream, a phrase-text aggregate, and a top-k heap
    * (TakeOrderedAndProject). Nothing holds more than a vocabulary.
    *
    * @return top-k rows: `phrase, n_occ, n_words, score_q` ordered
    *         (score_q desc, phrase)
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = RakeStopwords,
                   maxLen: Int = 4, topK: Int = 25): DataFrame = {
    require(maxLen >= 1 && topK >= 1 && stopwords.nonEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), " ")))
      .select(col("doc_id"), col("pos"),
        regexp_replace(lower(col("col")), "[^a-z0-9]", "").as("tok"))
      .withColumn("stop",
        col("tok").isin(stopwords: _*) || col("tok") === "")
      // phrase id = stop delimiters seen so far (own flag is 0 for
      // every token that survives the filter below)
      .withColumn("pid", sum(col("stop").cast("long")).over(w))
      .where(!col("stop"))
    val phrases = toks
      .groupBy(col("doc_id"), col("pid"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(array_sort(collect_list(
          struct(col("pos"), col("tok")))), x => x("tok"))).as("phrase"))
      .where(col("plen") <= maxLen)
    val wordStats = phrases
      .select(col("plen"), explode(split(col("phrase"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("tok"), expr("(deg * 1000000) div freq").as("wscore_q"))
    val instScores = phrases
      .select(col("doc_id"), col("pid"), col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("tok"))
      .join(broadcast(wordStats), "tok")
      .groupBy(col("doc_id"), col("pid"), col("phrase"), col("plen"))
      .agg(sum(col("wscore_q")).as("score_q")) // exact integer per instance
    instScores
      .groupBy(col("phrase"), col("plen"))
      // every instance of a phrase text has the same words, hence the
      // same exact score — min is just the dedup
      .agg(count(lit(1)).as("n_occ"), min(col("score_q")).as("score_q"))
      .select(col("phrase"), col("n_occ"), col("plen").as("n_words"),
        col("score_q"))
      .orderBy(col("score_q").desc, col("phrase")).limit(topK)
  }

  /** Tokenizer-fit audit per source: FERTILITY (tokens per
    * whitespace word — the cost multiplier a tokenizer imposes on a
    * domain; >2 means the vocabulary wasn't trained for it) and the
    * CHARACTER-FALLBACK share (single-char tokens ≈ byte-fallback
    * rate — the "vocabulary doesn't know these words" signal). Runs
    * the merge-rank-faithful encoder ([[bpeEncodeRanked]]), so the
    * numbers reflect the segmentation training would actually see.
    *
    * Same scale shape as the encoder: the replace-chain runs over
    * DISTINCT words, the corpus side is map-only, and the report is
    * one partial-agg rollup per source.
    *
    * @return one row per source: `source, n_docs, n_words, n_tokens,
    *         fertility_ppm, char_tok_ppm`, ordered by source
    */
  def vocabFitBySource(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String,
                       merges: Seq[(String, String)] = DemoBpeMerges): DataFrame = {
    val enc = bpeEncodeRanked(docs, idCol, textCol, merges)
    val meta = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      size(filter(split(lower(col(textCol)), " "), w => length(w) > 0))
        .cast("long").as("n_words"))
    val toks = enc.select(col("doc_id"), col("n_tokens"),
      size(filter(split(col("toks"), "\\|"), t => length(t) === 1))
        .cast("long").as("n_char_toks"))
    meta.join(toks, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_char_toks")).as("n_char_toks"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("CASE WHEN n_words = 0 THEN 0L ELSE (n_tokens * 1000000) div n_words END")
          .as("fertility_ppm"),
        expr("CASE WHEN n_tokens = 0 THEN 0L ELSE (n_char_toks * 1000000) div n_tokens END")
          .as("char_tok_ppm"))
      .orderBy(col("source"))
  }

  /** N-gram novelty vs a reference slice — the memorization /
    * freshness audit (the flip side of decontamination: instead of
    * dropping overlap, MEASURE it): what fraction of each source's
    * distinct `w`-gram mass does the reference corpus not contain?
    * New crawl snapshots with low novelty are paying storage for
    * text the model already has.
    *
    * Exact anti-join form (the test-scale oracle anchor); at 100 TB
    * swap the reference side for the Bloom gate
    * ([[DedupOps]] decontam path) — same per-source ratios within
    * the filter's false-positive rate.
    *
    * @return one row per source: `source, n_docs, n_grams (distinct
    *         per doc, summed), n_novel, novel_ppm` ordered by source
    */
  def ngramNoveltyBySource(docs: DataFrame, idCol: String, textCol: String,
                           sourceCol: String, isRef: Column,
                           w: Int = 5): DataFrame = {
    val tagged = docs.withColumn("__ref", when(isRef, true).otherwise(false))
    val refGrams = DedupOps
      .wordShingles(tagged.where(col("__ref")), idCol, textCol, w)
      .select(col("sh")).distinct()
    val candGrams = DedupOps
      .wordShingles(tagged.where(!col("__ref")), idCol, textCol, w)
    val perDoc = candGrams
      .join(refGrams, Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__novel"))
    val base = candGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("__grams"))
    base.join(perDoc, Seq("doc_id"), "left")
      .join(tagged.select(col(idCol).as("doc_id"), col(sourceCol).as("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__grams")).as("n_grams"),
        sum(coalesce(col("__novel"), lit(0L))).as("n_novel"))
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_grams").as("novel_ppm"))
      .orderBy(col("source"))
  }
}
