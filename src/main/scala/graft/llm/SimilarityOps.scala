package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Materializer.freeze

/** Similarity search over embedding columns (SURVEY.md §2.8 X3).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k via cross join. Correct
  *    baseline; O(Q·N) pairs, viable when the query set is small or as
  *    the per-bucket verifier below.
  *  - [[ivfTopK]] — IVF-style approximate search: corpus bucketed by
  *    nearest coarse centroid (one shuffle, reusable across queries),
  *    queries probe only the `nProbe` nearest buckets. This is the
  *    100 TB path: the cross join shrinks from N to N·nProbe/K per
  *    query, and buckets are independent partitions.
  *
  * Scores are quantized-integer cosine, deterministic in any execution
  * order, hence oracle-reproducible. Every vector is quantized ONCE
  * ([[graft.functions.QuantizeVec]], O(N)) before any pair join; the
  * O(N²) inner loop is a pure integer dot product
  * ([[graft.functions.LongDot]], codegen'd, allocation-free).
  */
object SimilarityOps {

  /** cosine = dot / sqrt(norm2(a) * norm2(b)) — all-integer until the
    * final division, so bitwise identical on any engine.
    */
  def quantizedCosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / sqrt((n2a * n2b).cast("double"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries  (idCol, vecCol) query vectors
    * @param corpus   (idCol, vecCol) corpus vectors
    * @param k        neighbors per query
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = quantized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("__qv").as("__qa"), col("__n2").as("__qn2"))
    val c = quantized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__qv").as("__qb"), col("__n2").as("__cn2"))
    // project the arrays away BEFORE the rank window: the sort must
    // move (query_id, neighbor_id, cosine) rows, not kilobyte vectors
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.longDot(col("__qa"), col("__qb")), col("__qn2"), col("__cn2"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Deterministic Lloyd refinement of IVF centroids, entirely in
    * quantized integer space: assignment uses the integer-cosine
    * argmax with id tiebreak, and the new centroid is the element-wise
    * integer mean (`sum div count` — exact longs, order-free), so every
    * run and every engine produces bit-identical centroids from the
    * same seeds. Empty buckets drop out (k can shrink), which IVF
    * probing tolerates by construction.
    *
    * Per iteration: one broadcast of the (tiny) centroid table, one
    * shuffle of the corpus by id for the argmax window, one hash
    * aggregation for the means — the textbook distributed k-means
    * cost, linear in corpus size.
    *
    * @param seeds (centroid_id, __centq ARRAY<BIGINT>) initial centroids
    */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      seeds: DataFrame, iters: Int): DataFrame = {
    val corpusQ = quantized(corpus, idCol, vecCol)
      .select(col(idCol), col("__qv"), col("__n2"))
    var cents = seeds
    for (_ <- 1 to iters) {
      // map-only argmax ([[argTopCentroids]]): the only shuffle per
      // iteration is the mean aggregation below
      val assigned = argTopCentroids(
        corpusQ,
        cents.withColumn("__centn2",
          VectorFunctions.longDot(col("__centq"), col("__centq"))),
        keep = 1)
      // tiny table; the freeze truncates the per-iter lineage
      cents = freeze(assigned
        .select(col("centroid_id"), posexplode(col("__qv")).as(Seq("p", "v")))
        .groupBy("centroid_id", "p").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("m", expr("s div n"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("__ms"))
        .withColumn("__centq", expr("transform(__ms, x -> x.m)"))
        .select(col("centroid_id"), col("__centq")))
    }
    cents
  }

  /** The IVF coarse index: `(centroid_id, __centq, __centn2)`.
    *
    * Centroid choice is seed-free and reproducible: the `nCentroids`
    * corpus vectors with the smallest ids, optionally refined with
    * `kmeansIters` deterministic Lloyd iterations
    * ([[refineCentroids]]) — same bucketing/probing plan, measurably
    * better recall at low nProbe (SimilarityOpsSpec pins the
    * improvement; tools/Probe measures it on the testdata embeddings).
    *
    * This is the expensive, corpus-wide part of IVF — at scale compute
    * it ONCE per corpus (localCheckpoint it, or persist it as a table),
    * then pass the result to every [[ivfTopK]] /
    * [[cosineNearDupPairsIvf]] batch: index once, query many. The
    * convenience overloads that take `nCentroids` re-derive it inline
    * and are for one-shot use.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int, kmeansIters: Int = 0): DataFrame = {
    val seeds = quantized(corpus.orderBy(col(idCol)).limit(nCentroids), idCol, vecCol)
      .select(col(idCol).as("centroid_id"), col("__qv").as("__centq"))
    val refined =
      if (kmeansIters > 0) refineCentroids(corpus, idCol, vecCol, seeds, kmeansIters)
      else seeds
    refined.withColumn("__centn2", VectorFunctions.longDot(col("__centq"), col("__centq")))
  }

  /** MAP-ONLY centroid assignment: adds `centroid_id`, one output row
    * per (input row, probed bucket), for rows already carrying
    * (`__qv`, `__n2`).
    *
    * The centroid table is collapsed to a single row holding an array
    * of (centroid_id, q, n2) structs and broadcast; each data row then
    * scores all K centroids and takes its top-`keep` with a per-row
    * sort — transform → array_sort → slice → explode, all inside the
    * row's task. The previous formulation broadcast-joined K rows per
    * input row and ranked them through a window PARTITIONED BY id:
    * correct, but it shuffled N·K rows per query batch, which at
    * K in the thousands dwarfs the search itself. Scoring work
    * (K dots per row) is identical; the shuffle is gone.
    *
    * Ordering matches the old window exactly (score desc, centroid_id
    * asc); zero-norm rows or centroids score -2.0 (below any real
    * cosine) instead of NaN.
    */
  private def argTopCentroids(dfQ: DataFrame, cents: DataFrame, keep: Int): DataFrame = {
    val centArr = broadcast(cents.agg(
      array_sort(collect_list(struct(col("centroid_id"), col("__centq"), col("__centn2"))))
        .as("__cents")))
    val scored = transform(col("__cents"), c => struct(
      when(col("__n2") === 0 || c.getField("__centn2") === 0, lit(-2.0))
        .otherwise(quantizedCosine(
          VectorFunctions.longDot(col("__qv"), c.getField("__centq")),
          col("__n2"), c.getField("__centn2"))).as("score"),
      c.getField("centroid_id").as("centroid_id")))
    val ranked = array_sort(scored, (l, r) =>
      when(l.getField("score") > r.getField("score"), -1)
        .when(l.getField("score") < r.getField("score"), 1)
        .when(l.getField("centroid_id") < r.getField("centroid_id"), -1)
        .when(l.getField("centroid_id") > r.getField("centroid_id"), 1)
        .otherwise(0))
    dfQ.join(centArr) // 1-row broadcast: nested-loop join, no shuffle
      .withColumn("__c", explode(slice(ranked, 1, keep)))
      .withColumn("centroid_id", col("__c").getField("centroid_id"))
      .drop("__cents", "__c")
  }

  /** Each row of `df` assigned to its `keep` nearest centroids by
    * quantized cosine (id tiebreak): `df`'s columns plus (`__qv`,
    * `__n2`, `centroid_id`), one row per (row, probed bucket).
    */
  private def assignBuckets(df: DataFrame, idCol: String, vecCol: String,
                            cents: DataFrame, keep: Int): DataFrame =
    argTopCentroids(quantized(df, idCol, vecCol), cents, keep)

  /** IVF-style ANN, one-shot: derives the coarse index inline, then
    * searches. See the overload taking `centroids` for the amortized
    * (index once, query many) shape.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int, nProbe: Int, kmeansIters: Int = 0): DataFrame =
    ivfTopK(queries, corpus, idCol, vecCol, k,
      ivfCentroids(corpus, idCol, vecCol, nCentroids, kmeansIters), nProbe)

  /** IVF-style ANN against a precomputed coarse index
    * ([[ivfCentroids]]): assign corpus vectors to their nearest
    * centroid, then search only the `nProbe` buckets nearest to each
    * query. The corpus assignment recomputes every call — the
    * index-once/query-many shape persists it instead:
    * [[ivfInvertedLists]] + [[ivfTopKIndexed]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, centroids: DataFrame, nProbe: Int): DataFrame =
    ivfTopKIndexed(queries, ivfInvertedLists(corpus, idCol, vecCol, centroids),
      idCol, vecCol, k, centroids, nProbe)

  /** The IVF INVERTED LISTS — the payload a real IVF index stores
    * (FAISS's lists): every corpus row assigned to its single nearest
    * centroid, carrying its quantized vector and squared norm so
    * probing never touches the raw corpus again. Persist through
    * [[IvfIndex.loadOrBuildLists]] beside the centroids; at 100 TB
    * re-deriving this per query batch is a full corpus scan + K dots
    * per row, while loading it is a partition-pruned parquet read.
    * Schema: (centroid_id, idCol, __qv, __n2).
    */
  def ivfInvertedLists(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame): DataFrame =
    assignBuckets(corpus, idCol, vecCol, centroids, 1)
      .select(col("centroid_id"), col(idCol), col("__qv"), col("__n2"))

  /** IVF search against persisted inverted lists
    * ([[ivfInvertedLists]]): only the QUERIES are assigned per call
    * (rows × K dots on the small side); the corpus side is the stored
    * list table, joined on `centroid_id` so only probed buckets scan.
    */
  def ivfTopKIndexed(queries: DataFrame, lists: DataFrame, idCol: String,
                     vecCol: String, k: Int, centroids: DataFrame,
                     nProbe: Int): DataFrame = {
    val bucketed = lists
      .select(col("centroid_id"), col(idCol).as("neighbor_id"),
        col("__qv").as("__qb"), col("__n2").as("__cn2"))
    val probes = assignBuckets(queries, idCol, vecCol, centroids, nProbe)
      .select(col("centroid_id"), col(idCol).as("query_id"), col("__qv").as("__qa"), col("__n2").as("__qn2"))

    // per-bucket brute force: join is on centroid_id, so only probed
    // buckets are scanned; at scale both sides shuffle-partition by
    // centroid_id instead of a full cross join.
    val scored = probes.join(bucketed, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.longDot(col("__qa"), col("__qb")), col("__qn2"), col("__cn2"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Contrastive hard-negative mining off the persisted IVF lists —
    * the training-pair builder for embedding models (SimCSE/DPR
    * recipes): for each anchor, the top-k candidates whose cosine
    * falls in the HARD band `[loCos, hiCos)` — similar enough to be
    * informative, below the near-duplicate zone that would make them
    * false negatives. Random negatives are trivially easy; mining the
    * band is what moves retrieval metrics.
    *
    * Same probed-bucket shape as [[ivfTopKIndexed]] (seventh operator
    * off the one shared IVF index): only `nProbe` buckets per anchor
    * scan, each (anchor, candidate) scored once with the quantized
    * integer dot. The band keeps recall semantics honest: a hard
    * negative missed because it lives outside every probed bucket is
    * the standard IVF recall trade, measured for this index in
    * BASELINE.md's banding/recall tables.
    *
    * @return per anchor up to k rows: `query_id, rank, neighbor_id,
    *         cosine` (rank 1 = hardest), ordered by the caller
    */
  def hardNegativesIndexed(queries: DataFrame, lists: DataFrame, idCol: String,
                           vecCol: String, k: Int, centroids: DataFrame,
                           nProbe: Int, loCos: Double, hiCos: Double): DataFrame = {
    require(loCos < hiCos, s"band [$loCos, $hiCos) is empty")
    val scored = probedCandidates(queries, lists, idCol, vecCol, centroids, nProbe)
      // the band test runs on the SAME quantized-integer-derived
      // double both engines compute — one IEEE op sequence, exact
      .filter(col("cosine") >= loCos && col("cosine") < hiCos)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Shared probed-bucket candidate scorer: each (anchor, candidate)
    * co-located in one of the anchor's `nProbe` buckets, scored once
    * with the quantized integer dot. Corpus vectors live in exactly
    * ONE stored list, so no dedup is needed.
    */
  private def probedCandidates(queries: DataFrame, lists: DataFrame,
                               idCol: String, vecCol: String,
                               centroids: DataFrame, nProbe: Int): DataFrame = {
    val bucketed = lists
      .select(col("centroid_id"), col(idCol).as("neighbor_id"),
        col("__qv").as("__qb"), col("__n2").as("__cn2"))
    val probes = assignBuckets(queries, idCol, vecCol, centroids, nProbe)
      .select(col("centroid_id"), col(idCol).as("query_id"),
        col("__qv").as("__qa"), col("__n2").as("__qn2"))
    probes.join(bucketed, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.longDot(col("__qa"), col("__qb")),
          col("__qn2"), col("__cn2")).as("cosine"))
  }

  /** End-to-end contrastive TRAINING-PAIR builder: per anchor, the
    * single best positive (cosine ≥ `posCos` — a near-duplicate /
    * paraphrase) crossed with its top-`negK` hard negatives
    * ([[hardNegativesIndexed]]'s band) — the (anchor, positive,
    * negative) triplets a SimCSE/DPR-style trainer consumes directly.
    * Anchors lacking either side drop out (a triplet needs both).
    *
    * ONE probed-bucket scoring pass feeds both branches; the
    * positive side is a per-anchor rank-1 window, the join back is
    * anchor-keyed. Output is ≤ negK rows per surviving anchor.
    *
    * @return `query_id, pos_id, pos_cos, neg_rank, neg_id, neg_cos`
    */
  def trainingPairsIndexed(queries: DataFrame, lists: DataFrame, idCol: String,
                           vecCol: String, centroids: DataFrame, nProbe: Int,
                           posCos: Double, loCos: Double, hiCos: Double,
                           negK: Int): DataFrame = {
    require(hiCos <= posCos, s"negative band must sit below posCos ($hiCos > $posCos)")
    val scored = probedCandidates(queries, lists, idCol, vecCol, centroids, nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val positives = scored.filter(col("cosine") >= posCos)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("cosine").as("pos_cos"))
    val negatives = scored
      .filter(col("cosine") >= loCos && col("cosine") < hiCos)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= negK)
      .select(col("query_id"), col("neg_rank"),
        col("neighbor_id").as("neg_id"), col("cosine").as("neg_cos"))
    positives.join(negatives, "query_id")
      .select("query_id", "pos_id", "pos_cos", "neg_rank", "neg_id", "neg_cos")
  }

  /** X2 (embedding variant): near-duplicate pairs by cosine >=
    * `num/den` over all `id_a < id_b` pairs. The threshold test is done
    * on the all-integer dot/norms (den²·dot² vs num²·n2a·n2b, guarded
    * on dot >= 0), so it is bit-exact on any engine. This is the
    * correctness baseline; the scale path buckets by IVF centroid (see
    * [[ivfTopK]]) or LSH first and verifies pairs per bucket.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         num: Long, den: Long): DataFrame = {
    val a = quantized(df, idCol, vecCol)
      .select(col(idCol).as("id_a"), col("__qv").as("__qa"), col("__n2").as("__na"))
    val b = quantized(df, idCol, vecCol)
      .select(col(idCol).as("id_b"), col("__qv").as("__qb"), col("__n2").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("__dot", VectorFunctions.longDot(col("__qa"), col("__qb")))
      // cosine >= num/den  <=>  den·dot >= num·sqrt(na·nb)
      //                    <=>  dot >= 0 && den²·dot² >= num²·na·nb
      .filter(col("__dot") >= 0 &&
        col("__dot") * col("__dot") * lit(den * den) >= col("__na") * col("__nb") * lit(num * num))
      .select(col("id_a"), col("id_b"),
        quantizedCosine(col("__dot"), col("__na"), col("__nb")).as("cosine"))
  }

  /** X2 (embedding variant), IVF-bucketed — the 100 TB shape of
    * [[cosineNearDupPairs]]: every vector is assigned to its `nProbe`
    * nearest coarse centroids ([[ivfCentroids]]), candidate pairs are
    * only those co-located in at least one bucket, and each candidate
    * is verified with the same all-integer threshold test. The pair
    * join is on `centroid_id`, so work is per-bucket
    * (Σ bucket² · nProbe² in the worst case), never N² — and each
    * bucket is an independent shuffle partition.
    *
    * Recall semantics: a qualifying pair is missed iff its two vectors
    * share none of their `nProbe` buckets (false negatives possible,
    * like LSH banding); verified pairs are never false positives. At
    * `nProbe` = nCentroids every pair co-locates, so the output
    * degenerates to exactly [[cosineNearDupPairs]] — the oracle anchor
    * the driver gate checks value-exact.
    */
  def cosineNearDupPairsIvf(df: DataFrame, idCol: String, vecCol: String,
                            num: Long, den: Long,
                            centroids: DataFrame, nProbe: Int): DataFrame = {
    val assigned = assignBuckets(df, idCol, vecCol, centroids, nProbe)
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col("__qv").as("__qa"), col("__n2").as("__na"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col("__qv").as("__qb"), col("__n2").as("__nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__dot", VectorFunctions.longDot(col("__qa"), col("__qb")))
      .filter(col("__dot") >= 0 &&
        col("__dot") * col("__dot") * lit(den * den) >= col("__na") * col("__nb") * lit(num * num))
      .select(col("id_a"), col("id_b"),
        quantizedCosine(col("__dot"), col("__na"), col("__nb")).as("cosine"))
      // a pair can co-locate in up to nProbe² buckets; cosine is a pure
      // function of the pair, so the duplicate rows are identical
      .distinct()
  }

  /** X2 (SemDeDup shape — Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): semantic
    * dedup of an embedding corpus via cluster-scoped near-dup pruning.
    * Each vector is assigned to its ONE nearest coarse centroid
    * (`nProbe = 1`, map-only broadcast — the paper's k-means
    * partition); within each cluster, pairs with cosine >= `num/den`
    * are semantic duplicates, and exactly one per duplicate
    * relationship is kept — the paper keeps the item LEAST similar to
    * the cluster centroid (low centroid similarity = more diversity
    * retained), so an item is dropped iff some same-cluster neighbor
    * above the threshold precedes it in (centroid-similarity asc, id
    * asc) order.
    *
    * Determinism discipline: both the duplicate test and the
    * precedence comparison are ALL-INTEGER on the quantized vectors —
    * cos(a,b) >= num/den as `den²·dot² >= num²·na·nb` (guarded dot >=
    * 0), and s_cent(b) < s_cent(a) as a sign case split plus
    * `cb²·na <?> ca²·nb` in 38-digit decimal (the common centroid-norm
    * factor cancels inside a cluster) — so the kept/dropped verdict is
    * bit-exact on any engine with exact wide arithmetic, never a
    * float-ordering coin flip.
    *
    * Plan shape at scale: assignment is map-only (broadcast centroid
    * array, no shuffle); the pair join keys on `centroid_id`, so work
    * is Σ cluster² — the published SemDeDup cost model — with each
    * cluster an independent shuffle partition; the drop verdict is a
    * left-semi-style aggregation, no window, no driver state. Output:
    * one row per input id — (idCol, centroid_id, kept).
    *
    * @param centroids [[ivfCentroids]] output (persistable via
    *   IvfIndex — the oracle replays the same parquet table)
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               num: Long, den: Long, centroids: DataFrame): DataFrame =
    semDedupIndexed(ivfInvertedLists(df, idCol, vecCol, centroids),
      idCol, num, den, centroids)

  /** [[semDedup]] against PERSISTED inverted lists — the cluster
    * assignment SemDeDup starts from IS the keep=1 list table
    * ([[ivfInvertedLists]]), so the same stored artifact that serves
    * [[ivfTopKIndexed]] and [[ivfNearDupGateIndexed]] serves semantic
    * dedup: one index, three operators. Only the centroid-similarity
    * dot (the keep-order key) is computed per call — a broadcast join
    * against the centroid table, no corpus re-assignment.
    */
  def semDedupIndexed(lists: DataFrame, idCol: String,
                      num: Long, den: Long, centroids: DataFrame): DataFrame = {
    require(num >= 0 && den > 0, "threshold num/den must be non-negative")
    val assigned = lists
      .join(broadcast(centroids.select(col("centroid_id"), col("__centq"))), Seq("centroid_id"))
      .withColumn("__cdot", VectorFunctions.longDot(col("__qv"), col("__centq")))
      .select(col("centroid_id"), col(idCol), col("__qv"), col("__n2"), col("__cdot"))
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col("__qv").as("__qa"), col("__n2").as("__na"), col("__cdot").as("__ca"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col("__qv").as("__qb"), col("__n2").as("__nb"), col("__cdot").as("__cb"))

    // b precedes a in the canonical keep order: s_cent(b) < s_cent(a),
    // id tiebreak. With a common centroid, s_i orders like
    // c_i/sqrt(n_i): for same-sign dots compare cb²·na vs ca²·nb
    // (direction flips when both negative); a negative dot sorts below
    // any non-negative one. Zero-norm rows have c = 0, so they compare
    // "equal" to each other and resolve by id — deterministic.
    val dec = "decimal(38,0)"
    val wa = col("__ca").cast(dec) * col("__ca").cast(dec) * col("__nb").cast(dec)
    val wb = col("__cb").cast(dec) * col("__cb").cast(dec) * col("__na").cast(dec)
    val aNeg = col("__ca") < 0
    val bNeg = col("__cb") < 0
    val bStrictlyBefore = (bNeg && !aNeg) ||
      (!aNeg && !bNeg && wb < wa) || (aNeg && bNeg && wb > wa)
    val sameS = (aNeg === bNeg) && (wa === wb)
    val precedes = bStrictlyBefore || (sameS && col("id_b") < col("id_a"))

    // Zero-norm guard: a vector that quantizes to all zeros has
    // n2 = 0, which would make the squared-cosine inequality
    // vacuously true (0 >= 0) against EVERY cluster member at any
    // threshold. Cosine is undefined for a zero vector, so such rows
    // are never duplicates of anything — they are always kept.
    val dup = col("__na") > 0 && col("__nb") > 0 && col("__dot") >= 0 &&
      col("__dot") * col("__dot") * lit(den * den) >= col("__na") * col("__nb") * lit(num * num)

    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("__dot", VectorFunctions.longDot(col("__qa"), col("__qb")))
      .filter(dup && precedes)
      .select(col("id_a").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))

    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(!col("__dropped"), lit(true)).as("kept"))
  }

  /** X2/X6: near-dup GATE against a static corpus — for each incoming
    * vector, emit every corpus vector with cosine >= `num/den` among
    * the `nProbe` probed IVF buckets: the ingest-time "is this new
    * document a near-duplicate of anything we already hold?" primitive.
    *
    * STATELESS by construction, so the same body runs batch or
    * streaming (stream-static joins only — [[graft.streaming.StreamOps
    * .annGateStream]] wraps it): the corpus is bucketed at its ONE
    * nearest centroid while incoming rows probe `nProbe` buckets, so a
    * (query, match) pair materializes exactly once — no distinct, no
    * aggregation, no watermark, nothing grows with stream length.
    * Matches are emitted per-candidate (a silent row = clean document);
    * recall follows IVF probe semantics (a true near-dup in an
    * unprobed bucket is missed — Probe measures the trade-off), and
    * every emitted match is exact-verified with the all-integer
    * threshold test, so false positives are impossible.
    */
  /** X3: cluster-balanced DIVERSITY SAMPLE — keep at most `perCell`
    * rows per embedding cluster, chosen by a deterministic pluggable
    * hash order (engine-neutral md5 makes the selection externally
    * reproducible). The corpus-curation counterpart of semantic
    * dedup: where SemDeDup removes near-identical vectors, this caps
    * DOMINANT clusters so the sampled corpus covers embedding space
    * instead of mirroring its skew (the cluster-balanced selection
    * step of SemDeDup/DoReMi-style curation pipelines).
    *
    * Scale shape: assignment is the SAME persisted inverted-list
    * table the ANN/semantic-dedup operators use (one index, four
    * operators); the per-cell quota is a rank-limit window that Spark
    * executes as WindowGroupLimit — each task keeps only its local
    * top-`perCell` per cell BEFORE the shuffle (plan-asserted), so
    * the exchange carries ≤ tasks × cells × perCell rows no matter
    * how skewed the cluster histogram is.
    *
    * @return (centroid_id, idCol, cell_rank LONG) — `cell_rank` ≤
    *         perCell in hash-then-id order within the cell
    */
  def diversitySampleIndexed(lists: DataFrame, idCol: String, perCell: Int,
                             hash: Column => Column): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("__h"), col(idCol))
    lists.select(col("centroid_id"), col(idCol))
      .withColumn("__h", pmod(hash(col(idCol).cast("string")), lit(1000000L)))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .filter(col("cell_rank") <= perCell)
      .drop("__h")
  }

  /** X3: per-cluster OUTLIER candidates off the persisted inverted
    * lists — the `k` rows in each cell whose cosine to their own
    * centroid is LOWEST, i.e. the least-typical members of every
    * cluster (what embedding-space data cleaning inspects or drops as
    * noise/mislabeled content; the flip side of
    * [[diversitySampleIndexed]]'s balanced keep). The sixth operator
    * sharing the one IVF index: ANN, gate, semantic dedup, diversity
    * sample, and now outlier surfacing all read the same stored
    * lists + centroids.
    *
    * Zero-norm rows score the sentinel −2.0 (below any real cosine),
    * matching the IVF assignment convention, so they surface first —
    * a zero embedding IS an outlier worth inspecting.
    *
    * Scale shape: one broadcast join on the |K|-row centroid table
    * (no corpus shuffle to score), then the same rank-limit window as
    * the diversity sample — WindowGroupLimit keeps each task's local
    * bottom-`k` per cell before the exchange, so the shuffle is
    * bounded at tasks × cells × k rows at any cluster skew.
    *
    * @return (centroid_id, out_rank LONG, idCol, cosine) — rank 1 is
    *         the cell's farthest-from-centroid row, id tiebreak
    */
  def cellOutliersIndexed(lists: DataFrame, centroids: DataFrame,
                          idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("cosine").asc, col(idCol))
    lists
      .join(broadcast(centroids.select(col("centroid_id"), col("__centq"),
        col("__centn2"))), Seq("centroid_id"))
      .select(col("centroid_id"), col(idCol),
        when(col("__n2") === 0 || col("__centn2") === 0, lit(-2.0))
          .otherwise(quantizedCosine(
            VectorFunctions.longDot(col("__qv"), col("__centq")),
            col("__n2"), col("__centn2"))).as("cosine"))
      .withColumn("out_rank", row_number().over(w).cast("long"))
      .filter(col("out_rank") <= k)
      .select(col("centroid_id"), col("out_rank"), col(idCol), col("cosine"))
  }

  /** X3/X2: near-dup THRESHOLD SWEEP off the persisted inverted
    * lists — how many pairs (and how many documents) would semantic
    * dedup remove at each candidate cosine threshold, in ONE pass:
    * the curve a curation owner reads before committing to a cutoff
    * (too low deletes topical diversity, too high leaves near-copies;
    * SemDeDup's epsilon choice). Candidates are bucket-scoped (same
    * cell ⇒ same coarse region — the scope the semantic-dedup
    * operator itself uses), each pair scored ONCE with the
    * all-integer dot/norm test and exploded only into the ≤
    * |thresholds| rows it qualifies for.
    *
    * Thresholds are percents that must reduce to a denominator ≤ 20
    * (multiples of 5): the exact integer test compares den²·dot²
    * against num²·n2a·n2b, and den ≤ 20 keeps every product inside
    * Long at quantized-norm magnitudes (den = 100 would overflow).
    *
    * Cost is the bucket-scoped pair count — Σ_cells n_c²/2, the same
    * class as the semantic-dedup pass it parameterizes (measured
    * 6.9× per 10× at FIXED cell count). At corpus scale size
    * `nCentroids` with the data (the √N IVF sizing rule) so per-cell
    * populations — and with them this sweep — stay bounded.
    *
    * @return (threshold_pct, n_pairs, n_docs) per threshold — n_docs
    *         counts documents appearing in ≥1 qualifying pair
    */
  def nearDupThresholdSweep(lists: DataFrame, idCol: String,
                            thresholdsPct: Seq[Int]): DataFrame = {
    require(thresholdsPct.nonEmpty, "at least one threshold")
    thresholdsPct.foreach { t =>
      require(t > 0 && t < 100, s"threshold must be in (0,100), got $t")
      val g = BigInt(t).gcd(BigInt(100)).toInt
      require(100 / g <= 20,
        s"threshold $t% reduces to denominator ${100 / g} > 20 — the integer " +
          "comparison would overflow; use multiples of 5")
    }
    val a = lists.select(col("centroid_id"), col(idCol).as("id_a"),
      col("__qv").as("__qa"), col("__n2").as("__na"))
    val b = lists.select(col("centroid_id"), col(idCol).as("id_b"),
      col("__qv").as("__qb"), col("__n2").as("__nb"))
    val scored = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.longDot(col("__qa"), col("__qb")).as("__dot"),
        col("__na"), col("__nb"))
    val qualifying = scored
      .select(col("id_a"), col("id_b"), col("__dot"), col("__na"), col("__nb"),
        explode(typedLit(thresholdsPct.sorted)).as("threshold_pct"))
      .filter {
        // cosine >= num/den  <=>  dot >= 0 && den²·dot² >= num²·na·nb,
        // with (num, den) the reduced fraction of threshold_pct/100 —
        // computed per distinct threshold literal so the arithmetic
        // stays integer-exact
        thresholdsPct.sorted.map { t =>
          val g = BigInt(t).gcd(BigInt(100)).toLong
          val (num, den) = (t / g, 100 / g)
          col("threshold_pct") === t && col("__dot") >= 0 &&
            col("__dot") * col("__dot") * lit(den * den) >=
              col("__na") * col("__nb") * lit(num * num)
        }.reduce(_ || _)
      }
    val pairs = qualifying.groupBy(col("threshold_pct"))
      .agg(count(lit(1)).as("n_pairs"))
    val docs = qualifying
      .select(col("threshold_pct"), explode(array(col("id_a"), col("id_b"))).as("__d"))
      .groupBy(col("threshold_pct")).agg(countDistinct(col("__d")).as("n_docs"))
    pairs.join(docs, Seq("threshold_pct"))
      .select(col("threshold_pct").cast("long").as("threshold_pct"),
        col("n_pairs"), col("n_docs"))
  }

  /** [[diversitySampleIndexed]] with inline assignment — derives the
    * inverted lists from `centroids` first (index-once pipelines
    * should persist the lists and call the indexed form).
    */
  def diversitySample(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, perCell: Int,
                      hash: Column => Column): DataFrame =
    diversitySampleIndexed(ivfInvertedLists(corpus, idCol, vecCol, centroids),
      idCol, perCell, hash)

  def ivfNearDupGate(incoming: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, num: Long, den: Long,
                     centroids: DataFrame, nProbe: Int): DataFrame =
    ivfNearDupGateIndexed(incoming,
      ivfInvertedLists(corpus, idCol, vecCol, centroids),
      idCol, vecCol, num, den, centroids, nProbe)

  /** [[ivfNearDupGate]] against PERSISTED inverted lists
    * ([[ivfInvertedLists]] / [[IvfIndex.loadOrBuildLists]]). The
    * plain gate re-buckets the whole corpus per call — in the
    * streaming wrapper that means per MICRO-BATCH, a full corpus scan
    * every few seconds at 100 TB. Here the corpus side is the stored
    * list table: each micro-batch assigns only its own incoming rows
    * and joins the lists on `centroid_id` (partition-pruned scan of
    * probed buckets only).
    */
  def ivfNearDupGateIndexed(incoming: DataFrame, lists: DataFrame,
                            idCol: String, vecCol: String, num: Long, den: Long,
                            centroids: DataFrame, nProbe: Int): DataFrame = {
    val bucketed = lists
      .select(col("centroid_id"), col(idCol).as("neighbor_id"),
        col("__qv").as("__qb"), col("__n2").as("__nb"))
    val probes = assignBuckets(incoming, idCol, vecCol, centroids, nProbe)
      .select(col("centroid_id"), col(idCol).as("query_id"),
        col("__qv").as("__qa"), col("__n2").as("__na"))
    probes.join(bucketed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__dot", VectorFunctions.longDot(col("__qa"), col("__qb")))
      // Zero-norm guard (mirrors semDedup): n2 = 0 would satisfy the
      // inequality vacuously AND emit a NaN cosine (0/sqrt(0)); a
      // zero-quantized vector matches nothing, silently.
      .filter(col("__na") > 0 && col("__nb") > 0 && col("__dot") >= 0 &&
        col("__dot") * col("__dot") * lit(den * den) >= col("__na") * col("__nb") * lit(num * num))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(col("__dot"), col("__na"), col("__nb")).as("cosine"))
  }

  /** X3: deterministic ±1 sign projection (Johnson-Lindenstrauss
    * shape) — reduce an embedding to `outDim` components, each the
    * signed sum of the quantized inputs: `rp_q[k] = Σ_j q[j]·s(j,k)`,
    * `s(j,k) ∈ {±1}` derived from a hash of the coordinate pair. The
    * standard cheap dimension reduction BEFORE bucketed ANN at scale:
    * distances are approximately preserved (JL), the projection needs
    * no training data, and, being all-integer from quantized inputs,
    * the output is bit-exact on any engine for a given sign hash.
    *
    * Plan shape: the sign matrix is PRECOMPUTED — it depends only on
    * the (j, k) coordinate pair, so the hash runs maxInputDim·outDim
    * times inside one broadcast build instead of once per
    * (row, j, k) triple (measured 4x on the md5 variant). Data rows
    * posexplode, broadcast-join the sign table on j (expanding
    * ×outDim with the sign attached), and hash-aggregate keyed
    * (id, k) — map-side combinable, no window, no driver state.
    *
    * @param signHash (j, k) => non-negative hash; parity picks the
    *   sign. Default xxhash64 (fast); pass an md5-derived hash for an
    *   external-SQL-reproducible projection (`x3_jl_project` does).
    * @param maxInputDim sign-table height; an input vector longer than
    *   this fails loudly at run time (assert in the join), never
    *   silently truncates.
    */
  def signProject(df: DataFrame, idCol: String, vecCol: String, outDim: Int,
                  signHash: (Column, Column) => Column =
                    (j, k) => pmod(xxhash64(j, k), lit(2)),
                  maxInputDim: Int = 4096): DataFrame = {
    require(outDim > 0 && maxInputDim > 0, "outDim and maxInputDim must be positive")
    val spark = df.sparkSession
    val signs = broadcast(
      spark.range(maxInputDim).toDF("__j")
        .crossJoin(spark.range(outDim).toDF("k"))
        .withColumn("__s",
          when(signHash(col("__j"), col("k")) === 0, lit(1L)).otherwise(lit(-1L))))
    quantized(df, idCol, vecCol)
      .select(col(idCol), posexplode(col("__qv")).as(Seq("j", "q")))
      .join(signs, col("j").cast("long") === col("__j"), "left")
      // coalesce evaluates lazily: raise_error fires only on a j with
      // no sign row, i.e. a vector longer than the sign table
      .withColumn("__sc", coalesce(col("__s"),
        raise_error(lit(s"signProject: input vector dimension exceeds maxInputDim=$maxInputDim")).cast("long")))
      .groupBy(col(idCol), col("k"))
      .agg(sum(col("q") * col("__sc")).as("rp_q"))
  }

  /** X3: random-hyperplane (SimHash-for-vectors) LSH bucket id —
    * `nBits` sign bits of the [[signProject]] projection packed into
    * one long. Two vectors land in the same bucket iff they agree on
    * every hyperplane side; P[bit agrees] = 1 − θ/π (Charikar 2002),
    * so near-identical vectors collide with high probability. Like
    * [[signProject]] this is all-integer from quantized inputs —
    * deterministic on any engine for a given sign hash.
    */
  def rhpBucketIds(df: DataFrame, idCol: String, vecCol: String, nBits: Int,
                   signParity: (Long, Long) => Long =
                     graft.functions.RhpSign.xxhashParity): DataFrame =
    rhpBucketIdsMulti(df, idCol, vecCol, nBits, nTables = 1, signParity)
      .drop("table")

  /** Multi-table RHP buckets: `nTables` independent `nBits`-bit hash
    * tables from ONE `nBits·nTables`-dimension sign projection (table
    * t owns bits [t·nBits, (t+1)·nBits)) — the classic LSH recall
    * amplifier: a near pair is a candidate if it collides in ANY
    * table, P = 1 − (1 − p^nBits)^nTables for per-bit agreement p.
    * Output: one row per (id, table) with that table's bucket.
    *
    * MAP-ONLY and codegen'd: the ±1 sign matrix (outDim × maxInputDim
    * bytes) is precomputed driver-side — `signParity` is a plain
    * (j, k) ⇒ {0, 1} Scala function, default the exact replica of
    * `pmod(xxhash64(j, k), 2)` ([[graft.functions.RhpSign]]) so bucket
    * values are bit-identical to the original SQL formulation — and
    * every table's bucket is packed in one generated loop per row
    * ([[graft.functions.RhpBuckets]]). Earlier formulations (a) hash-
    * aggregated posexploded N·dim rows — two shuffles of the corpus —
    * then (b) evaluated interpreted `zip_with`/`aggregate` lambdas
    * against a broadcast sign row, per-element boxing that measured
    * 4.4 s on x3_ann_rhp at sf0.1 vs 0.7 s for this expression.
    */
  def rhpBucketIdsMulti(df: DataFrame, idCol: String, vecCol: String,
                        nBits: Int, nTables: Int,
                        signParity: (Long, Long) => Long =
                          graft.functions.RhpSign.xxhashParity,
                        maxInputDim: Int = 4096): DataFrame = {
    require(nBits > 0 && nBits < 62, "nBits must be in [1, 61]")
    require(nTables > 0, "nTables must be positive")
    val outDim = nBits * nTables
    val signs: Array[Array[Byte]] = Array.tabulate(outDim) { k =>
      val row = new Array[Byte](maxInputDim)
      var j = 0
      while (j < maxInputDim) {
        row(j) = if (signParity(j.toLong, k.toLong) == 0L) 1 else -1
        j += 1
      }
      row
    }
    df.select(col(idCol),
        graft.functions.ProjectionFunctions.rhpBuckets(
          VectorFunctions.quantizeVec(col(vecCol)), signs, nBits, nTables).as("__bkts"))
      .select(col(idCol), posexplode(col("__bkts")).as(Seq("table", "bucket")))
  }

  /** X3: LSH ANN via random-hyperplane buckets — the second ANN family
    * beside IVF ([[ivfTopK]]): corpus vectors hash to exactly ONE
    * bucket each ([[rhpBucketIds]]); each query probes every bucket
    * within Hamming distance `probeHamming` of its own (multi-probe
    * LSH: flipping the least-confident hyperplane bits is approximated
    * by flipping each subset). `probeHamming = nBits` probes all
    * 2^nBits buckets, so the result degenerates to exactly
    * [[bruteForceTopK]] — the value-exact oracle anchor.
    *
    * Cost model: E[pairs] ≈ Q·N·nTables·(Σ_{h≤probeHamming}
    * C(nBits,h))/2^nBits vs Q·N brute-force; buckets are independent
    * join partitions. vs IVF: no index to build or maintain (the hash
    * IS the index), at the price of data-oblivious buckets (lower
    * recall per probe). `nTables` > 1 amplifies recall the standard
    * LSH way — L independent tables, candidate = collision in ANY
    * table ([[rhpBucketIdsMulti]]); the corpus index grows L× (the
    * classic space-for-recall trade).
    */
  def rhpTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nBits: Int, probeHamming: Int, nTables: Int = 1,
              signParity: (Long, Long) => Long =
                graft.functions.RhpSign.xxhashParity,
              maxInputDim: Int = 4096): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= nBits,
      "probeHamming must be in [0, nBits]")
    require(nBits <= 20,
      s"rhpTopK: nBits=$nBits would enumerate 2^$nBits probe masks per query")
    // probe-mask list built ONCE driver-side (≤ 2^20 longs), exploded as
    // a literal — not a per-row sequence(0, 2^nBits)+filter evaluation
    val masks = (0L until (1L << nBits)).filter(java.lang.Long.bitCount(_) <= probeHamming)
    // the bucket-collision join carries ONLY ids: candidates are deduped
    // across tables BEFORE any dot product, so each unique pair is
    // scored exactly once (the first formulation scored every
    // (pair × table-collision) and distinct()ed the wide scored rows —
    // with 8 tables a near pair paid up to 8 longDots)
    rhpTopKIndexed(queries,
      rhpCorpusBuckets(corpus, idCol, vecCol, nBits, nTables, signParity, maxInputDim),
      rhpQuantizedCorpus(corpus, idCol, vecCol),
      idCol, vecCol, k, nBits, probeHamming, nTables, signParity, maxInputDim)
  }

  /** The RHP corpus-side bucket table `(table, bucket, neighbor_id)` —
    * the hash-family analogue of [[ivfInvertedLists]]; persistable via
    * [[IvfIndex]]-style [[graft.llm.DedupOps.loadOrBuildMinHashIndex]]
    * siblings (see `loadOrBuildRhpIndex` in the query layer).
    */
  def rhpCorpusBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                       nBits: Int, nTables: Int,
                       signParity: (Long, Long) => Long,
                       maxInputDim: Int): DataFrame =
    rhpBucketIdsMulti(corpus, idCol, vecCol, nBits, nTables, signParity, maxInputDim)
      .select(col("table"), col("bucket"), col(idCol).as("neighbor_id"))

  /** The quantized corpus scoring table `(neighbor_id, __qb, __cn2)` —
    * the second stored artifact an indexed RHP search needs (exact
    * verification of bucket candidates).
    */
  def rhpQuantizedCorpus(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantized(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__qv").as("__qb"), col("__n2").as("__cn2"))

  /** Persisted RHP index (IndexStore lifecycle): the corpus bucket
    * table and the quantized scoring table as sibling stored tables.
    * `parityTag` names the sign-hash family in the sidecar params
    * (functions don't fingerprint) — pass a new tag when changing
    * `signParity`, like any other build parameter.
    * Returns (buckets, quantizedCorpus).
    */
  def loadOrBuildRhpIndex(corpus: DataFrame, idCol: String, vecCol: String,
                          nBits: Int, nTables: Int, parityTag: String,
                          signParity: (Long, Long) => Long, maxInputDim: Int,
                          indexPath: String, rebuild: Boolean = false)
      : (DataFrame, DataFrame) = {
    val qc = IndexStore.loadOrBuild(corpus, "rhp-quantized",
      s"$indexPath/quantized", rebuild) {
      rhpQuantizedCorpus(corpus, idCol, vecCol)
    }
    val bk = IndexStore.loadOrBuild(corpus,
      s"rhp-buckets:nBits=$nBits,nTables=$nTables,parity=$parityTag,maxDim=$maxInputDim",
      s"$indexPath/buckets", rebuild) {
      rhpCorpusBuckets(corpus, idCol, vecCol, nBits, nTables, signParity, maxInputDim)
    }
    (bk, qc)
  }

  /** INCREMENTAL RHP index maintenance (VERDICT r8 item 5) — the
    * 100 TB append path for [[loadOrBuildRhpIndex]]: bucket ids and
    * quantized rows are per-vector (the hyperplane signs are a fixed
    * hash family, no cross-corpus state), so a delta hashes in
    * O(|delta|) and appends to both stored tables.
    *
    * Same protocol and freshness guard as [[IvfIndex.appendToLists]]:
    * snapshot `preAppendSig = IvfIndex.corpusSig(corpus)` BEFORE
    * appending to the corpus store; any sidecar mismatch (missing /
    * stale / different params) falls back to a full rebuild. Writes
    * commit in (quantized, stamp, buckets, stamp) order — a crash
    * leaves sidecars that force the next load to rebuild exactly the
    * behind table. Returns (buckets, quantizedCorpus) read back.
    */
  def appendToRhpIndex(newRows: DataFrame, idCol: String, vecCol: String,
                       nBits: Int, nTables: Int, parityTag: String,
                       signParity: (Long, Long) => Long, maxInputDim: Int,
                       corpusAfterAppend: DataFrame, indexPath: String,
                       preAppendSig: String): (DataFrame, DataFrame) = {
    val spark = newRows.sparkSession
    val qcParams = "rhp-quantized"
    val bkParams =
      s"rhp-buckets:nBits=$nBits,nTables=$nTables,parity=$parityTag,maxDim=$maxInputDim"
    val fresh =
      IndexStore.readMetaRaw(corpusAfterAppend, s"$indexPath/quantized")
        .contains(IndexStore.render(qcParams, preAppendSig)) &&
      IndexStore.readMetaRaw(corpusAfterAppend, s"$indexPath/buckets")
        .contains(IndexStore.render(bkParams, preAppendSig))
    if (fresh) {
      // re-appended previously-deleted ids are RESURRECTED (tombstones
      // pruned in both tables, stored rows live again) and excluded
      // from the delta — re-hashing them would duplicate their bucket
      // and scoring rows (ADVICE r14; id↔content discipline documented
      // on IndexStore.resurrectOrFilter)
      val toAppend = IndexStore.resurrectOrFilter(newRows, idCol, "neighbor_id",
        Seq(s"$indexPath/quantized", s"$indexPath/buckets"))
      rhpQuantizedCorpus(toAppend, idCol, vecCol)
        .write.mode("append").parquet(s"$indexPath/quantized")
      IndexStore.stamp(corpusAfterAppend, qcParams, s"$indexPath/quantized")
      rhpCorpusBuckets(toAppend, idCol, vecCol, nBits, nTables, signParity, maxInputDim)
        .write.mode("append").parquet(s"$indexPath/buckets")
      IndexStore.stamp(corpusAfterAppend, bkParams, s"$indexPath/buckets")
      // read back through IndexStore.read so any still-standing
      // tombstones (from deletes of OTHER ids) keep subtracting
      (IndexStore.read(spark, s"$indexPath/buckets"),
        IndexStore.read(spark, s"$indexPath/quantized"))
    } else {
      System.err.println(
        s"SimilarityOps.appendToRhpIndex: stored index at $indexPath is missing, stale, " +
          "or built with different parameters — falling back to a full rebuild")
      loadOrBuildRhpIndex(corpusAfterAppend, idCol, vecCol, nBits, nTables,
        parityTag, signParity, maxInputDim, indexPath, rebuild = true)
    }
  }

  /** O(delta) DELETE from the persisted RHP index — tombstone the
    * removed vectors' ids in BOTH stored tables (buckets and quantized
    * corpus, id column `neighbor_id`) instead of re-hashing the
    * corpus. Same protocol as [[appendToRhpIndex]]: snapshot
    * `preDeleteSig = IvfIndex.corpusSig(corpus)` BEFORE deleting from
    * the corpus store, then call with the deleted ids and the
    * post-delete corpus. Both sidecars are checked up front so the
    * tombstones commit to both tables or neither; returns false when
    * either is missing/stale/differently-parameterized — the caller
    * rebuilds via `loadOrBuildRhpIndex(..., rebuild = true)` (which
    * clears tombstones). Readers subtract tombstones through
    * [[IndexStore.read]]; [[IndexStore.compact]] folds them in.
    * Re-appending a deleted id via [[appendToRhpIndex]] resurrects it.
    */
  def deleteFromRhpIndex(deletedIds: DataFrame, idCol: String,
                         nBits: Int, nTables: Int, parityTag: String,
                         maxInputDim: Int, corpusAfterDelete: DataFrame,
                         indexPath: String, preDeleteSig: String): Boolean = {
    val qcParams = "rhp-quantized"
    val bkParams =
      s"rhp-buckets:nBits=$nBits,nTables=$nTables,parity=$parityTag,maxDim=$maxInputDim"
    val fresh =
      IndexStore.readMetaRaw(corpusAfterDelete, s"$indexPath/quantized")
        .contains(IndexStore.render(qcParams, preDeleteSig)) &&
      IndexStore.readMetaRaw(corpusAfterDelete, s"$indexPath/buckets")
        .contains(IndexStore.render(bkParams, preDeleteSig))
    if (!fresh) false
    else {
      val ids = deletedIds.select(col(idCol).as("neighbor_id"))
      IndexStore.deleteFrom(ids, "neighbor_id", qcParams,
        s"$indexPath/quantized", corpusAfterDelete, preDeleteSig) &&
      IndexStore.deleteFrom(ids, "neighbor_id", bkParams,
        s"$indexPath/buckets", corpusAfterDelete, preDeleteSig)
    }
  }

  /** Fold any tombstones into both stored RHP tables
    * ([[IndexStore.compact]] on quantized corpus and buckets). */
  def compactRhpIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit = {
    IndexStore.compact(spark, s"$indexPath/quantized")
    IndexStore.compact(spark, s"$indexPath/buckets")
  }

  /** [[rhpTopK]] against prebuilt corpus-side artifacts: only the
    * QUERIES are hashed and quantized per call; the corpus bucket
    * table and quantized scoring table are stored (for RHP the hash IS
    * the index, so the artifacts are pure projections — but at 100 TB
    * even that projection is a corpus scan better paid once).
    */
  def rhpTopKIndexed(queries: DataFrame, corpusBuckets: DataFrame,
                     corpusQuantized: DataFrame, idCol: String, vecCol: String,
                     k: Int, nBits: Int, probeHamming: Int, nTables: Int,
                     signParity: (Long, Long) => Long =
                       graft.functions.RhpSign.xxhashParity,
                     maxInputDim: Int = 4096): DataFrame = {
    val masks = (0L until (1L << nBits)).filter(java.lang.Long.bitCount(_) <= probeHamming)
    val qb = rhpBucketIdsMulti(queries, idCol, vecCol, nBits, nTables, signParity, maxInputDim)
      .withColumn("__m", explode(typedLit(masks)))
      .select(col("table"), (col("bucket").bitwiseXOR(col("__m"))).as("bucket"),
        col(idCol).as("query_id"))
    val pairs = qb.join(corpusBuckets, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    // within one table a neighbor has exactly one home bucket and the
    // probe masks are distinct, so duplicates only arise across tables
    val cand = if (nTables == 1) pairs else pairs.distinct()
    val qq = quantized(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("__qv").as("__qa"), col("__n2").as("__qn2"))
    val scored = cand.join(qq, "query_id").join(corpusQuantized, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.longDot(col("__qa"), col("__qb")), col("__qn2"), col("__cn2"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** X3: per-label embedding centroids (class prototypes — the
    * nearest-centroid-classifier / dataset-cartography shape): for
    * each label, the element-wise mean of its members' QUANTIZED
    * vectors, flattened to tidy `(label, p, m, n)` rows (coordinate p,
    * integer mean m = sum div n truncated toward zero, member count
    * n). Integer sums are exact in any execution order, so the output
    * is bit-identical on any engine — same discipline as
    * [[refineCentroids]], whose per-centroid mean this generalizes to
    * arbitrary label columns.
    *
    * Plan: posexplode + one (label, p)-keyed hash aggregation,
    * map-side combinable; no window, no join.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), VectorFunctions.quantizeVec(col(vecCol)).as("__qv"))
      .select(col("label"), posexplode(col("__qv")).as(Seq("p0", "v")))
      .select(col("label"), (col("p0") + 1).cast("long").as("p"), col("v"))
      .groupBy("label", "p")
      .agg(expr("sum(v) div count(1)").as("m"), count(lit(1)).as("n"))

  /** Adds `__qv` (quantized ARRAY<BIGINT>) and `__n2` (integer squared
    * norm). Runs once per input row — keep this OUTSIDE pair joins.
    */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("__qv", VectorFunctions.quantizeVec(col(vecCol)))
      // norm via the fused float-path expression: CollapseProject would
      // otherwise inline quantizeVec into longDot and evaluate it 3x/row
      .withColumn("__n2", VectorFunctions.quantizedDot(col(vecCol), col(vecCol)))

  // -----------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") — the memory side of 100 TB ANN:
  // each vector compresses to one small code per subspace (here 8
  // codes for a 64-dim float vector, a 32× reduction), and query
  // scoring becomes M table lookups per candidate (ADC) instead of a
  // D-element dot. Composes with IVF (bucket first, PQ-score inside
  // the bucket); [[pqTopK]] is the flat-scan form.
  // -----------------------------------------------------------------

  /** Per-(row, subspace) quantized subvectors: (idCol, m, __sq).
    * Vector dim must be divisible by `nSubspaces` (raised per-row).
    */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         nSubspaces: Int): DataFrame =
    quantized(df, idCol, vecCol)
      .withColumn("m", explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${nSubspaces - 1} AS BIGINT))")))
      .withColumn("__sq", expr(
        s"""CASE WHEN size(__qv) % $nSubspaces = 0
           |     THEN slice(__qv, CAST(m * (size(__qv) div $nSubspaces) + 1 AS INT),
           |                CAST(size(__qv) div $nSubspaces AS INT))
           |     ELSE raise_error(concat('pq: vector dim ', CAST(size(__qv) AS STRING),
           |                             ' not divisible by $nSubspaces subspaces')) END""".stripMargin))

  /** One broadcastable row per subspace:
    * (m, __cws ARRAY<STRUCT<code, __cw, __cwn2>> sorted by code).
    */
  private def collapsedCodebooks(codebooks: DataFrame): DataFrame =
    broadcast(codebooks.groupBy("m")
      .agg(array_sort(collect_list(struct(col("code"), col("__cw"), col("__cwn2"))))
        .as("__cws")))

  /** Nearest codeword per (row, subspace) by squared L2 distance in
    * the quantized space (`||x-c||² - ||x||² = c·c - 2 x·c`, exact
    * integers; code-id tiebreak): adds `code`. Broadcast + in-row
    * argmin — map-only, same discipline as the IVF assignment.
    */
  private def assignCodes(sv: DataFrame, codebooks: DataFrame): DataFrame = {
    val scored = transform(col("__cws"), c => struct(
      (c.getField("__cwn2") - lit(2L) * VectorFunctions.longDot(col("__sq"), c.getField("__cw")))
        .as("d"),
      c.getField("code").as("code")))
    sv.join(collapsedCodebooks(codebooks), "m")
      .withColumn("code", element_at(array_sort(scored), 1).getField("code"))
      .drop("__cws")
  }

  /** X3: PQ codebooks — `(m, code, __cw ARRAY<BIGINT>, __cwn2)` with
    * codes dense in [0, nCodes) per subspace. Seeding is reproducible
    * and engine-neutral (the `nCodes` lowest-id vectors' subvectors —
    * with `kmeansIters = 0` an external SQL engine can rebuild the
    * codebooks exactly, which is how the `x3_ann_pq` oracle replays
    * the whole pipeline); optional deterministic Lloyd iterations
    * refine them in integer space like [[refineCentroids]] (empty
    * codes drop out and the survivors re-densify, so ADC tables stay
    * positional).
    *
    * This is the corpus-wide index build: compute once per corpus,
    * persist like [[IvfIndex]], reuse across query batches.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  nSubspaces: Int, nCodes: Int, kmeansIters: Int = 0): DataFrame = {
    require(nSubspaces > 0 && nCodes > 0, "nSubspaces and nCodes must be positive")
    val sv = subvectors(corpus, idCol, vecCol, nSubspaces)
      .select(col(idCol), col("m"), col("__sq"))
    val seeds = subvectors(corpus.orderBy(col(idCol)).limit(nCodes), idCol, vecCol, nSubspaces)
      .withColumn("code",
        row_number().over(Window.partitionBy(col("m")).orderBy(col(idCol))).cast("long") - 1L)
      .select(col("m"), col("code"), col("__sq").as("__cw"))
    var cb = seeds
    for (_ <- 1 to kmeansIters) {
      val assigned = assignCodes(sv,
        cb.withColumn("__cwn2", VectorFunctions.longDot(col("__cw"), col("__cw"))))
      // tiny table; the freeze truncates per-iter lineage
      cb = freeze(assigned
        .select(col("m"), col("code"), posexplode(col("__sq")).as(Seq("p", "v")))
        .groupBy("m", "code", "p").agg(expr("sum(v) div count(1)").as("mv"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("p"), col("mv")))).as("__ms"))
        .withColumn("__cw", expr("transform(__ms, x -> x.mv)"))
        // survivors re-densify so codes stay positional for ADC
        .withColumn("code",
          row_number().over(Window.partitionBy(col("m")).orderBy(col("code"))).cast("long") - 1L)
        .select(col("m"), col("code"), col("__cw")))
    }
    cb.withColumn("__cwn2", VectorFunctions.longDot(col("__cw"), col("__cw")))
  }

  /** X3: PQ encoding — each vector compressed to
    * `(idCol, __codes ARRAY<BIGINT> positional by subspace, __n2)`.
    * `__n2` is the EXACT stored norm (standard for inner-product /
    * cosine PQ: only the dot is approximated). Map-only per row after
    * the codebook broadcast.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, nSubspaces: Int): DataFrame =
    assignCodes(subvectors(corpus, idCol, vecCol, nSubspaces), codebooks)
      .groupBy(col(idCol), col("__n2"))
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("__mc"))
      .withColumn("__codes", expr("transform(__mc, x -> x.code)"))
      .select(col(idCol), col("__codes"), col("__n2"))

  /** X3: PQ ANN by asymmetric distance (flat scan): corpus rows are
    * scored from their M codes via per-query lookup tables
    * ([[graft.functions.PqAdcDot]], codegen'd — M array reads per
    * candidate instead of a D-element dot), cosine uses the exact
    * stored norms, then the usual top-k rank. Query side computes
    * M·nCodes exact sub-dots per query (tiny) — the asymmetric half:
    * queries stay unquantized-by-PQ, only the corpus is compressed.
    *
    * `refine > 0` is the standard second stage: shortlist the top
    * `refine` candidates by ADC, then re-score ONLY those with the
    * exact dot and emit the top `k` — coarse codebooks collapse
    * same-cluster candidates into score ties, and the cheap exact
    * re-rank of a constant-size shortlist restores the ordering
    * (an id-keyed join back to the vectors; never the full corpus).
    *
    * With `nCodes >= |corpus|` and `kmeansIters = 0` every subvector
    * is its own codeword, ADC is the exact dot, and this degenerates
    * to [[bruteForceTopK]] bit-for-bit (spec-pinned) — the same
    * full-probe-twin discipline as IVF/RHP.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, codebooks: DataFrame, nSubspaces: Int, refine: Int = 0): DataFrame = {
    val enc = pqEncode(corpus, idCol, vecCol, codebooks, nSubspaces)
      .select(col(idCol).as("neighbor_id"), col("__codes"), col("__n2").as("__cn2"))
    val scored = adcTables(queries, idCol, vecCol, codebooks, nSubspaces)
      .join(enc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.pqAdcDot(col("__codes"), col("__tbl")),
          col("__qn2"), col("__cn2")).as("cosine"))
    rankAndRerank(scored, queries, corpus, idCol, vecCol, k, refine)
  }

  /** X3: IVF-PQ (the FAISS IVFPQ composition) — the coarse index
    * prunes WHICH candidates a query scores (only its `nProbe`
    * buckets), PQ compresses HOW each survivor is scored (M table
    * reads on byte codes instead of a D-element dot on raw floats).
    * At 100 TB both halves matter: IVF bounds compute, PQ bounds the
    * memory/IO of the candidate scan. Corpus codes+buckets are
    * index-build artifacts — persist both (`PqIndex`, [[IvfIndex]])
    * and reuse across query batches.
    *
    * With `nProbe = nCentroids`, per-point codebooks
    * (`nCodes >= |corpus|`, iters 0) and no refine this degenerates
    * to [[bruteForceTopK]] bit-for-bit (spec-pinned).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, centroids: DataFrame, nProbe: Int,
                codebooks: DataFrame, nSubspaces: Int, refine: Int = 0): DataFrame = {
    val bucketed = assignBuckets(corpus, idCol, vecCol, centroids, 1)
      .select(col("centroid_id"), col(idCol).as("neighbor_id"))
      .join(pqEncode(corpus, idCol, vecCol, codebooks, nSubspaces)
        .select(col(idCol).as("neighbor_id"), col("__codes"), col("__n2").as("__cn2")),
        "neighbor_id")
    val probes = assignBuckets(queries, idCol, vecCol, centroids, nProbe)
      .select(col("centroid_id"), col(idCol).as("query_id"))
      .join(adcTables(queries, idCol, vecCol, codebooks, nSubspaces), "query_id")
    val scored = probes.join(bucketed, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosine(VectorFunctions.pqAdcDot(col("__codes"), col("__tbl")),
          col("__qn2"), col("__cn2")).as("cosine"))
    rankAndRerank(scored, queries, corpus, idCol, vecCol, k, refine)
  }

  /** Per-query ADC lookup tables:
    * `(query_id, __qn2, __tbl ARRAY<ARRAY<BIGINT>>)` with
    * `__tbl[m][c]` = dot(query subvector m, codeword c) — the
    * asymmetric half of PQ: queries stay exact, only the corpus is
    * compressed. M·nCodes exact sub-dots per query (tiny).
    */
  private def adcTables(queries: DataFrame, idCol: String, vecCol: String,
                        codebooks: DataFrame, nSubspaces: Int): DataFrame =
    subvectors(queries, idCol, vecCol, nSubspaces)
      .join(collapsedCodebooks(codebooks), "m")
      .withColumn("__dots", transform(col("__cws"),
        c => VectorFunctions.longDot(col("__sq"), c.getField("__cw"))))
      .groupBy(col(idCol).as("query_id"), col("__n2").as("__qn2"))
      .agg(array_sort(collect_list(struct(col("m"), col("__dots")))).as("__md"))
      .withColumn("__tbl", expr("transform(__md, x -> x.__dots)"))
      .select(col("query_id"), col("__qn2"), col("__tbl"))

  /** Top-`max(k, refine)` by approximate score; when `refine > 0`,
    * re-score the shortlist with the exact dot (id-keyed joins back to
    * the vectors — never the full corpus) and emit the exact top-`k`.
    */
  private def rankAndRerank(scored: DataFrame, queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, k: Int, refine: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val adcTopK = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= math.max(k, refine))
      .select("query_id", "rank", "neighbor_id", "cosine")
    if (refine <= 0) adcTopK
    else {
      val q = quantized(queries, idCol, vecCol)
        .select(col(idCol).as("query_id"), col("__qv").as("__qa"), col("__n2").as("__qn2"))
      val c = quantized(corpus, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("__qv").as("__qb"), col("__n2").as("__cn2"))
      adcTopK.select("query_id", "neighbor_id")
        .join(q, "query_id").join(c, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          quantizedCosine(VectorFunctions.longDot(col("__qa"), col("__qb")),
            col("__qn2"), col("__cn2")).as("cosine"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    }
  }

  /** Embedding-health audit per label/source slice: row count, mean
    * vector norm, the mean-resultant length R̄ = ‖Σû‖/n of the UNIT
    * vectors, and the exact average pairwise cosine — computed WITHOUT
    * any pair join from the identity
    * `Σ_{i≠j} û_i·û_j = ‖Σû‖² − Σ‖û‖²` (one linear pass where the
    * naive form is quadratic). This is the collapse/anisotropy gate a
    * pipeline runs before trusting an embedding column: a healthy
    * spread has R̄ near 0; R̄ → 1 (avg cosine → 1) means the encoder
    * collapsed and every downstream ANN/dedup result is noise.
    *
    * Exactness: vectors quantize to the engine-wide 1e3 integer grid,
    * unit vectors re-quantize to 1e6 so every per-row value is an
    * integer; per-dimension sums and the two quadratic sums run in
    * DECIMAL(38,0) (exact, order-free — a long would overflow at
    * ~3e9-row slices and a double sum would leak partition layout).
    * Only the final normalizations are IEEE doubles, so every output
    * digit replays in any engine.
    *
    * @return one row per slice: `<labelCol>, n, avg_norm` (4 dp),
    *         `mean_resultant` (6 dp), `avg_pair_cos` (6 dp; null for
    *         singleton slices)
    */
  def embeddingHealth(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val q = emb
      .withColumn("__qv", VectorFunctions.quantizeVec(col(vecCol)))
      .withColumn("__n2", VectorFunctions.quantizedDot(col(vecCol), col(vecCol)))
      .filter(col("__n2") > 0L)
      // unit vector on the 1e6 grid; per-row squared norm of it (≈1e12
      // up to rounding) as an exact long
      .withColumn("__u", expr(
        "transform(__qv, x -> CAST(round(x * 1000000.0D / sqrt(CAST(__n2 AS DOUBLE))) AS BIGINT))"))
      .withColumn("__un2", expr(
        "aggregate(__u, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .withColumn("__normq", round(sqrt(col("__n2").cast("double")) * lit(1000.0)).cast("long"))
    val perRow = q.select(col(labelCol).as("lbl"), col("__u"), col("__un2"), col("__normq"))
    val dims = perRow
      .select(col("lbl"), posexplode(col("__u")).as(Seq("p", "uv")))
      .groupBy(col("lbl"), col("p"))
      .agg(sum(col("uv").cast("decimal(38,0)")).as("su"))
      .groupBy(col("lbl"))
      .agg(sum(col("su") * col("su")).cast("decimal(38,0)").as("msq"))
    val base = perRow.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n"),
        sum(col("__normq").cast("decimal(38,0)")).as("snorm"),
        sum(col("__un2").cast("decimal(38,0)")).as("sun2"))
    base.join(dims, "lbl")
      .select(col("lbl").as(labelCol), col("n"),
        // __normq is norm·1e6 in original units (1e3 grid → sqrt in
        // 1e3-units, ×1e3 again)
        round(col("snorm").cast("double") / col("n").cast("double") / 1e6, 4).as("avg_norm"),
        round(sqrt(col("msq").cast("double")) / col("n").cast("double") / 1e6, 6)
          .as("mean_resultant"),
        when(col("n") > 1L,
          round((col("msq").cast("double") - col("sun2").cast("double")) /
            (col("n") * (col("n") - 1L)).cast("double") / 1e12, 6))
          .as("avg_pair_cos"))
      .orderBy(col(labelCol))
  }
}
