package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators (SURVEY.md §2.8 X6). The reference is fully
  * batch; these are the extension surface. Each transform is written
  * against a plain DataFrame so the SAME function body serves both the
  * batch oracle queries and `readStream` sources — Structured
  * Streaming's unified API. Watermark-dependent variants are the
  * `withWatermark` wrappers below.
  */
object StreamOps {

  /** Tumbling-window counts/sums. On a stream: append-mode safe once
    * combined with [[withEventTimeWatermark]].
    */
  def tumblingAgg(events: DataFrame, windowDuration: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window aggregation (windowDuration every slideDuration). */
  def slidingAgg(events: DataFrame, windowDuration: String, slideDuration: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration, slideDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** X6/X4: windowed streaming heavy-hitter sketch — one count-min
    * matrix per tumbling window over a text stream
    * ([[graft.functions.Aggregators.CountMinAgg]]; the batch corpus
    * twin with exact top-k and certification verdicts is
    * `x4_heavy_hitters`). The state story is what makes this the
    * streaming shape: per window the state is ONE fixed d×w buffer —
    * it does not grow with stream length, token volume, or vocabulary
    * — and the watermark expires whole windows, so live state is
    * (windows inside the horizon) × (d·w longs). Downstream consumers
    * probe the emitted sketch with the same
    * `pmod(xxhash64(term, i), w)` bucketing the build used.
    *
    * The merge algebra is a commutative monoid (CountMinProps), so
    * the emitted sketch is identical regardless of partitioning or
    * arrival order — the batch run of the SAME body is the oracle
    * (StreamOpsSpec pins stream == batch on a staged file source).
    */
  def heavyHittersWindowed(docs: DataFrame, textCol: String,
                           windowDuration: String,
                           d: Int = 4, w: Int = 1024): DataFrame = {
    val idxExpr = s"transform(sequence(0, ${d - 1}), i -> pmod(xxhash64(__term, i), $w))"
    val cmUdaf = udaf(new graft.functions.Aggregators.CountMinAgg(d, w),
      graft.functions.Aggregators.seqLongEncoder)
    docs
      .select(col("ts"), explode(split(col(textCol), " ")).as("__term"))
      .where(col("__term") =!= "")
      .groupBy(window(col("ts"), windowDuration).as("w"))
      .agg(cmUdaf(expr(idxExpr)).as("sketch"), count(lit(1)).as("n_tokens"))
      .select(col("w.start").as("ws"), col("sketch"), col("n_tokens"))
  }

  /** [[heavyHittersWindowed]] for append-mode streams. */
  def heavyHittersStream(docs: DataFrame, textCol: String,
                         windowDuration: String, watermark: String,
                         d: Int = 4, w: Int = 1024): DataFrame =
    heavyHittersWindowed(docs.withWatermark("ts", watermark), textCol,
      windowDuration, d, w)

  /** X6: windowed distinct-user sketch — one HLL sketch per
    * (tumbling window × event_type) via Spark's DataSketches
    * built-ins. Distinct counting is the third streaming metric (after
    * plain counts and heavy hitters) whose naive state explodes: exact
    * windowed `countDistinct` must hold every user id seen in every
    * live window. Here the state per (window × type) is one 2^lgK
    * register block (≤4 KiB at lgK=12) — bounded regardless of user
    * cardinality — and the watermark expires whole windows, so live
    * state is (windows in horizon) × (types) × 4 KiB. Register merge
    * is max-per-register (commutative, idempotent), so the estimate is
    * identical regardless of partitioning or arrival order — the batch
    * run of the SAME body is the oracle (StreamOpsSpec pins
    * stream == batch; the certified batch twin with the exact anchor
    * and bound verdict is `x6_distinct_users`).
    */
  def distinctUsersWindowed(events: DataFrame, windowDuration: String,
                            lgK: Int = 12): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration).as("w"), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgK)).as("est_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("est_users"),
        col("n_events"))

  /** [[distinctUsersWindowed]] for append-mode streams. */
  def distinctUsersStream(events: DataFrame, windowDuration: String,
                          watermark: String, lgK: Int = 12): DataFrame =
    distinctUsersWindowed(events.withWatermark("ts", watermark),
      windowDuration, lgK)

  /** X6: per-window categorical-mix PSI against a STATIC reference
    * distribution — the live drift gate for an ingest stream ("the
    * event/type/language mix this hour no longer looks like the
    * training corpus"), the streaming twin of the batch
    * [[graft.dfw.QuantileOps.psiDrift]] posture.
    *
    * The reference mix arrives as a driver-side `(category, ppm)` list
    * (vocabulary-bounded — it IS the schema of the monitored mix), so
    * each window aggregates to ONE state row of k+1 counters via
    * conditional sums: state is live windows × (k+2) scalars, never
    * event volume, and the watermark evicts finalized windows. Rows
    * outside the vocabulary count toward `n_rows` but not the mix
    * (they are reported, not silently folded into a share).
    *
    * PSI discipline mirrors the batch op: Laplace-smoothed shares
    * ((n+1)/(N+k); the reference side smooths its ppm over the 1e6
    * base), each category's (p−q)·ln(p/q) term quantized to integer
    * micro-units BEFORE the k-term sum, so the reported `psi_q` is an
    * order-free integer total the batch twin reproduces exactly
    * (StreamOpsSpec pins stream == batch on a staged file source).
    *
    * @param refPpm reference share per category in parts-per-million;
    *               order fixes the counter layout
    * @return per window: `ws, n_rows, n_invocab, psi_q` (micro-units)
    */
  def mixDriftWindowed(events: DataFrame, catCol: String,
                       refPpm: Seq[(String, Long)],
                       windowDuration: String): DataFrame = {
    require(refPpm.nonEmpty, "reference mix must name at least one category")
    val k = refPpm.size
    val counters = refPpm.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"__c$i")
    }
    val agg = events
      .groupBy(window(col("ts"), windowDuration).as("w"))
      .agg(counters.head, (counters.tail :+ count(lit(1)).as("n_rows")): _*)
      .withColumn("n_invocab",
        refPpm.indices.map(i => col(s"__c$i")).reduce(_ + _))
    val psiQ = refPpm.zipWithIndex.map { case ((_, qppm), i) =>
      val p = (col(s"__c$i").cast("double") + 1.0) /
        (col("n_invocab").cast("double") + k)
      val q = (lit(qppm).cast("double") + 1.0) / (1000000.0 + k)
      round((p - q) * log(p / q) * 1000000).cast("long")
    }.reduce(_ + _)
    agg.select(col("w.start").as("ws"), col("n_rows"), col("n_invocab"),
      psiQ.as("psi_q"))
  }

  /** [[mixDriftWindowed]] for append-mode streams. */
  def mixDriftStream(events: DataFrame, catCol: String,
                     refPpm: Seq[(String, Long)], windowDuration: String,
                     watermark: String): DataFrame =
    mixDriftWindowed(events.withWatermark("ts", watermark), catCol,
      refPpm, windowDuration)

  /** Streaming OHLC downsampling: [[graft.dfw.TimeSeriesOps.ohlcBarsAgg]]
    * is a pure hash aggregate (min_by/max_by over the unique
    * (ts, tie) struct — no window function), so the SAME body runs as
    * a watermarked streaming aggregation: per-(series, bucket) state
    * is six scalars, windows finalize and evict at the watermark, and
    * the commutative aggregates make the bar identical under any
    * arrival order. The metrics/market downsampling shape at ingest.
    */
  def ohlcStream(events: DataFrame, seriesCol: String, watermark: String,
                 windowDuration: String = "1 hour"): DataFrame = {
    // the bucket must be a `window()` over the watermarked column —
    // a date_trunc-derived timestamp drops the event-time metadata
    // and append mode would never finalize; window.start == the
    // batch twin's date_trunc for aligned durations
    val okey = struct(col("ts"), col("event_id"))
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration).as("w"), col(seriesCol))
      .agg(
        min_by(col("value"), okey).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), okey).as("close"),
        count(lit(1)).as("volume"),
        sum(round(col("value") * 1000000).cast("long")).as("sum_q"))
      .select(col(seriesCol), col("w.start").as("bucket_ts"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("sum_q"), expr("sum_q div volume").as("mean_q"))
  }

  /** Batch sessionization: gap-based sessions per user via lag +
    * running sum. The streaming twin is `session_window` (below) —
    * same session semantics, incremental state.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .withColumn("new_s", when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
  }

  /** Session-level rollup of [[sessionizeBatch]] — the one-row
    * engagement readout product analytics runs: session/user counts,
    * bounce rate (single-event sessions, integer ppm), total events,
    * and exact p50/p90 session duration.
    *
    * Scale notes: the session table is frozen ONCE (two
    * consumers — the scalar aggregate and the quantile pass — would
    * otherwise each replay the per-user sessionize window); durations
    * are nearly unique per session, exactly the grain where
    * `percentile()`'s value→count map state grows with the data, so
    * the quantiles use the rank-select path
    * ([[graft.dfw.QuantileOps.exactQuantileCols]] — O(1) reducer
    * state at any session count). Duration quantiles interpolate at
    * seconds scale (micros-magnitude ulps vs round(4), as in
    * FunnelOps.funnelTransitionStats).
    */
  def sessionStats(events: DataFrame, gapMinutes: Int): DataFrame = {
    val s = graft.sources.Materializer.freeze(sessionizeBatch(events, gapMinutes))
    val scalars = s.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      sum(col("n_events")).as("n_events_total"),
      sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
      sum(col("dur_us")).as("sum_dur_us"))
    val quants = graft.dfw.QuantileOps.exactQuantileCols(
        s.select((col("dur_us").cast("double") / 1000000.0).as("dur_s"), lit(1).as("__g")),
        Seq("__g"), "dur_s", Seq(0.5 -> "p50_dur_s", 0.9 -> "p90_dur_s"))
      .drop("__g")
    scalars.crossJoin(broadcast(quants))
      .select(col("n_sessions"), col("n_users"), col("n_events_total"),
        col("n_bounce"),
        expr("CASE WHEN n_sessions = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_bounce * 1000000) div n_sessions END").as("bounce_ppm"),
        col("sum_dur_us"),
        round(col("p50_dur_s"), 4).as("p50_dur_s"),
        round(col("p90_dur_s"), 4).as("p90_dur_s"))
  }

  /** Streaming sessionization via `session_window` — state-store backed,
    * watermark-bounded; semantics match [[sessionizeBatch]]'s gap rule.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("start"), col("w.end").as("end"), col("n_events"))

  /** Watermarked tumbling aggregation for append-mode streams. */
  def tumblingAggStream(events: DataFrame, windowDuration: String, watermark: String): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermark), windowDuration)

  /** X6: event-time interval join — each left event paired with the
    * right-side events of the same user whose timestamp falls in
    * `[left.ts, left.ts + withinMinutes]` (click→view attribution,
    * impression→conversion, etc.).
    *
    * The SAME function body serves the batch oracle twin and the
    * stream-stream form: on two `withWatermark`ed streams the
    * time-bound join condition is exactly what lets Spark expire
    * buffered state once the watermark passes `withinMinutes` — an
    * unbounded stream-stream join without the bound would grow state
    * forever. State is keyed by user on both sides: per-partition
    * state stores, no global structure.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, withinMinutes: Int): DataFrame =
    intervalJoinWithin(left, right, s"$withinMinutes MINUTES")

  /** [[intervalJoin]] with an arbitrary INTERVAL literal bound (e.g.
    * `"15 SECONDS"`) — the soak harness uses sub-minute bounds so
    * state expiry is observable inside a short run; production
    * attribution windows are typically minutes.
    */
  def intervalJoinWithin(left: DataFrame, right: DataFrame, within: String): DataFrame =
    left.alias("l").join(right.alias("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.ts") >= col("l.ts") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"))
      .select(col("l.event_id").as("left_id"), col("r.event_id").as("right_id"),
        col("l.user_id").as("user_id"),
        (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("gap_us"))

  /** LEFT-OUTER [[intervalJoinWithin]] — unmatched left events emit a
    * null right side: the "clicks that never converted" half of
    * attribution (the preserved LEFT side is the clicks stream in the
    * x6 caller), which the inner form silently drops. On two
    * watermarked streams this is Spark's outer stream-stream join:
    * the null row for an unmatched left event is emitted only once
    * the watermark passes its join horizon (before that a match could
    * still arrive), so outer results trail the inner ones by the
    * watermark delay — same bounded state, same expiry rule. The SAME
    * body serves the batch oracle twin, where nulls emit immediately.
    */
  def intervalJoinOuterWithin(left: DataFrame, right: DataFrame, within: String): DataFrame =
    left.alias("l").join(right.alias("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.ts") >= col("l.ts") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
        "left_outer")
      .select(col("l.event_id").as("left_id"), col("r.event_id").as("right_id"),
        col("l.user_id").as("user_id"),
        (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("gap_us"))

  /** X6: stream-static enrichment — join each event against a static
    * (slowly-changing) dimension table, broadcast to every task. On a
    * streaming `events` this is Spark's stream-static join: the dim
    * side is re-resolved per micro-batch (picking up dim refreshes),
    * needs no watermark, and holds NO join state — the broadcast is
    * the whole cost, which is why the dim side must be the small one.
    * The SAME body serves the batch oracle twin.
    *
    * Unmatched events keep their rows with null dim columns (left
    * join): an enrichment must never drop or duplicate facts.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")
      .drop(dimKey)

  /** X6: stream-static POINT-IN-TIME enrichment — the streaming half
    * of the feature-serving story ([[graft.dfw.AsofOps.pitFeatureJoin]]
    * is the training half): each event picks the feature VERSION
    * valid at its own event time from an SCD-2 validity-interval
    * table ([[graft.dfw.MergeOps.scdHistory]] output — valid_from
    * inclusive, valid_to exclusive, open current version NULL).
    * Train/serve skew dies when both halves read the same history.
    *
    * Stream-static left join, STATELESS: the history side is static
    * per micro-batch and broadcast (features × versions — bounded by
    * the dimension and its churn, never by the stream); the interval
    * predicate rides the broadcast join, no watermark, no state rows
    * (the quota/decontam-gate scale posture). Unmatched events keep
    * their rows with nulls — enrichment never drops facts.
    *
    * @param tsVersion expression mapping the event to the version
    *                  timeline (e.g. its day number)
    */
  def enrichPointInTime(events: DataFrame, history: DataFrame,
                        eventKey: String, histKey: String, tsVersion: Column,
                        payloadCols: Seq[String]): DataFrame = {
    val h = broadcast(history.select(
      col(histKey) +: col("valid_from") +: col("valid_to") +:
        payloadCols.map(c => col(c).as(s"${c}_pit")): _*))
    events.join(h,
        col(eventKey) === col(histKey) && tsVersion >= col("valid_from") &&
          (col("valid_to").isNull || tsVersion < col("valid_to")), "left")
      .drop(histKey, "valid_from", "valid_to")
  }

  /** Streaming exact dedup (X1 on a stream): keep only the FIRST
    * arrival of each key, with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` expires a key's state once the
    * watermark passes it, which is the only way exact dedup survives
    * an unbounded stream (plain `dropDuplicates` grows state forever).
    * Keys recurring farther apart than the watermark re-emit; choose
    * the horizon accordingly.
    *
    * Batch twin: [[graft.llm.DedupOps.exactDedup]] keyed the same way
    * (StreamOpsSpec checks both keep the same survivors; the
    * `x6_dedup_events` driver query pins the batch twin against the
    * DuckDB oracle).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCols)

  /** X2/X6: streaming decontamination — an unbounded DOCUMENT stream
    * probes a static eval-set Bloom bitmap
    * ([[graft.llm.DedupOps.bloomBitmap]], built once batch-side,
    * persisted like any index). Every verdict evaluates inside the
    * incoming row (stateless per-row HOF probe + a one-row
    * stream-static broadcast join): no watermark, no state store,
    * nothing grows with stream length — the shape an ingest-time
    * contamination gate must have. Same output as the batch op on the
    * same rows (spec-pinned; one-sided error as documented on
    * [[graft.llm.DedupOps.bloomDecontaminate]]).
    */
  def decontaminateStream(docs: DataFrame, bloomBm: DataFrame,
                          w: Int, mBits: Int, k: Int,
                          probeHashSql: (String, String) => String =
                            (sh, i) => s"xxhash64($sh, $i)"): DataFrame =
    graft.llm.DedupOps.bloomDecontaminateStateless(docs, bloomBm, w, mBits, k,
      probeHashSql = probeHashSql)

  /** X2/X6: streaming ANN near-dup gate — an unbounded stream of
    * embedded documents probes a STATIC IVF-bucketed corpus
    * ([[graft.llm.SimilarityOps.ivfNearDupGate]]); every emitted row
    * is an exact-verified (query, corpus-match, cosine) hit. The
    * centroid index and the bucketed corpus are built once batch-side
    * (persisted like any index); the stream side is stateless —
    * stream-static joins only, no watermark, no state store — the
    * shape an ingest-time "have we already got this?" gate must have.
    * Same output as the batch op on the same rows (spec-pinned).
    */
  def annGateStream(incoming: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, num: Long, den: Long,
                    centroids: DataFrame, nProbe: Int): DataFrame =
    graft.llm.SimilarityOps.ivfNearDupGate(incoming, corpus, idCol, vecCol,
      num, den, centroids, nProbe)

  /** [[annGateStream]] against PERSISTED inverted lists
    * ([[graft.llm.IvfIndex.loadOrBuildLists]]) — the production
    * streaming shape: the plain gate re-buckets the corpus every
    * MICRO-BATCH (a full corpus scan per trigger at 100 TB); here each
    * batch assigns only its own incoming rows and joins the stored
    * list table on `centroid_id`. Still stateless — stream-static
    * joins only.
    */
  def annGateStreamIndexed(incoming: DataFrame, lists: DataFrame,
                           idCol: String, vecCol: String, num: Long, den: Long,
                           centroids: DataFrame, nProbe: Int): DataFrame =
    graft.llm.SimilarityOps.ivfNearDupGateIndexed(incoming, lists, idCol, vecCol,
      num, den, centroids, nProbe)

  /** X2/X6: streaming MinHash-LSH near-dup gate — an unbounded
    * document stream probes the PERSISTED text index
    * ([[graft.llm.DedupOps.loadOrBuildMinHashIndex]]); every emitted
    * row is an exact-Jaccard-verified (incoming, corpus-match) hit.
    * Completes the ingest-gate trio: Bloom decontamination (exact
    * n-gram contamination), ANN gate (embedding near-dup), and this
    * (text near-dup) — all stateless, all stream-static joins against
    * index artifacts built once batch-side. Shingling, the MinHash
    * signature, and band hashes all evaluate inside the incoming row
    * (higher-order functions, no groupBy → no state store), and pairs
    * emit exactly once via the first-matching-band rule, so nothing
    * grows with stream length. Same output as the batch op on the
    * same rows (spec-pinned).
    */
  def neardupGateStream(incoming: DataFrame, banded: DataFrame, sh: DataFrame,
                        shingleW: Int, numHashes: Int, bands: Int,
                        num: Int, den: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.llm.DedupOps.minHashGateIndexed(incoming, banded, sh, idCol, textCol,
      shingleW, numHashes, bands, num, den)

  /** [[neardupGateStream]] against the PERSISTED gate artifacts
    * ([[graft.llm.DedupOps.loadOrBuildMinHashGate]]) — the production
    * streaming shape: the plain form re-aggregates the corpus band
    * arrays and shingle sets every MICRO-BATCH (two corpus-sized
    * aggregations per trigger at 100 TB); here each batch pays only
    * its own in-row probe work plus two stored-table equi-joins.
    */
  def neardupGateStreamPrepared(incoming: DataFrame, bandedGate: DataFrame,
                                shSets: DataFrame,
                                shingleW: Int, numHashes: Int, bands: Int,
                                num: Int, den: Int,
                                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.llm.DedupOps.minHashGatePrepared(incoming, bandedGate, shSets, idCol,
      textCol, shingleW, numHashes, bands, num, den)

  /** X5/X6: streaming image dedup gate — an unbounded media stream
    * probes the PERSISTED pHash fingerprint table at Hamming 0 and
    * byte-verifies every candidate against the stored corpus blobs
    * ([[graft.llm.MultimodalOps.pHashGate]]). The fingerprint computes
    * in-row beside the blob, so the plan is stream-static joins only —
    * no watermark, no state store. Completes the stateless
    * ingest-gate QUARTET: Bloom decontamination (exact n-gram),
    * ANN (embedding near-dup), MinHash (text near-dup), pHash
    * (media exact-dup with hash-candidate recall). Same output as the
    * batch op on the same rows (spec-pinned).
    */
  def imageGateStream(incoming: DataFrame, fingerprints: DataFrame,
                      corpusBlobs: DataFrame,
                      idCol: String = "doc_id", blobCol: String = "blob"): DataFrame =
    graft.llm.MultimodalOps.pHashGate(incoming, fingerprints, corpusBlobs,
      idCol, blobCol)

  /** Typed event row for the custom-state operators. */
  final case class Event(event_id: Long, user_id: Long, event_type: String,
                         value: Double, ts: Timestamp)

  /** Arrival row for the streaming quota gate. */
  final case class DocArrival(doc_id: Long, source: String)

  /** Admission decision: `pick` is the 1-based admission rank within
    * the source at the moment the document arrived.
    */
  final case class Admission(doc_id: Long, source: String, pick: Long)

  /** Streaming per-source quota ADMISSION gate: the ingest-time
    * counterpart of [[graft.dfw.TransformOps.quotaSample]] — admit at
    * most `quota` documents per source, first-arrival-wins, drop the
    * rest at the door. Where the batch operator picks a deterministic
    * hash-ranked sample from a corpus it can see whole, the stream
    * can only rank by arrival; the two compose as plan (batch) vs
    * enforce (ingest), the same pairing as the near-dup gate and its
    * batch index build.
    *
    * State is ONE counter per source — bounded by source cardinality
    * forever, regardless of stream length (StreamSoak scenario 13
    * measures the plateau), and a source's counter stops changing
    * once it hits `quota`. Admissions are exactly-once per document:
    * a document either gets a `pick` rank or is silently dropped, and
    * re-running the same single-partition arrival order replays the
    * identical decisions (multi-partition arrival interleaving is
    * nondeterministic by nature — the quota itself is still never
    * exceeded).
    */
  def quotaGateStream(docs: Dataset[DocArrival], quota: Long): Dataset[Admission] = {
    require(quota > 0, "quota must be positive")
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admission](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[DocArrival], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[Admission]
          batch.foreach { d =>
            if (admitted < quota) {
              admitted += 1
              out += Admission(d.doc_id, src, admitted)
            }
          }
          state.update(admitted)
          out.result().iterator
      }
  }

  /** Per-user running totals held in the state store. */
  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom incremental state via `flatMapGroupsWithState`: per-user
    * running count/sum that survives across micro-batches (the
    * KeyValueGroupedDataset state API — what windowed aggregates can't
    * express when the update rule is bespoke). Update output mode: one
    * refreshed row per user per batch. At scale, state lives in the
    * per-partition state store keyed by user — no global structure.
    *
    * The batch twin is [[userStatsBatch]]; after all input is fed, the
    * stream's final state equals the batch aggregate (tested).
    */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          batch.foreach { e => n += 1; s += e.value }
          val next = UserStats(uid, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Batch twin of [[runningUserStats]] — what the stream's state
    * converges to once all input has been processed.
    */
  def userStatsBatch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Per-user funnel progress: `step` = how many funnel stages this
    * user has completed, `times` = the first-qualifying time of each
    * completed stage (a strict prefix — stage k is only ever reached
    * after 1..k-1, so the state IS the prefix of times).
    */
  final case class FunnelProgress(user_id: Long, step: Int, times: Seq[Timestamp])

  /** X6: streaming funnel — the per-user first-qualifying-time state
    * of [[graft.dfw.FunnelOps.sequentialFunnel]] is exactly a
    * `flatMapGroupsWithState` shape: the state store holds ONE
    * bounded `FunnelProgress` row per user (≤ `steps.size` timestamps
    * — key-bounded, independent of stream length; StreamSoak scenario
    * 10 measures the plateau), and each micro-batch folds its events
    * in over the strictly-after (+ optional conversion-window) rule.
    *
    * An event can only ever advance the NEXT uncompleted stage, so
    * the fold is one comparison per event; a single batch may cascade
    * a user through several stages (events are sorted by `ts` within
    * the batch first, so intra-batch disorder is handled). Exactness
    * relative to the batch twin assumes per-user cross-batch arrival
    * follows event time — the append-log normal case; a first-seen
    * time never changes under in-order delivery, which is what makes
    * the greedy state update equal the batch min-aggregate
    * (StreamOpsSpec pins stream-final == batch on a staged source).
    * Update output mode: one refreshed row per advanced user per
    * batch; users yet to enter the funnel emit nothing.
    *
    * `evictCompleted` drops a user's state row the moment they finish
    * the last stage: a completed funnel is PROVABLY final (no event
    * can change it — every stage keeps its first-qualifying time), so
    * holding it is pure waste, and in a healthy funnel the completed
    * users are exactly the ones that otherwise accumulate without
    * bound. With eviction, live state tracks IN-FLIGHT users only
    * (StreamSoak scenario 11 measures the contrast on an
    * ever-growing user id space: ~0 vs linear). A completed user's
    * later step-1 event re-enters as a fresh journey row; the
    * max-step-per-user readout ([[funnelReachFromProgress]] on the
    * sink) is unaffected because earlier rows already recorded the
    * completion.
    *
    * @param withinSeconds optional per-transition conversion windows,
    *        as in the batch operator (`steps.size - 1` entries)
    * @param evictCompleted remove state for users who completed every
    *        stage (safe always; default false keeps r13-compatible
    *        single-journey semantics for re-entering users)
    */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   withinSeconds: Seq[Long] = Nil,
                   evictCompleted: Boolean = false): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(withinSeconds.isEmpty || withinSeconds.size == steps.size - 1,
      s"withinSeconds needs one entry per transition (${steps.size - 1}), " +
        s"got ${withinSeconds.size}")
    import events.sparkSession.implicits._
    val bounds: Seq[Option[Long]] =
      if (withinSeconds.isEmpty) Seq.fill(steps.size - 1)(None)
      else withinSeconds.map(Some(_))
    // MICROsecond comparisons, not Timestamp.getTime: getTime is
    // millisecond-resolution, so sub-millisecond event times (a
    // 20k rows/s feed is 50 µs apart) tie and the strictly-after rule
    // never fires — the stream would silently stall where the batch
    // operator (full-precision column comparison) advances. Exposed by
    // StreamSoak scenario 11; note a source that STAMPS ms-resolution
    // times (Spark's rate source does) still ties legitimately at any
    // comparison precision — spread per-user stages > 1 ms apart in
    // such generators (the soak does).
    def us(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelProgress]) =>
          var times = state.getOption.map(_.times).getOrElse(Seq.empty)
          val before = times.length
          for (e <- batch.toArray.sortBy(e => us(e.ts))
               if times.length < steps.length && steps(times.length) == e.event_type) {
            val ok =
              if (times.isEmpty) true
              else {
                val prev = us(times.last)
                us(e.ts) > prev &&
                  bounds(times.length - 1).forall(w => us(e.ts) <= prev + w * 1000000L)
              }
            if (ok) times = times :+ e.ts
          }
          if (times.length > before) {
            val next = FunnelProgress(uid, times.length, times)
            if (evictCompleted && times.length == steps.length) state.remove()
            else state.update(next)
            Iterator.single(next)
          } else Iterator.empty
      }
  }

  /** Turn latest per-user [[FunnelProgress]] rows into the
    * [[graft.dfw.FunnelOps.sequentialFunnel]] readout — (step, stage,
    * n_users, conv_pct) with every stage present (0 rows for
    * unreached stages) and the same guarded integer percent.
    */
  def funnelReachFromProgress(progress: DataFrame, steps: Seq[String]): DataFrame = {
    import progress.sparkSession.implicits._
    val counts = progress
      .select(explode(expr("sequence(1, step)")).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("n_users"))
    val stages = steps.zipWithIndex.map { case (st, i) => (i + 1, st) }
      .toDF("step", "stage")
    val joined = stages.join(counts, Seq("step"), "left")
      .select(col("step"), col("stage"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
    val first = joined.filter(col("step") === 1).select(col("n_users").as("__n0"))
    joined.crossJoin(broadcast(first))
      .select(col("step"), col("stage"), col("n_users"),
        expr("CASE WHEN __n0 = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_users * 100) div __n0 END").as("conv_pct"))
      .orderBy(col("step"))
  }

  // ---------------------------------------------------------------
  // M/X6: streaming CDC apply — maintain a latest-state snapshot
  // under an unbounded change stream.
  // ---------------------------------------------------------------

  /** Apply an unbounded CDC change stream to a persisted snapshot.
    *
    * Each micro-batch merges into the stored VERSIONED state with
    * [[graft.dfw.MergeOps.applyChangesLwwVersioned]] — the associative
    * tombstone-retaining form, so any batch split of the feed
    * (including out-of-order versions across batches: an update
    * arriving AFTER a higher-version delete stays dead) converges to
    * the same snapshot as one batch replay (law pinned by
    * MergeOpsSpec; stream == batch twin pinned by CdcApplyStreamSpec).
    *
    * State lives in the snapshot table, NOT the state store — nothing
    * accumulates in streaming state, restarts resume from the last
    * committed snapshot + checkpointed source offsets. Each epoch
    * writes a fresh `snap_<epoch>` directory, then flips the
    * `_LATEST` pointer AFTER the parquet commit: a crash mid-write
    * leaves `_LATEST` on the previous good snapshot, and a replayed
    * epoch rewrites its own directory deterministically (idempotent).
    *
    * Scale: an epoch costs O(snapshot + batch) — the full-rewrite
    * regime, right up to snapshots that rewrite faster than the feed
    * accumulates. Past that, production engines go merge-on-read
    * (append delta files, compact periodically); the delta files here
    * would be the batch winners (`applyChangesLwwVersioned` of the
    * batch against an empty state), unioned at read and compacted by
    * exactly this merge — same operator, amortized schedule.
    */
  def cdcApplyStream(changes: DataFrame, snapshotRoot: String, key: String,
                     versionCol: String, opCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val mergeBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, epoch) =>
        applyCdcEpoch(batch.sparkSession, batch.toDF(), snapshotRoot,
          key, versionCol, opCol, epoch)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(mergeBatch)
      .start()
  }

  /** One epoch of the CDC apply. Crash windows, exhaustively:
    *  - crash mid-parquet-write: `snap_<epoch>` is partial but
    *    `_LATEST` still names the previous good snapshot; the replayed
    *    epoch reads `prev` from that OLDER directory (never its own —
    *    no read-under-overwrite) and rewrites its directory.
    *  - crash after the pointer flip but before Structured Streaming's
    *    commit log records the batch (foreachBatch's at-least-once
    *    window): the replayed epoch is DETECTED (`_LATEST` already at
    *    or past it) and skipped — merging the same batch again would
    *    be value-idempotent (LWW semilattice) but would read and
    *    overwrite the same directory, which Spark rejects.
    *  - crash mid-pointer-write: the pointer is written to a temp file
    *    and ATOMIC_MOVEd into place, so `_LATEST` is always either the
    *    old or the new path, never truncated garbage.
    */
  private[graft] def applyCdcEpoch(spark: org.apache.spark.sql.SparkSession,
                                       batch: DataFrame, snapshotRoot: String,
                                       key: String, versionCol: String, opCol: String,
                                       epoch: Long): Unit = {
    if (snapshotEpochs(snapshotRoot).lastOption.exists(_ >= epoch)) return
    val prev = readVersionedSnapshot(spark, snapshotRoot)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
    val next = graft.dfw.MergeOps
      .applyChangesLwwVersioned(prev, batch, key, versionCol, opCol)
    val dir = f"$snapshotRoot/snap_$epoch%09d"
    next.write.mode("overwrite").parquet(dir)
    val tmp = java.nio.file.Paths.get(s"$snapshotRoot/_LATEST.tmp")
    java.nio.file.Files.write(tmp, dir.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$snapshotRoot/_LATEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The last committed versioned snapshot, if any epoch completed. */
  def readVersionedSnapshot(spark: org.apache.spark.sql.SparkSession,
                            snapshotRoot: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(s"$snapshotRoot/_LATEST")
    if (java.nio.file.Files.exists(p))
      Some(spark.read.parquet(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    else None
  }

  /** Live-rows read view of the maintained snapshot. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, snapshotRoot: String,
                   versionCol: String, opCol: String): Option[DataFrame] =
    readVersionedSnapshot(spark, snapshotRoot)
      .map(graft.dfw.MergeOps.latestState(_, versionCol, opCol))

  /** Committed snapshot epochs, ascending — every `snap_<epoch>`
    * directory at or below the `_LATEST` pointer. Epochs above the
    * pointer (a crash mid-write) are not listed. */
  def snapshotEpochs(snapshotRoot: String): Seq[Long] = {
    val latest = java.nio.file.Paths.get(s"$snapshotRoot/_LATEST")
    if (!java.nio.file.Files.exists(latest)) return Seq.empty
    val cap = new String(java.nio.file.Files.readAllBytes(latest), "UTF-8")
      .split("snap_").last.toLong
    val dir = new java.io.File(snapshotRoot)
    dir.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("snap_"))
      .map(_.getName.stripPrefix("snap_").toLong)
      .filter(_ <= cap).sorted
  }

  /** Time travel: the versioned snapshot AS OF `epoch` (the largest
    * committed epoch ≤ the ask) — every epoch's merge result is a
    * complete state, so reading any retained epoch is O(1) lookups,
    * no replay. None if no committed epoch qualifies. */
  def readVersionedSnapshotAt(spark: org.apache.spark.sql.SparkSession,
                              snapshotRoot: String, epoch: Long): Option[DataFrame] =
    snapshotEpochs(snapshotRoot).filter(_ <= epoch).lastOption
      .map(e => spark.read.parquet(f"$snapshotRoot/snap_$e%09d"))

  /** Retention: drop all but the newest `keep` committed snapshots
    * (the time-travel horizon); the `_LATEST` target is always kept.
    * Returns the epochs removed. Mirrors VACUUM on a Delta/Iceberg
    * table — at 100 TB, old full snapshots are the dominant storage
    * cost of the full-rewrite CDC regime. */
  def vacuumSnapshots(snapshotRoot: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest snapshot")
    val es = snapshotEpochs(snapshotRoot)
    val drop = es.dropRight(keep)
    drop.foreach { e =>
      val d = java.nio.file.Paths.get(f"$snapshotRoot/snap_$e%09d")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(d)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(java.nio.file.Files.delete)
    }
    drop
  }
}
