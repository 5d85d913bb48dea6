package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the physical plans the engine
  * depends on at scale (broadcasts, pushdown, pruning, codegen) must
  * not silently degrade as queries evolve. Runs on sf0.001.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = Queries.queryMap(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q3_top_revenue: both joins broadcast, no sort-merge") {
    val plan = formatted("q3_top_revenue")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q6_filter_pushdown: every predicate reaches the Parquet scan") {
    val plan = formatted("q6_filter_pushdown")
    plan should include("GreaterThanOrEqual(l_shipdate")
    plan should include("LessThan(l_quantity,24.0)")
    plan should include("GreaterThanOrEqual(l_discount,0.05)")
  }

  test("p1_class_range: scan reads only the projected columns") {
    formatted("p1_class_range") should include("struct<vec_id:bigint,label:int>")
  }

  test("t2_center: means come back via broadcast, not a shuffled join") {
    val plan = formatted("t2_center")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q1_agg: partial + final hash aggregation (map-side combine)") {
    val plan = formatted("q1_agg")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("partial_sum")
  }

  /** Codegen explain of the EXECUTED plan. Under AQE the unexecuted
    * plan prints "Found 0 WholeStageCodegen subtrees." — which
    * contains the substring "WholeStageCodegen", so asserting against
    * the lazy explain is vacuously green. Execute first, then dump.
    */
  private def codegenOf(name: String): String = {
    val df = Queries.queryMap(name)(spark, dir)
    df.collect()
    val code = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    code should not startWith "Found 0 WholeStageCodegen"
    code
  }

  test("q1_agg: aggregation stays inside whole-stage codegen") {
    // the generated class for the partial-agg stage carries the sum
    // accumulators — proof the aggregate itself compiled, not just a scan
    codegenOf("q1_agg") should include("agg_")
  }

  test("q_analytics_scalable: no window partitioned by the 5-value key on the data side") {
    val plan = formatted("q_analytics_scalable")
    plan should include("rangepartitioning")
    plan should include("BroadcastHashJoin")
    // the full-table window partitions by (prio, __pid) — many tasks
    // per priority; per-class windows exist only on the tiny offsets
    // side that feeds the broadcast
    "windowspecdefinition\\(prio#\\d+, __pid".r.findAllIn(plan).nonEmpty shouldBe true
  }

  test("x1_dedup_exact_scalable: window-free — skew absorbed by partial aggregation") {
    val plan = formatted("x1_dedup_exact_scalable")
    plan should not include "Window"
    plan should include("partial_min")
    plan should include("partial_count")
  }

  test("w1_split_scalable: rank comes from range partitioning + broadcast offsets") {
    val plan = formatted("w1_split_scalable")
    plan should include("rangepartitioning")
    plan should include("BroadcastHashJoin")
  }

  test("x3_ann_ivf: probe-bucket join is keyed, not a cross join") {
    formatted("x3_ann_ivf") should not include "CartesianProduct"
  }

  test("x3_ann_ivf: centroid assignment is map-only — the only Window is the final rank") {
    // the assignment used to rank N*K rows through a window partitioned
    // by vector id (one shuffle per assign); the map-only rewrite must
    // keep exactly ONE Window in the whole plan: the top-k rank
    val plan = formatted("x3_ann_ivf")
    // "(n) Window" counts physical nodes once (the formatted dump
    // repeats each node in the tree and in the details section)
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 1
  }

  test("x2_embed_neardup_ivf: no windows at all, pair join keyed on centroid_id") {
    val plan = formatted("x2_embed_neardup_ivf")
    plan should not include "CartesianProduct"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("x6_stream_static: dimension side broadcasts, no shuffle join") {
    val plan = formatted("x6_stream_static")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q_cube: all grouping sets from ONE Expand + hash aggregate pass") {
    val plan = formatted("q_cube")
    "\\(\\d+\\) Expand\\b".r.findAllIn(plan).size shouldBe 1
    plan should include("HashAggregate")
  }

  test("x2_span_dedup: linear span pipeline — keyed joins only, no pair explosion") {
    val plan = formatted("x2_span_dedup")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("x3_ann_rhp: bucket join is keyed; the only Window is the final top-k rank") {
    val plan = formatted("x3_ann_rhp")
    plan should not include "CartesianProduct"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 1
  }

  test("q_topn_global: limit+sort fuses to TakeOrderedAndProject, no global sort") {
    val plan = formatted("q_topn_global")
    plan should include("TakeOrderedAndProject")
    "\\(\\d+\\) Sort\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("t5_class_count_approx: HLL sketch aggregates partially (map-side combine)") {
    val plan = formatted("t5_class_count_approx")
    plan should include("partial_approx_count_distinct")
    plan should not include "Expand" // the exact distinct's two-key expansion
  }

  test("x4_curation_pipeline: whole curation composes into one plan without cartesian joins") {
    val plan = formatted("x4_curation_pipeline")
    plan should not include "CartesianProduct"
    // the doc-id survivor joins stay keyed (broadcast or shuffled hash)
    plan should include("Join")
  }

  test("x5_curation_pipeline: media dedup + quality gate + packing in one plan, no cartesian") {
    val plan = formatted("x5_curation_pipeline")
    plan should not include "CartesianProduct"
    // the byte-verified keep-earliest dedup rides as an anti join of
    // verified dup ids against the corpus
    plan should include("LeftAnti")
    // the pack window partitions by shard — never a global (empty
    // partition-spec) window over the corpus
    plan should include("Window")
  }

  test("x2_bloom_decontam: train is never join-shuffled — bitmap broadcasts, probes are scan-local") {
    val plan = formatted("x2_bloom_decontam")
    plan should not include "SortMergeJoin"
    // the one-row bitmap reaches the probe side as a broadcast
    plan should include("Broadcast")
    // partial verdict agg combines map-side before the per-doc shuffle
    plan should include("partial_sum")
  }

  test("x4_curation_pipeline_v2: dedup + classifier + Bloom decontam + packing in one plan") {
    val plan = formatted("x4_curation_pipeline_v2")
    plan should not include "CartesianProduct"
    // the decontamination gate rides the plan as a broadcast anti join
    // of flagged ids, and the bitmap itself broadcasts (one row)
    plan should include("LeftAnti")
  }

  test("t_weighted_sample: max-weight side broadcasts; sample filter needs no shuffle of the data") {
    val plan = formatted("t_weighted_sample")
    plan should not include "SortMergeJoin"
    // the only exchanges are the tiny max() aggregate's and the final
    // oracle orderBy's range partitioning — never a hash repartition
    // of the sampled table
    plan should not include "hashpartitioning"
  }

  test("j_skew_salted: shuffle join keyed on (cls, __salt) — hot keys spread, no broadcast") {
    val plan = formatted("j_skew_salted")
    plan should include("SortMergeJoin")
    plan should not include "BroadcastHashJoin"
    // the join's partitioning includes the salt, so one class never
    // collapses onto one task
    "hashpartitioning\\(cls#\\d+, __salt".r.findAllIn(plan).nonEmpty shouldBe true
  }

  test("x4_dsir_weights: the model rides a broadcast — no token-keyed shuffle join, no window") {
    val plan = formatted("x4_dsir_weights")
    // the 256-row λ table must broadcast (contrast lmSurprisal's
    // per-term join: the DSIR model is B buckets, never |vocab|)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("x6_ann_gate: keyed bucket join, no cartesian, no window, no stream-side state shape") {
    val plan = formatted("x6_ann_gate")
    plan should not include "CartesianProduct"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
    // the only nested-loop joins are the two 1-row broadcast centroid
    // arrays (incoming + corpus assignment)
    "\\(\\d+\\) BroadcastNestedLoopJoin\\b".r.findAllIn(plan).size shouldBe 2
  }

  test("x2_semdedup: pair work keyed per cluster, centroids broadcast, no window") {
    val plan = formatted("x2_semdedup")
    // the only unkeyed join is the 1-row broadcast of the collapsed
    // centroid array (assignment); pairs join on centroid_id
    plan should not include "CartesianProduct"
    plan should include("BroadcastNestedLoopJoin")
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
    "hashpartitioning\\(centroid_id".r.findAllIn(plan).nonEmpty shouldBe true
  }

  test("x3_ann_ivf_indexed: corpus side is the stored list table — exactly one assignment broadcast") {
    val plan = formatted("x3_ann_ivf_indexed")
    plan should not include "CartesianProduct"
    // ONE 1-row centroid-array broadcast (queries); the recompute
    // anchor x3_ann_ivf needs two (queries + corpus re-assignment)
    "\\(\\d+\\) BroadcastNestedLoopJoin\\b".r.findAllIn(plan).size shouldBe 1
    "\\(\\d+\\) BroadcastNestedLoopJoin\\b".r.findAllIn(formatted("x3_ann_ivf")).size shouldBe 2
  }

  test("x6_ann_gate_indexed: per-batch work assigns only incoming rows, lists joined keyed") {
    val plan = formatted("x6_ann_gate_indexed")
    plan should not include "CartesianProduct"
    "\\(\\d+\\) Window\\b".r.findAllIn(plan).size shouldBe 0
    "\\(\\d+\\) BroadcastNestedLoopJoin\\b".r.findAllIn(plan).size shouldBe 1
  }

  test("gen_pipeline_multi: descriptor-keyed rank, centering means broadcast, no cartesian") {
    val plan = formatted("gen_pipeline_multi")
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin")
    // the scalable rank range-partitions by (descriptor, cls, order)
    plan should include("rangepartitioning(descriptor")
  }

  test("gen_pipeline_multidb: per-db config broadcasts, one db-keyed rank shuffle, no cartesian") {
    val plan = formatted("gen_pipeline_multidb")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should include("BroadcastHashJoin")
    // both databases ride ONE range-partitioned rank keyed by (db, ...)
    plan should include("rangepartitioning(db")
  }

  test("q_percentiles_scalable: rank-select — no percentile map-merge on the data side") {
    val plan = formatted("q_percentiles_scalable")
    // the exact values must come from the distributed sort + neighbor
    // selection, never from the value→count map-merge aggregate whose
    // reducer state is unbounded on nearly-unique doubles
    plan should not include "percentile("
    plan should include("rangepartitioning")
    plan should include("BroadcastHashJoin")
  }

  test("x2_kmv_overlap: anchor join keyed and broadcast-fed, no cartesian") {
    val plan = formatted("x2_kmv_overlap")
    // the exact anchor's pair join is keyed on the shingle and the
    // tiny per-source counts + estimate tables ride broadcasts
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin")
  }

  test("kmv sketch build: typed-Aggregator partials combine map-side (ObjectHashAggregate)") {
    // the sketch table is built (and collected) before the returned
    // plan exists, so assert on its own plan: partial + merge
    // object-hash aggregation — the shuffle carries one ~8 KiB sketch
    // per source × task, not shingles
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val plan = graft.llm.SketchOps
      .sourceSketches(docs, Seq("src0", "src1"), n = 3, k = 64)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should include("ObjectHashAggregate")
    plan.split("ObjectHashAggregate").length should be >= 3 // partial + final
  }

  test("x6_distinct_users: HLL sketch aggregates partially (map-side combine)") {
    val plan = formatted("x6_distinct_users")
    plan should include("hll_sketch_agg")
    plan should include("ObjectHashAggregate")
  }

  test("q_hll_rollup: sketches merge via partial ObjectHashAggregate, rollup touches no raw rows") {
    val plan = formatted("q_hll_rollup")
    // fine-grain sketch build AND the per-source rollup both run as
    // partial + merge object-hash aggregates (map-side combine of
    // sketch registers — the shuffle carries sketches, not rows)
    plan should include("ObjectHashAggregate")
    plan should include("hll_sketch_agg")
    plan should include("hll_union_agg")
    // the exact anchor joins back via broadcast, not a shuffled join
    plan should include("BroadcastHashJoin")
  }

  test("m1_merge_lww: one hash aggregate merges base+feed — no window, no join") {
    val plan = formatted("m1_merge_lww")
    plan should not include "Window"
    plan should not include "Join"
    // union + max_by partial-combines before the single key shuffle
    plan should include("partial_max_by")
    plan should include("Union")
  }

  test("q_cumulative_users: events scanned once per branch — the cumulative window merges day sketches") {
    val plan = formatted("q_cumulative_users")
    // the sketch build partial-combines map-side
    plan should include("ObjectHashAggregate")
    plan should include("hll_sketch_agg")
    // the expanding union runs over the per-day sketch rows, not raw events
    plan should include("hll_union_agg")
    // the anchor joins are on tiny day tables — no sort-merge join anywhere
    plan should not include "SortMergeJoin"
  }

  test("g1_pagerank: the rank table broadcasts into every round's join — edges never re-shuffle per round") {
    val plan = formatted("g1_pagerank")
    // |V| ≪ |E|: each of the 3 rounds joins ranks via broadcast
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("l1_zorder: the interleave runs inside whole-stage codegen") {
    // the generated spread rounds are inlined, not a boxed call
    codegenOf("l1_zorder") should include("& 0x00FF00FFL")
  }

  test("g3_triangles: wedge-closing probe is a hash equi-join, never a nested loop") {
    val plan = formatted("g3_triangles")
    // the only BroadcastNestedLoopJoins allowed are the final one-row
    // census Cross joins; the (wa, wb) probe must hash
    plan should not include "BroadcastNestedLoopJoin Inner"
    plan should not include "CartesianProduct"
  }

  test("x4_bm25: idf and corpus stats broadcast; top-k is a TakeOrdered, not a global sort") {
    val plan = formatted("x4_bm25")
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("x2_sorted_neighborhood: neighbor gen is a keyed equi-join — no range join, no cartesian") {
    val plan = formatted("x2_sorted_neighborhood")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q_ohlc: single (series, bucket) shuffle feeds both window and aggregate") {
    val plan = formatted("q_ohlc")
    // window sort + reused partitioning; no join anywhere
    plan should not include "Join"
    "Arguments: hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("q_histogram: stats ride a broadcast; the value column never join-shuffles") {
    val plan = formatted("q_histogram")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("g4_label_prop: labels broadcast into every round's join") {
    val plan = formatted("g4_label_prop")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("q_psi_drift: slice counts aggregate on <=2nb keys, no sort-merge join") {
    val plan = formatted("q_psi_drift")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("q_funnel: every step's type predicate reaches the parquet scan; no window") {
    val plan = formatted("q_funnel")
    plan should include("EqualTo(event_type,view)")
    plan should include("EqualTo(event_type,click)")
    plan should include("EqualTo(event_type,purchase)")
    plan should not include "Window"
    plan should not include "SortMergeJoin" // per-user state is broadcast
  }

  test("q_funnel_windowed: the conversion bound adds no shuffle or window to the funnel plan") {
    val plan = formatted("q_funnel_windowed")
    plan should include("EqualTo(event_type,click)")
    plan should not include "Window"
    plan should not include "SortMergeJoin"
  }

  test("x4_bpe_encode_ranked: distinct-word tokens broadcast back; corpus never shuffles pre-join") {
    val plan = formatted("x4_bpe_encode_ranked")
    plan should not include "Window"
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // word→token map and the final doc join are both broadcasts
    "BroadcastHashJoin".r.findAllIn(plan).nonEmpty shouldBe true
    // per-doc reassembly is a partial+final ObjectHashAggregate
    // (map-side combine), not a single-exchange SortAggregate
    "ObjectHashAggregate".r.findAllIn(plan).size should be >= 2
  }

  test("t_target_encode: category stats broadcast back; the fact table never join-shuffles") {
    val plan = formatted("t_target_encode")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("w_mixture_temperature + w_epoch_schedule: totals enter via broadcast, no shuffled join") {
    for (q <- Seq("w_mixture_temperature", "w_epoch_schedule")) {
      val plan = formatted(q)
      plan should include("Broadcast")
      plan should not include "SortMergeJoin"
    }
  }

  test("x6_neardup_gate: per-call plan carries NO aggregation — corpus artifacts come from the store") {
    val plan = formatted("x6_neardup_gate")
    // the plain (unprepared) gate derives band arrays + shingle sets
    // with two corpus-sized aggregations per call; the registered
    // query must read them as stored tables instead
    plan should not include "HashAggregate"
    plan should not include "ObjectHashAggregate"
    plan should not include "SortAggregate"
    // and the probe side is the native expression, not interpreted HOFs
    plan should include("minhash_band_hashes")
  }

  test("x4_keyness: top-k per slice plans a WindowGroupLimit, slice totals broadcast") {
    val plan = formatted("x4_keyness")
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
  }

  test("q_ks_test: CDF totals and prefix offsets ride broadcasts, no sort-merge join") {
    val plan = formatted("q_ks_test")
    plan should include("BroadcastNestedLoopJoin") // one-row totals
    plan should not include "SortMergeJoin"
  }

  test("w_quota_sample: the quota filter is a WindowGroupLimit (map-side top-k)") {
    formatted("w_quota_sample") should include("WindowGroupLimit")
  }

  test("q_join_profile: single full-outer key join of reduced tables, partial aggs") {
    val plan = formatted("q_join_profile")
    "HashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("FullOuter")
  }

  test("x2_editdist_join: equi-join on the block key, never a cartesian product") {
    val plan = formatted("x2_editdist_join")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q_trend_ols: pure aggregate chain — no join, no window, partial sums") {
    val plan = formatted("q_trend_ols")
    plan should not include "Join"
    plan should not include "Window"
    plan should include("partial_sum")
  }

  test("q_autocorr: lag pairs come from a keyed equi-join of reduced tables, no window") {
    val plan = formatted("q_autocorr")
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q_cusum: prefix offsets and totals ride broadcasts, no sort-merge join") {
    val plan = formatted("q_cusum")
    plan should include("BroadcastHashJoin")        // one-row-per-partition prefix table
    plan should include("BroadcastNestedLoopJoin")  // 1-row totals
    plan should not include "SortMergeJoin"
  }

  test("q_cuped: pooled moments enter via a 1-row broadcast; no shuffled join, no window") {
    val plan = formatted("q_cuped")
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("x2_url_canon: canonicalization is a scan-side projection feeding one aggregate — no join") {
    val plan = formatted("x2_url_canon")
    plan should not include "Join"
    plan should include("HashAggregate")
  }

  test("x4_pmi_collocations: the top-k cut is a TakeOrdered, never a global sort") {
    val plan = formatted("x4_pmi_collocations")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("w_sample_topk_weighted: scan-local priorities + TakeOrdered — no shuffle, no window") {
    val plan = formatted("w_sample_topk_weighted")
    plan should include("TakeOrderedAndProject")
    plan should not include "Window"
    plan should not include "SortMergeJoin"
  }

  test("q_calibration: one <=nb-key aggregate; totals ride a 1-row broadcast") {
    val plan = formatted("q_calibration")
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("q_cohen_kappa: vocab-row marginals join small; totals broadcast; no window") {
    val plan = formatted("q_cohen_kappa")
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("m4_profile_diff: two 1-row profiles cross as broadcasts — no shuffled join") {
    val plan = formatted("m4_profile_diff")
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("q_attribution: as-of carry-forward is one user-keyed window — no range join") {
    val plan = formatted("q_attribution")
    plan should include("Window")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("q_ewma: the FIR convolution is explode + one aggregate — no window, no join, no recurrence") {
    val plan = formatted("q_ewma")
    plan should not include "Window"
    plan should not include "Join"
    plan should include("Generate") // the bounded W-fold explode
    plan should include("partial_sum")
  }

  test("q_ab_multi: pairwise work joins only the k-row arm table") {
    val plan = formatted("q_ab_multi")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
    plan should include("partial_sum") // unit rows aggregate map-side
  }

  test("q_corr_matrix: every cross-sum in ONE aggregation pass — no join, no window") {
    val plan = formatted("q_corr_matrix")
    plan should not include "Join"
    plan should not include "Window"
  }

  test("q_kaplan_meier: prefix offsets broadcast; no sort-merge join") {
    val plan = formatted("q_kaplan_meier")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q_seasonality: two stacked aggregates, nothing else") {
    val plan = formatted("q_seasonality")
    plan should not include "Join"
    plan should not include "Window"
    "HashAggregate".r.findAllIn(plan).size should be >= 4
  }

  test("q_mannwhitney: prefix-sum ranks (frozen pid scan), totals broadcast, no sort-merge") {
    val plan = formatted("q_mannwhitney")
    // prefixSumScalable's range exchange sits behind the Materializer
    // freeze: what's visible is the frozen scan + pid-local windows
    plan should include("Scan ExistingRDD")
    plan should include("BroadcastNestedLoopJoin") // one-row totals cross
    plan should not include "SortMergeJoin"
  }

  test("q_bootstrap_ci: the ×R explode collapses into a partial agg — no wide shuffle") {
    val plan = formatted("q_bootstrap_ci")
    plan should include("Generate") // the replicate explode
    plan should include("partial_sum") // map-side combine to ≤R rows per task
    plan should not include "SortMergeJoin"
  }

  test("q_bh_fdr: windows only over the reduced value table and the 5-row test table") {
    val plan = formatted("q_bh_fdr")
    plan should include("Window")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("q_event_paths: per-journey window, top-k via TakeOrderedAndProject") {
    val plan = formatted("q_event_paths")
    plan should include("TakeOrderedAndProject")
    plan should not include "Join"
  }

  test("q_quantile_te: rank-select quantiles — rank targets from a literal q table") {
    val plan = formatted("q_quantile_te")
    // r18: exactQuantiles computes its needed ranks from the rank
    // output's own `n` column — the former (group × q) AGGREGATED
    // rank-target broadcast table (a second derivation of the input)
    // is gone. What remains is ONE BroadcastNestedLoopJoin whose
    // build side is the |qs|-row LITERAL quantile list
    // (LocalTableScan, no upstream derivation) — each ranked row
    // evaluates |qs| codegen rank predicates. Nothing sort-merges.
    // (ADVICE r18: the old title asserted a shape the diff removed.)
    plan should not include "SortMergeJoin"
    plan should include("BroadcastNestedLoopJoin")
    plan should include("LocalTableScan")
  }

  test("m5_incremental_agg: pure stacked aggregates, no join/window anywhere") {
    val plan = formatted("m5_incremental_agg")
    plan should not include "Join"
    plan should not include "Window"
    plan should include("Union")
  }

  test("g6_adamic_adar: top-k is a heap, not a global sort; wedge join is hash-equi") {
    val plan = formatted("g6_adamic_adar")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("g7_hits: per-round score joins broadcast; no sort-merge anywhere") {
    val plan = formatted("g7_hits")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("x4_rake: word scores broadcast onto the token stream; top-k heap") {
    val plan = formatted("x4_rake")
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("x4_ngram_novelty: reference grams anti-join; no cartesian") {
    val plan = formatted("x4_ngram_novelty")
    plan should include("LeftAnti")
    plan should not include "CartesianProduct"
  }

  test("w_neyman_sample: constant rank conjunct keeps the group-limit pushdown") {
    val plan = formatted("w_neyman_sample")
    plan should include("WindowGroupLimit")
    plan should not include "CartesianProduct"
  }

  test("x3_hard_negatives: probed-bucket equi-join off the stored lists; no cartesian") {
    val plan = formatted("x3_hard_negatives")
    plan should not include "CartesianProduct"
    plan should include("Window") // per-anchor rank over band survivors
  }

  test("x4_vocab_fit: distinct-word replace-chain broadcasts back; corpus never sort-merges") {
    val plan = formatted("x4_vocab_fit")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q_power_mde: two stacked aggregates, nothing else") {
    val plan = formatted("q_power_mde")
    plan should not include "Join"
    plan should not include "Window"
  }

  test("m6_partition_skew: key-cardinality aggregate then a one-row reduce") {
    val plan = formatted("m6_partition_skew")
    plan should not include "Join"
    plan should not include "Window"
    "HashAggregate".r.findAllIn(plan).size should be >= 4
  }

  test("q_srm: one aggregate pass, no join, no window") {
    val plan = formatted("q_srm")
    plan should not include "Join"
    plan should not include "Window"
  }

  test("q_median_ci: rank-select order stats — per-row rank targets, no bounds join at all") {
    val plan = formatted("q_median_ci")
    // r18: the four needed ranks are computed from the rank output's
    // own `n` column and kept by a plain Filter — the former 1-row
    // bounds table (count aggregate + BroadcastNestedLoopJoin probe)
    // is gone, which also removed the second input derivation
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "SortMergeJoin"
    plan should include("Filter")
  }

  test("t_woe_encode: vocabulary aggregate with broadcast totals — no window, no sort-merge") {
    val plan = formatted("t_woe_encode")
    plan should include("BroadcastNestedLoopJoin") // 1-row totals cross
    plan should not include "Window"
    plan should not include "SortMergeJoin"
  }

  test("x3_training_pairs: one probed-bucket pass, anchor-keyed pos×neg join, no cartesian") {
    val plan = formatted("x3_training_pairs")
    plan should not include "CartesianProduct"
    plan should include("Window") // per-anchor pos/neg ranks
  }
}
