package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed quantiles by rank selection.
  *
  * Spark's built-in `percentile()` aggregate buffers a value→count
  * OpenHashMap per group and merges those maps through the shuffle —
  * fine for low-cardinality columns, but on nearly-unique doubles
  * (prices, scores) the map is the size of the group, so at 100 TB a
  * single reducer holds a group's whole column: the same
  * unbounded-reducer shape the engine's scalable twins exist to avoid.
  *
  * This operator computes the SAME value (linear interpolation between
  * the two adjacent order statistics, the `quantile_cont` definition
  * Spark and DuckDB share) from a distributed sort instead: a
  * range-partitioned two-phase rank ([[SplitOps.rankByPermutationScalable]]),
  * then a broadcast join against the tiny (group × quantile) table of
  * needed ranks, keeping only the two neighbor rows per quantile. No
  * stage ever materializes a group in one place; reducer memory is
  * O(1) regardless of group size or value cardinality.
  */
object QuantileOps {

  /** Exact `quantile_cont` per group for each q in `qs`.
    *
    * @return one row per (group × q): `grpCols..., q, value` — pivot
    *         with `groupBy(...).pivot("q")` or join per-q slices when
    *         columns are wanted.
    */
  def exactQuantiles(df: DataFrame, grpCols: Seq[String], valueCol: String,
                     qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    val vals = df
      .select(grpCols.map(col) :+ col(valueCol).cast("double").as("__v"): _*)
      .where(col("__v").isNotNull) // percentile semantics: nulls ignored
    val ranked = SplitOps
      .rankByPermutationScalable(vals, grpCols, Seq(col("__v")))
    // Needed ranks come from the rank output's OWN `n` column — the
    // former shape aggregated group counts from the raw input into a
    // (group × q) broadcast table, which re-derived the input a second
    // time (one extra scan + partial agg per call, r18 plan audit).
    // `n` is the identical long the count aggregate produced, and the
    // rank arithmetic below is the identical IEEE op sequence, so the
    // kept rows and interpolation are bit-identical; only the second
    // input derivation and the per-group broadcast build disappear.
    // The |qs|-row literal table broadcasts into a nested-loop join —
    // each data row evaluates |qs| rank predicates, all codegen.
    val spark = df.sparkSession
    import spark.implicits._
    val qlit = qs.toDF("q")
    val fpos = col("q") * (col("n") - 1).cast("double")
    ranked.join(broadcast(qlit),
        col("rn") === floor(fpos).cast("long") + 1 ||
          col("rn") === ceil(fpos).cast("long") + 1)
      .withColumn("__rlo", floor(fpos).cast("long") + 1)
      .withColumn("__rhi", ceil(fpos).cast("long") + 1)
      .withColumn("__frac", fpos - floor(fpos))
      .groupBy(grpCols.map(col) :+ col("q"): _*)
      .agg(
        min(when(col("rn") === col("__rlo"), col("__v"))).as("__vlo"),
        min(when(col("rn") === col("__rhi"), col("__v"))).as("__vhi"),
        first(col("__frac")).as("__f"))
      .select(grpCols.map(col) ++ Seq(col("q"),
        (col("__vlo") + col("__f") * (col("__vhi") - col("__vlo"))).as("value")): _*)
  }

  /** Convenience: the per-q values of [[exactQuantiles]] as named
    * columns (`names` pairs each q with its output column), one row
    * per group.
    */
  def exactQuantileCols(df: DataFrame, grpCols: Seq[String], valueCol: String,
                        names: Seq[(Double, String)]): DataFrame = {
    val long = exactQuantiles(df, grpCols, valueCol, names.map(_._1))
    val aggs = names.map { case (q, name) =>
      min(when(col("q") === lit(q), col("value"))).as(name)
    }
    long.groupBy(grpCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Robust per-group outlier statistics: median / MAD (median
    * absolute deviation) and the count of rows beyond `k × MAD` —
    * the outlier gate that survives what kills mean/stddev z-scores
    * (a single wild value drags the mean AND inflates the stddev,
    * masking itself; the median and MAD have 50% breakdown).
    *
    * Three group-keyed passes: median → absolute deviations + MAD →
    * flag count. Each per-group statistic rides back via broadcast,
    * so the data side is never join-shuffled. `percentile()` is exact
    * with a value→count map per group — right when groups are an
    * aggregation grain (here: event types); for nearly-unique-value
    * grains at 100 TB swap the median passes for the rank-select path
    * ([[exactQuantiles]]) — same downstream arithmetic.
    */
  def madOutlierStats(df: DataFrame, grpCols: Seq[String], valueCol: String,
                      k: Int = 3): DataFrame = {
    val g = grpCols.map(col)
    val med = df.groupBy(g: _*)
      .agg(percentile(col(valueCol), lit(0.5)).as("med"))
    val dev = df.join(broadcast(med), grpCols)
      .withColumn("__ad", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(g: _*)
      .agg(percentile(col("__ad"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), grpCols)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum((col("__ad") > lit(k.toDouble) * col("mad")).cast("long")).as("n_anomalies"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"))
  }

  /** Equi-width histogram — the data-profiling staple: `nb` buckets
    * spanning [min, max], bucket i covering
    * `[min + i·step, min + (i+1)·step)` with the max value folded into
    * the last bucket. Emits every bucket (zero-count ones included) so
    * the output shape is fixed at `nb` rows per group key regardless
    * of data.
    *
    * Plan shape: one scan-side aggregate for (min, max, n) — a one-row
    * broadcast — then a codegen'd bucket expression on the scan and a
    * hash aggregate over ≤ nb keys; the dense bucket spine is a
    * broadcast `sequence` cross-joined and left-joined with the
    * counts. Two passes over the column, no wide shuffle anywhere.
    *
    * Determinism: bucket assignment is
    * `floor((x - min) / (max - min) * nb)` — IEEE double ops in a
    * fixed order, identical across engines; bounds are emitted
    * rounded for display only (assignment never uses the rounded
    * values). Degenerate max==min collapses to bucket 0.
    */
  /** Population Stability Index between two slices of one column —
    * the standard drift monitor between a reference window and the
    * current one (PSI < 0.1 stable, > 0.25 drifted). Shared equi-width
    * buckets come from the GLOBAL min/max so both slices bin
    * identically; Laplace-smoothed shares ((n+1)/(N+nb)) keep empty
    * buckets finite; each bucket's (p−q)·ln(p/q) term quantizes to
    * integer micro-units so the total is an order-free integer sum.
    *
    * Plan shape: one stats pass (broadcast one row), one ≤2·nb-key
    * aggregate over codegen'd (bucket, slice) labels, a broadcast
    * dense-spine join, and a windowless total via a broadcast one-row
    * cross join. The column shuffles nothing wider than nb keys.
    *
    * @param isRef predicate splitting reference (true) from current
    * @return nb rows: bucket, lo, hi, ref_n, cur_n, psi_q
    *         (contribution, micro-units), psi_total_q (same each row)
    */
  def psiDrift(df: DataFrame, valueCol: String, isRef: Column, nb: Int): DataFrame = {
    require(nb >= 1)
    val stats = df.agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    val bucketed = df.join(broadcast(stats))
      .select(when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(lit(nb - 1).cast("long"),
          floor((col(valueCol) - col("mn")) / (col("mx") - col("mn")) * nb)))
        .as("bucket"),
        // NULL predicate rows get a DEFINED slice (current), matching
        // the oracle's CASE WHEN — a bare cast would silently drop
        // them from BOTH slices (sum skips nulls)
        when(isRef, 1).otherwise(0).as("__ref"))
      .groupBy(col("bucket"))
      .agg(sum(col("__ref")).cast("long").as("ref_n"),
        sum(lit(1) - col("__ref")).cast("long").as("cur_n"))
    val spine = stats.select(explode(sequence(lit(0L), lit((nb - 1).toLong))).as("bucket"),
      col("mn"), col("mx"))
    val filled = spine.join(broadcast(bucketed), Seq("bucket"), "left")
      .select(col("bucket"), col("mn"), col("mx"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = filled.agg(sum(col("ref_n")).as("__rt"), sum(col("cur_n")).as("__ct"))
    val perBucket = filled.join(broadcast(totals))
      .withColumn("__p",
        (col("ref_n").cast("double") + 1.0) / (col("__rt") + nb))
      .withColumn("__q",
        (col("cur_n").cast("double") + 1.0) / (col("__ct") + nb))
      .withColumn("psi_q",
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")) * 1000000).cast("long"))
    val total = perBucket.agg(sum(col("psi_q")).as("psi_total_q"))
    perBucket.join(broadcast(total))
      .select(col("bucket"),
        round(col("mn") + col("bucket") * (col("mx") - col("mn")) / nb, 6).as("lo"),
        round(col("mn") + (col("bucket") + 1) * (col("mx") - col("mn")) / nb, 6).as("hi"),
        col("ref_n"), col("cur_n"), col("psi_q"), col("psi_total_q"))
  }

  def equiWidthHistogram(df: DataFrame, valueCol: String, nb: Int): DataFrame = {
    require(nb >= 1)
    val stats = df.agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"),
      count(col(valueCol)).as("n_total"))
    val bucketed = df.join(broadcast(stats))
      .select(when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(lit(nb - 1).cast("long"),
          floor((col(valueCol) - col("mn")) / (col("mx") - col("mn")) * nb)))
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val spine = stats.select(explode(sequence(lit(0L), lit((nb - 1).toLong))).as("bucket"),
      col("mn"), col("mx"), col("n_total"))
    // left-outer can only broadcast its right side; counts are ≤ nb rows
    spine.join(broadcast(bucketed), Seq("bucket"), "left")
      .select(col("bucket"),
        round(col("mn") + col("bucket") * (col("mx") - col("mn")) / nb, 6).as("lo"),
        round(col("mn") + (col("bucket") + 1) * (col("mx") - col("mn")) / nb, 6).as("hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        // n_total = 0 (empty/all-null column): Spark's integer div
        // would return NULL while DuckDB's // raises — pin both
        // engines to 0 for the degenerate histogram
        expr("CASE WHEN n_total = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE coalesce(cnt, 0L) * 1000000 div n_total END").as("frac_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test: D = max over observed
    * values of |F_ref(v) − F_cur(v)|, the distribution-shape
    * complement to [[psiDrift]]'s binned divergence (KS sees a pure
    * location shift a coarse binning can blur, and needs no bin-count
    * parameter).
    *
    * Scale shape: one partial-agg groupBy collapses rows to distinct
    * values with per-slice counts; the two empirical CDFs are that
    * table's running sums via [[WindowOps.prefixSumScalable]] (never a
    * single-task global window); the max/argmax reduce and two-row
    * totals ride broadcasts. The CDF gaps are IEEE divisions of exact
    * integer counts, so both the statistic and its argmax location
    * replay bit-identically in any engine.
    *
    * @param isRef slice predicate; NULL rows count as CURRENT (same
    *              defined-slice rule as [[psiDrift]])
    * @return single row: `n_ref, n_cur, d_ppm` (round(D·1e6)), `ks_at`
    *         (smallest value attaining D), `p_value` (asymptotic
    *         2·exp(−2D²·nm/(n+m)), 6 dp)
    */
  def ksTest(df: DataFrame, valueCol: String, isRef: Column): DataFrame = {
    val sliced = df
      .select(col(valueCol).cast("double").as("v"),
        when(isRef, 1L).otherwise(0L).as("__r"))
      .where(col("v").isNotNull)
    val counts = sliced.groupBy(col("v"))
      .agg(sum(col("__r")).as("rn"), (count(lit(1)) - sum(col("__r"))).as("cn"))
    val run = WindowOps.prefixSumScalable(counts, col("v"),
      Seq("rn" -> col("rn"), "cn" -> col("cn")))
    // totals from the FROZEN prefix-sum output (same exact-integer
    // sums), not from `counts` — deriving them upstream re-ran the
    // raw scan + groupBy a second time (r18 plan audit: two parquet
    // scans for one query)
    val totals = run.agg(sum(col("rn")).as("n_ref"), sum(col("cn")).as("n_cur"))
    val gaps = run.join(broadcast(totals))
      .select(col("v"), col("n_ref"), col("n_cur"),
        abs(col("run_rn").cast("double") / col("n_ref").cast("double") -
          col("run_cn").cast("double") / col("n_cur").cast("double")).as("__gap"))
    // argmax in ONE aggregate: max over (gap, -v) structs picks the
    // max gap and, among ties, the smallest v — identical to the old
    // max-then-self-join (same doubles, same tie rule) but the gap
    // table is computed once instead of twice and nothing re-joins.
    // The isNotNull guard keeps the degenerate one-sided case (an
    // empty ref or cur slice divides by zero → NULL gaps) emitting
    // ZERO rows like the old `__gap === __d` join did — a struct with
    // a null field is not null itself and would otherwise survive
    // max() as a row with null d_ppm/p_value (ADVICE r18).
    gaps.filter(col("__gap").isNotNull)
      .groupBy(col("n_ref"), col("n_cur"))
      .agg(max(struct(col("__gap").as("g"), (-col("v")).as("nv"))).as("__m"))
      .select(col("n_ref"), col("n_cur"),
        round(col("__m.g") * 1e6).cast("long").as("d_ppm"),
        (-col("__m.nv")).as("ks_at"),
        round(lit(2.0) * exp(lit(-2.0) * col("__m.g") * col("__m.g") *
          (col("n_ref") * col("n_cur")).cast("double") /
          (col("n_ref") + col("n_cur")).cast("double")), 6).as("p_value"))
  }

  /** Chi-squared homogeneity test between two slices of a categorical
    * column, with Cramér's V effect size — the categorical complement
    * to [[psiDrift]]/[[ksTest]]. One partial-agg groupBy builds the
    * 2×k contingency table; expectations, the statistic, and V are
    * column arithmetic on that k-row table with one-row totals
    * broadcast. Per-category contributions are quantized to integer
    * micro-units BEFORE the final sum (double addition does not
    * commute across partitions; the long sum does — same discipline
    * as [[psiDrift]]'s psi_q).
    *
    * Categories observed in only one slice still contribute (expected
    * counts are never zero when both slice totals are positive).
    *
    * @return single row: `n_ref, n_cur, n_cats, dof, chi2_q`
    *         (round(χ²·1e6) integer), `chi2` (χ² as double),
    *         `cramers_v` (6 dp; 2×k table, so V = sqrt(χ²/N))
    */
  def chi2Drift(df: DataFrame, catCol: Column, isRef: Column): DataFrame = {
    val cells = df
      .select(catCol.as("__cat"), when(isRef, 1L).otherwise(0L).as("__r"))
      .groupBy(col("__cat"))
      .agg(sum(col("__r")).as("rn"), (count(lit(1)) - sum(col("__r"))).as("cn"))
    val totals = cells.agg(sum(col("rn")).as("n_ref"), sum(col("cn")).as("n_cur"),
      count(lit(1)).as("n_cats"))
    val contrib = cells.join(broadcast(totals))
      .withColumn("__rowt", (col("rn") + col("cn")).cast("double"))
      .withColumn("__n", (col("n_ref") + col("n_cur")).cast("double"))
      .withColumn("__er", col("__rowt") * col("n_ref").cast("double") / col("__n"))
      .withColumn("__ec", col("__rowt") * col("n_cur").cast("double") / col("__n"))
      .withColumn("__c",
        (col("rn").cast("double") - col("__er")) * (col("rn").cast("double") - col("__er")) / col("__er") +
        (col("cn").cast("double") - col("__ec")) * (col("cn").cast("double") - col("__ec")) / col("__ec"))
      .withColumn("__cq", round(col("__c") * 1e6).cast("long"))
    contrib.groupBy(col("n_ref"), col("n_cur"), col("n_cats"))
      .agg(sum(col("__cq")).as("chi2_q"))
      .select(col("n_ref"), col("n_cur"), col("n_cats"),
        (col("n_cats") - 1L).as("dof"), col("chi2_q"),
        (col("chi2_q").cast("double") / 1e6).as("chi2"),
        round(sqrt(col("chi2_q").cast("double") / 1e6 /
          (col("n_ref") + col("n_cur")).cast("double")), 6).as("cramers_v"))
  }

  /** Distribution-free confidence interval for the MEDIAN from order
    * statistics (the binomial/sign construction): ranks
    * `(n ± z·√n)/2` bracket the true median at ~95% coverage with NO
    * distributional assumption — the right CI when the metric is
    * skewed enough that the median was chosen over the mean in the
    * first place. The median itself interpolates the same
    * `quantile_cont` definition as [[exactQuantiles]].
    *
    * All four needed order statistics come from ONE
    * range-partitioned rank pass ([[SplitOps.rankByPermutationScalable]]
    * — reducer state O(1), never `percentile()`'s value map) and one
    * broadcast join of a 1-row rank table.
    *
    * @return single row: `n, median, ci_lo, ci_hi` (6 dp)
    */
  def medianCi(df: DataFrame, valueCol: String): DataFrame = {
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__g", lit(1))
    val ranked = SplitOps
      .rankByPermutationScalable(vals, Seq("__g"), Seq(col("__v")))
      .select(col("rn"), col("n"), col("__v")) // keep the helper's n
    val z = 1.959964
    val nD = col("n").cast("double")
    val pos = (nD - 1.0) * 0.5 + 1.0
    // the four needed ranks come from the rank output's OWN `n` — the
    // former one-row count aggregate re-derived the input a second
    // time (same long n, same IEEE rank formulas; see exactQuantiles)
    ranked
      .withColumn("__rlo",
        greatest(lit(1L), floor((nD - lit(z) * sqrt(nD)) / 2.0).cast("long")))
      .withColumn("__rhi",
        least(col("n"), ceil(lit(1.0) + (nD + lit(z) * sqrt(nD)) / 2.0).cast("long")))
      .withColumn("__mlo", floor(pos).cast("long"))
      .withColumn("__mhi", ceil(pos).cast("long"))
      .withColumn("__mf", pos - floor(pos))
      .filter(col("rn") === col("__rlo") || col("rn") === col("__rhi") ||
        col("rn") === col("__mlo") || col("rn") === col("__mhi"))
      .groupBy(col("n"), col("__mf"))
      .agg(min(when(col("rn") === col("__rlo"), col("__v"))).as("__lo"),
        min(when(col("rn") === col("__rhi"), col("__v"))).as("__hi"),
        min(when(col("rn") === col("__mlo"), col("__v"))).as("__ml"),
        min(when(col("rn") === col("__mhi"), col("__v"))).as("__mh"))
      .select(col("n"),
        round(col("__ml") + col("__mf") * (col("__mh") - col("__ml")), 6)
          .as("median"),
        round(col("__lo"), 6).as("ci_lo"), round(col("__hi"), 6).as("ci_hi"))
  }

  /** Per-group two-sample KS drift tests — one [[ksTest]] row per
    * value of `grpCol`, the input shape a multiple-comparison sweep
    * ([[graft.dfw.AuditOps.bhAdjust]]) wants ("which event types'
    * value distributions drifted, FDR-controlled").
    *
    * Scale shape: the partial-agg groupBy collapses raw rows to
    * distinct (group, value) pairs; the CDFs are windows PARTITIONED
    * BY GROUP over that reduced table — parallel across groups, and
    * each partition holds a group's distinct VALUES, not its rows.
    * For a group whose value domain is itself near-unique at extreme
    * scale, run [[ksTest]] (prefix-sum path) per group instead; for
    * the drift-sweep grain (metric values per category) the reduced
    * table is the right tool.
    *
    * @return one row per group: `grp, n_ref, n_cur, d_ppm, ks_at,
    *         p_value` — same statistics as [[ksTest]]
    */
  def ksTestByGroup(df: DataFrame, grpCol: Column, valueCol: String,
                    isRef: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(grpCol.as("grp"), col(valueCol).cast("double").as("v"),
        when(isRef, 1L).otherwise(0L).as("__r"))
      .where(col("v").isNotNull)
      .groupBy(col("grp"), col("v"))
      .agg(sum(col("__r")).as("rn"), (count(lit(1)) - sum(col("__r"))).as("cn"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = Window.partitionBy(col("grp"))
    val gaps = counts
      .withColumn("__crn", sum(col("rn")).over(w))
      .withColumn("__ccn", sum(col("cn")).over(w))
      .withColumn("n_ref", sum(col("rn")).over(g))
      .withColumn("n_cur", sum(col("cn")).over(g))
      .withColumn("__gap",
        abs(col("__crn").cast("double") / col("n_ref").cast("double") -
          col("__ccn").cast("double") / col("n_cur").cast("double")))
    // per-group argmax in ONE aggregate (same struct-max device as
    // [[ksTest]]): the windowed gap table is computed once instead of
    // twice and the per-group max never round-trips through a
    // broadcast self-join. Same isNotNull guard as [[ksTest]]: a
    // group with an empty ref or cur slice has all-NULL gaps and must
    // drop (the old join semantics), not emit a null-stat row that
    // could feed NULL p-values into bhAdjust (ADVICE r18).
    gaps.filter(col("__gap").isNotNull)
      .groupBy(col("grp"), col("n_ref"), col("n_cur"))
      .agg(max(struct(col("__gap").as("g"), (-col("v")).as("nv"))).as("__m"))
      .select(col("grp"), col("n_ref"), col("n_cur"),
        round(col("__m.g") * 1e6).cast("long").as("d_ppm"),
        (-col("__m.nv")).as("ks_at"),
        round(lit(2.0) * exp(lit(-2.0) * col("__m.g") * col("__m.g") *
          (col("n_ref") * col("n_cur")).cast("double") /
          (col("n_ref") + col("n_cur")).cast("double")), 6).as("p_value"))
      .orderBy(col("grp"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between two slices —
    * the nonparametric complement to [[graft.dfw.AuditOps.welchTTest]]:
    * compares the whole distributions through ranks, so a heavy tail
    * or an outlier that would swamp a mean test moves U by at most
    * its rank. Ties get midranks (the standard definition), and the
    * normal approximation uses the tie-corrected variance.
    *
    * Scale shape (same skeleton as [[ksTest]]): one partial-agg
    * groupBy collapses rows to distinct values with per-slice counts;
    * midranks come from the value table's running total via
    * [[WindowOps.prefixSumScalable]] — never a single-task global
    * window; everything after is a one-row reduce.
    *
    * Exactness: midranks live on the half-integer grid, so the
    * DOUBLED rank sum 2R = Σ rn·(2·cum_before + t + 1) is an exact
    * integer, as is the doubled statistic u2 = 2R − n_ref·(n_ref+1)
    * and the tie term Σ(t³−t) — both replay bit-identically in any
    * engine. (Long arithmetic bounds: Σ rn·2N ≈ 2N², exact to
    * N ≈ 2×10⁹ total rows; beyond that promote the two sums to
    * decimal(38,0).) AUC = U/(n₁n₂) is the two-sample
    * probability-of-superiority, P(X_ref > X_cur) + ½P(=).
    *
    * @param isRef slice predicate; NULL value rows are dropped
    *              (rank tests have no place for them), NULL
    *              predicate rows count as CURRENT (the defined-slice
    *              rule of [[psiDrift]]/[[ksTest]])
    * @return single row: `n_ref, n_cur, u2_ref` (2·U for the ref
    *         slice, exact integer), `tie_term` (Σ t³−t), `auc`
    *         (6 dp), `z` (tie-corrected normal approximation, 4 dp;
    *         NULL when either slice is empty or N < 2)
    */
  def mannWhitney(df: DataFrame, valueCol: String, isRef: Column): DataFrame = {
    val sliced = df
      .select(col(valueCol).cast("double").as("v"),
        when(isRef, 1L).otherwise(0L).as("__r"))
      .where(col("v").isNotNull)
    val counts = sliced.groupBy(col("v"))
      .agg(sum(col("__r")).as("rn"), (count(lit(1)) - sum(col("__r"))).as("cn"))
      .withColumn("t", col("rn") + col("cn"))
    val run = WindowOps.prefixSumScalable(counts, col("v"),
      Seq("t" -> col("t")))
    // totals from the FROZEN prefix-sum output (identical exact-integer
    // sums) — aggregating `counts` re-derived the raw scan + groupBy a
    // second time (same fix as ksTest, r18)
    val totals = run.agg(sum(col("rn")).as("n_ref"), sum(col("cn")).as("n_cur"))
    val reduced = run
      .select(
        (col("rn") * (lit(2L) * (col("run_t") - col("t")) + col("t") + 1L)).as("__rp"),
        (col("t") * col("t") * col("t") - col("t")).as("__tp"))
      .agg(sum(col("__rp")).cast("long").as("__r2"),
        sum(col("__tp")).cast("long").as("tie_term"))
    val nn = col("n_ref") * col("n_cur")
    val bigN = (col("n_ref") + col("n_cur")).cast("double")
    val u2 = col("__r2") - col("n_ref") * (col("n_ref") + 1L)
    val variance = nn.cast("double") / 12.0 *
      (bigN + 1.0 - col("tie_term").cast("double") / (bigN * (bigN - 1.0)))
    reduced.crossJoin(broadcast(totals))
      .select(col("n_ref"), col("n_cur"), u2.as("u2_ref"), col("tie_term"),
        when(nn > 0, round(u2.cast("double") / (lit(2.0) * nn.cast("double")), 6))
          .as("auc"),
        when(nn > 0 && bigN > 1.0 && variance > 0.0,
          round((u2.cast("double") - nn.cast("double")) /
            (lit(2.0) * sqrt(variance)), 4)).as("z"))
  }

  /** Quantile treatment effect: the per-quantile gap between a
    * treatment and a control arm — where a mean difference says "the
    * average moved", the QTE curve says WHERE the distribution moved
    * (a p90-only lift is invisible to the median and vice versa).
    * Both arms' quantiles come from [[exactQuantiles]]' rank-select
    * path, so the result is the exact `quantile_cont` value at any
    * group size, never a sketch.
    *
    * Plan shape: one ranked pass over the value column with the arm
    * as the group key (two groups share the same range exchange),
    * then a ≤2·|qs|-row pivot — nothing after the rank join exceeds
    * |qs| rows.
    *
    * @param armCol 0/1 column (0 = control, 1 = treatment); rows with
    *               other values are ignored
    * @return one row per q, ordered: `q, ctrl, treat, diff` (6 dp)
    */
  def quantileTreatmentEffect(df: DataFrame, armCol: Column, valueCol: String,
                              qs: Seq[Double]): DataFrame = {
    val tagged = df.withColumn("__arm", armCol.cast("int"))
      .where(col("__arm").isin(0, 1))
    val quants = exactQuantiles(tagged, Seq("__arm"), valueCol, qs)
    quants.groupBy(col("q"))
      .agg(min(when(col("__arm") === 0, col("value"))).as("__c"),
        min(when(col("__arm") === 1, col("value"))).as("__t"))
      .select(col("q"), round(col("__c"), 6).as("ctrl"),
        round(col("__t"), 6).as("treat"),
        round(col("__t") - col("__c"), 6).as("diff"))
      .orderBy(col("q"))
  }
}
