package graft.dfw

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-engineering audits a training-data pipeline runs BEFORE it
  * trusts a table: re-identification risk (k-anonymity), join fan-out
  * profiling, snapshot diffing, and an A/B significance test. Each is
  * a pure aggregate plan — partial-agg (map-side combine) everywhere,
  * no windows over raw data, no driver-side loops — so every audit
  * scales as a single shuffle over already-reduced rows.
  */
object AuditOps {

  /** k-anonymity risk audit over a quasi-identifier (QI) tuple: for
    * each threshold k, how many QI equivalence classes hold fewer
    * than k rows, and how many rows sit in them (those rows are
    * re-identifiable to better than 1-in-k). Standard release gate
    * for user-derived training tables (Sweeney 2002 semantics).
    *
    * Plan shape: one partial-agg groupBy on the QI tuple (classes ≪
    * rows), then a ×|thresholds| explode of the CLASS table — never
    * of the data — and a second tiny aggregate. The one-row totals
    * side rides a broadcast.
    *
    * @return one row per threshold: `k, classes_at_risk,
    *         rows_at_risk, n_classes, risk_frac` (fraction of all
    *         rows at risk, 6 dp)
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[Column],
                 thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ > 1),
      s"thresholds must be > 1, got $thresholds")
    val classes = df.groupBy(qiCols: _*).agg(count(lit(1)).as("__cnt"))
    val totals = classes.agg(
      sum(col("__cnt")).as("__total"), count(lit(1)).as("n_classes"))
    classes
      .select(explode(array(thresholds.map(k => lit(k)): _*)).as("k"), col("__cnt"))
      .groupBy(col("k"))
      .agg(
        sum(when(col("__cnt") < col("k"), 1L).otherwise(0L)).as("classes_at_risk"),
        sum(when(col("__cnt") < col("k"), col("__cnt")).otherwise(0L)).as("rows_at_risk"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("classes_at_risk"), col("rows_at_risk"),
        col("n_classes"),
        round(col("rows_at_risk").cast("double") /
          col("__total").cast("double"), 6).as("risk_frac"))
      .orderBy(col("k"))
  }

  /** Join health profile for `left ⋈ right` on a key, computed
    * WITHOUT running the join: per-side row/key counts, worst key
    * multiplicity, exact inner-join output size (Σ n_l·n_r), and the
    * left-only / right-only key split. The pre-flight a pipeline runs
    * before a 100 TB join to catch fan-out explosions (a skewed key
    * whose n_l·n_r alone exceeds the cluster) while the cost is two
    * partial aggs plus a keyed join of KEY-cardinality tables.
    *
    * @return a single row: `left_rows, right_rows, left_keys,
    *         right_keys, keys_both, keys_left_only, keys_right_only,
    *         max_left_mult, max_right_mult, est_out_rows`
    */
  def joinProfile(left: DataFrame, leftKey: String,
                  right: DataFrame, rightKey: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__nl"))
    val r = right.groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__nr"))
    // coalesce every aggregate: on two EMPTY inputs the joined table
    // has zero rows and bare sum/max would report NULL, not 0 — the
    // routine-empty-input rule (DegenerateInputSpec)
    l.join(r, Seq("__k"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__nl"), lit(0L))), lit(0L)).as("left_rows"),
        coalesce(sum(coalesce(col("__nr"), lit(0L))), lit(0L)).as("right_rows"),
        coalesce(sum(when(col("__nl").isNotNull, 1L).otherwise(0L)), lit(0L)).as("left_keys"),
        coalesce(sum(when(col("__nr").isNotNull, 1L).otherwise(0L)), lit(0L)).as("right_keys"),
        coalesce(sum(when(col("__nl").isNotNull && col("__nr").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("keys_both"),
        coalesce(sum(when(col("__nr").isNull, 1L).otherwise(0L)), lit(0L)).as("keys_left_only"),
        coalesce(sum(when(col("__nl").isNull, 1L).otherwise(0L)), lit(0L)).as("keys_right_only"),
        coalesce(max(coalesce(col("__nl"), lit(0L))), lit(0L)).as("max_left_mult"),
        coalesce(max(coalesce(col("__nr"), lit(0L))), lit(0L)).as("max_right_mult"),
        coalesce(sum(when(col("__nl").isNotNull && col("__nr").isNotNull,
          col("__nl") * col("__nr")).otherwise(0L)), lit(0L)).as("est_out_rows"))
  }

  /** Welch's unequal-variance t-test between two variants of a
    * per-unit metric (the default A/B significance test when variance
    * differs across arms). One pass of conditional aggregates —
    * count/avg/var_samp FILTERed per variant — so the plan is a
    * single map-side-combined aggregate whatever the row count; the
    * t statistic and Welch–Satterthwaite df are closed-form column
    * arithmetic on that one row.
    *
    * @param variantCol integer 0/1 arm assignment (hash-bucket it
    *                   upstream with an engine-neutral key hash so an
    *                   external oracle reproduces membership)
    * @param valueCol   the per-row metric
    * @return single row: `n0, n1, mean0, mean1, var0, var1, t_stat,
    *         welch_df` (rounded 6/4 dp)
    */
  def welchTTest(df: DataFrame, variantCol: Column, valueCol: Column): DataFrame = {
    val base = df.agg(
      count(when(variantCol === 0, lit(1))).as("n0"),
      count(when(variantCol === 1, lit(1))).as("n1"),
      avg(when(variantCol === 0, valueCol)).as("__m0"),
      avg(when(variantCol === 1, valueCol)).as("__m1"),
      var_samp(when(variantCol === 0, valueCol)).as("__v0"),
      var_samp(when(variantCol === 1, valueCol)).as("__v1"))
    val se0 = col("__v0") / col("n0")
    val se1 = col("__v1") / col("n1")
    val se = se0 + se1
    base.select(
      col("n0"), col("n1"),
      round(col("__m0"), 6).as("mean0"), round(col("__m1"), 6).as("mean1"),
      round(col("__v0"), 4).as("var0"), round(col("__v1"), 4).as("var1"),
      round((col("__m1") - col("__m0")) / sqrt(se), 4).as("t_stat"),
      round((se * se) /
        (se0 * se0 / (col("n0") - 1) + se1 * se1 / (col("n1") - 1)), 2)
        .as("welch_df"))
  }

  /** Snapshot diff: classify every key across two versions of a table
    * as `added` / `removed` / `changed` / `unchanged` and roll up
    * counts + a key checksum per status — the validation a CDC or
    * backfill pipeline runs after rewriting a 100 TB table.
    *
    * Scale posture: each side is projected down to
    * `(key, xxhash64(row))` BEFORE the full-outer key join, so the
    * shuffle moves 16 bytes/row no matter how wide the table is. The
    * row fingerprint canonicalizes each compared column with an
    * explicit NULL sentinel + field separator (xxhash64/concat_ws
    * silently SKIP null fields, which would make `(null,"x")` collide
    * with `("x",null)`). Both sides hash in the same engine, so the
    * fingerprint never crosses an engine boundary; an external oracle
    * reproduces the classification from value comparisons instead.
    *
    * @return one row per present status: `status, n_keys,
    *         key_checksum` (Σ key), ordered by status
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    def fingerprint(df: DataFrame): Column = xxhash64(
      concat_ws("\u0001",
        compareCols.map(c => coalesce(df(c).cast("string"), lit("\u0002"))): _*))
    val o = oldSnap.select(col(keyCol).as("__k"), fingerprint(oldSnap).as("__ho"))
    val n = newSnap.select(col(keyCol).as("__k"), fingerprint(newSnap).as("__hn"))
    o.join(n, Seq("__k"), "full_outer")
      .withColumn("status",
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"), sum(col("__k")).as("key_checksum"))
      .orderBy(col("status"))
  }

  /** Delete-one-block jackknife standard error for the A/B
    * difference-in-means — the variance estimate large-scale
    * experimentation platforms use when units are dependent within
    * shards (delete-block beats the iid formula) and resampling must
    * be deterministic (bootstrap draws don't replay across engines;
    * leave-one-out block replicates do).
    *
    * One pass aggregates (block × arm) integer sums; every replicate
    * `θ_(b)` — the mean difference with block b's rows removed — is
    * closed-form column arithmetic on that `2B`-row table against
    * broadcast grand totals. Replicates are quantized to micro-units
    * and the jackknife variance uses the all-integer form
    * `(B−1)/B² · (B·Σθq² − (Σθq)²)`, so the output is bit-replayable
    * under any partitioning.
    *
    * @param valueCol integer metric (counts, micro-unit-quantized
    *                 reals) — exact sums are the order-independence
    *                 guarantee
    * @param blockCol block assignment 0..B−1 (hash-bucket upstream
    *                 with an engine-neutral key hash)
    * @return single row: `n_blocks, n0, n1, mean_diff` (6 dp),
    *         `se_jack` (6 dp), `z` (4 dp)
    */
  def blockJackknifeDiff(df: DataFrame, variantCol: Column, valueCol: Column,
                         blockCol: Column): DataFrame = {
    val cells = df
      .select(blockCol.as("__b"), variantCol.as("__v"), valueCol.as("__x"))
      .groupBy(col("__b"))
      .agg(sum(when(col("__v") === 0, col("__x")).otherwise(0L)).as("s0"),
        sum(when(col("__v") === 0, 1L).otherwise(0L)).as("m0"),
        sum(when(col("__v") === 1, col("__x")).otherwise(0L)).as("s1"),
        sum(when(col("__v") === 1, 1L).otherwise(0L)).as("m1"))
    val totals = cells.agg(sum(col("s0")).as("t0"), sum(col("m0")).as("n0"),
      sum(col("s1")).as("t1"), sum(col("m1")).as("n1"),
      count(lit(1)).as("n_blocks"))
    val reps = cells.join(broadcast(totals))
      .withColumn("__theta",
        (col("t1") - col("s1")).cast("double") / (col("n1") - col("m1")).cast("double") -
        (col("t0") - col("s0")).cast("double") / (col("n0") - col("m0")).cast("double"))
      .withColumn("__tq", round(col("__theta") * 1e6).cast("long"))
    reps.groupBy(col("n_blocks"), col("t0"), col("n0"), col("t1"), col("n1"))
      .agg(sum(col("__tq")).as("__sq"), sum(col("__tq") * col("__tq")).as("__sq2"))
      .withColumn("__varq",
        (col("n_blocks") - 1).cast("double") /
          (col("n_blocks") * col("n_blocks")).cast("double") *
          (col("n_blocks") * col("__sq2") - col("__sq") * col("__sq")).cast("double"))
      .withColumn("mean_diff",
        round(col("t1").cast("double") / col("n1").cast("double") -
          col("t0").cast("double") / col("n0").cast("double"), 6))
      .select(col("n_blocks"), col("n0"), col("n1"), col("mean_diff"),
        round(sqrt(col("__varq")) / 1e6, 6).as("se_jack"),
        round(col("mean_diff") / (sqrt(col("__varq")) / 1e6), 4).as("z"))
  }

  /** Gini concentration of a non-negative integer metric across units
    * (events per user, tokens per source, bytes per partition) plus
    * the top-decile share — the inequality audit that tells a corpus
    * builder whether 1% of sources dominate the data, or an ops team
    * whether one tenant is the load.
    *
    * Exact at any scale WITHOUT a per-row rank: ties contribute the
    * same Σ rank·x under any tie order, so the sorted-rank Gini
    * formula collapses onto the DISTINCT-VALUE table — one groupBy,
    * running (count, value·count) totals via
    * [[WindowOps.prefixSumScalable]], and per-distinct-value closed
    * forms (`x·(cnt·R + cnt(cnt+1)/2)` in DECIMAL — exact and
    * order-free where a double sum would leak partition layout). The
    * top-decile cut lands inside a tie group in general; the bracket
    * row's linear interpolation `run_vs − x·(run_cnt − r90)` is exact
    * there because all straddling units hold the same x.
    *
    * @param valueCol non-negative integer metric per row (one row =
    *                 one unit)
    * @return single row: `n, total, gini` (6 dp),
    *         `top10_share` (6 dp; share of `total` held by the
    *         largest ⌈n/10⌉ units)
    */
  def giniConcentration(df: DataFrame, valueCol: Column): DataFrame = {
    val vals = df.select(valueCol.cast("long").as("__x")).where(col("__x").isNotNull)
    val counts = vals.groupBy(col("__x")).agg(count(lit(1)).as("__cnt"))
    val run = WindowOps.prefixSumScalable(counts, col("__x"),
      Seq("cnt" -> col("__cnt"), "vs" -> (col("__x") * col("__cnt"))))
    // totals from the FROZEN prefix-sum output (identical exact-integer
    // sums) — aggregating `counts` re-derived the raw scan + both
    // groupBys a second time (same fix as QuantileOps.ksTest, r18)
    val totals = run.agg(sum(col("__cnt")).as("n"),
      sum(col("__x") * col("__cnt")).as("total"))
    val rankSum = run.select(
        (col("__x").cast("decimal(38,0)") *
          (col("__cnt") * (col("run_cnt") - col("__cnt")) +
            expr("__cnt * (__cnt + 1) div 2"))).as("__c"))
      .agg(sum(col("__c")).as("__c2"))
    val bracket = run.join(broadcast(totals))
      .withColumn("__r90", col("n") - expr("n div 10"))
      .filter(col("run_cnt") - col("__cnt") < col("__r90") &&
        col("run_cnt") >= col("__r90"))
      .select((col("run_vs") - col("__x") * (col("run_cnt") - col("__r90"))).as("__vs_at"))
    totals.crossJoin(broadcast(rankSum)).crossJoin(broadcast(bracket))
      .select(col("n"), col("total"),
        round((col("__c2") * 2 - (col("n") + 1).cast("decimal(38,0)") * col("total"))
          .cast("double") /
          (col("n").cast("double") * col("total").cast("double")), 6).as("gini"),
        round((col("total") - col("__vs_at")).cast("double") /
          col("total").cast("double"), 6).as("top10_share"))
  }

  /** Benford first-digit audit: the observed leading-digit spectrum of
    * a positive amount column vs Benford's law `p(d) = log10(1+1/d)`,
    * with per-digit chi-squared contributions — the classic
    * fabricated-data / synthetic-column screen for financial and
    * measurement fields (naturally-grown magnitudes follow Benford;
    * hand-typed or uniformly-generated ones don't).
    *
    * The leading digit is extracted in exact integer space (amount →
    * cents → first character of the decimal rendering — scale-
    * invariant, and both engines render integers identically;
    * a float log10 at a power-of-10 boundary could round either way).
    * One partial-agg groupBy to 9 rows; expectations and χ²
    * contributions are per-row IEEE arithmetic on those exact counts.
    *
    * @return one row per digit 1-9: `digit, cnt, obs_ppm, exp_ppm,
    *         chi2_q` (round of the digit's (O−E)²/E · 1e6)
    */
  def benfordAudit(df: DataFrame, amountCol: Column): DataFrame = {
    val digits = df
      .select((amountCol.cast("double") * 100).as("__cents"))
      .where(col("__cents") > 0)
      .select(substring(round(col("__cents")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val total = digits.agg(sum(col("cnt")).as("__t"))
    digits.crossJoin(broadcast(total))
      .withColumn("__p",
        log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
      .withColumn("__e", col("__t").cast("double") * col("__p"))
      .select(col("digit"), col("cnt"),
        expr("cnt * 1000000 div __t").as("obs_ppm"),
        round(col("__p") * 1e6).cast("long").as("exp_ppm"),
        round((col("cnt").cast("double") - col("__e")) *
          (col("cnt").cast("double") - col("__e")) / col("__e") * 1e6)
          .cast("long").as("chi2_q"))
      .orderBy(col("digit"))
  }

  /** Pairwise z-tests across MANY experiment arms with a
    * caller-supplied (Bonferroni-adjusted) critical value — real
    * experiments run k variants, and reading k·(k−1)/2 uncorrected
    * pairwise tests is the classic false-positive factory this op
    * makes explicit.
    *
    * Determinism: per-arm n/Σx/Σx² are exact int64 aggregates; means,
    * variances (n·Σx²−(Σx)² over n(n−1)) and z are single double
    * expressions over those sums, rounded. The significance flag
    * compares |z| to `zCrit` — pass the Bonferroni value for your α
    * and pair count (e.g. α=0.05, 6 pairs → Φ⁻¹(1−0.05/12) ≈ 2.6383).
    *
    * Plan shape: ONE map-side-combinable aggregate to k rows, then a
    * k×k self-join of that tiny table (a.variant < b.variant) —
    * nothing pairwise ever touches unit-level data.
    *
    * @return one row per ordered pair: `variant_a, variant_b, n_a,
    *         n_b, mean_a, mean_b, z, significant`, ordered by (a, b)
    */
  def pairwiseZTests(df: DataFrame, variantCol: Column, valueCol: Column,
                     zCrit: Double): DataFrame = {
    val x = valueCol.cast("long")
    val arms = df.groupBy(variantCol.as("v"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
    def mean(p: String) = col(s"${p}sx").cast("double") / col(s"${p}n").cast("double")
    def variance(p: String) =
      (col(s"${p}n") * col(s"${p}sxx") - col(s"${p}sx") * col(s"${p}sx")).cast("double") /
        (col(s"${p}n").cast("double") * (col(s"${p}n") - 1).cast("double"))
    val a = arms.select(col("v").as("variant_a"), col("n").as("a_n"),
      col("sx").as("a_sx"), col("sxx").as("a_sxx"))
    val b = arms.select(col("v").as("variant_b"), col("n").as("b_n"),
      col("sx").as("b_sx"), col("sxx").as("b_sxx"))
    val z = (mean("b_") - mean("a_")) /
      sqrt(variance("a_") / col("a_n") + variance("b_") / col("b_n"))
    a.join(b, col("variant_a") < col("variant_b"))
      .select(col("variant_a"), col("variant_b"),
        col("a_n").as("n_a"), col("b_n").as("n_b"),
        round(mean("a_"), 6).as("mean_a"), round(mean("b_"), 6).as("mean_b"),
        round(z, 4).as("z"),
        (abs(z) > zCrit).as("significant"))
      .orderBy(col("variant_a"), col("variant_b"))
  }

  /** Pairwise Pearson correlation matrix over integer metric columns
    * — the feature-redundancy screen before model training ("clicks
    * and views are 0.98 correlated, drop one"). ONE aggregation pass
    * computes every pairwise cross-sum together; each r is then a
    * single double expression over exact int64 sums, rounded — the
    * [[graft.dfw.TimeSeriesOps.trendOls]] discipline, k(k−1)/2-wide.
    *
    * @return one row per unordered pair: `col_a, col_b, n, r` (null
    *         for a constant column), ordered by (col_a, col_b)
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = count(lit(1)).as("__n") +:
      (cols.flatMap(c => Seq(
        sum(col(c).cast("long")).as(s"__s_$c"),
        sum(col(c).cast("long") * col(c).cast("long")).as(s"__ss_$c"))) ++
        pairs.map { case (a, bc) =>
          sum(col(a).cast("long") * col(bc).cast("long")).as(s"__p_${a}_$bc")
        })
    val one = df.agg(aggs.head, aggs.tail: _*)
    pairs.map { case (a, bc) =>
      val dxx = col("__n") * col(s"__ss_$a") - col(s"__s_$a") * col(s"__s_$a")
      val dyy = col("__n") * col(s"__ss_$bc") - col(s"__s_$bc") * col(s"__s_$bc")
      val dxy = col("__n") * col(s"__p_${a}_$bc") - col(s"__s_$a") * col(s"__s_$bc")
      one.select(lit(a).as("col_a"), lit(bc).as("col_b"), col("__n").as("n"),
        when(dxx =!= 0 && dyy =!= 0, round(
          dxy.cast("double") / sqrt(dxx.cast("double") * dyy.cast("double")), 6))
          .as("r"))
    }.reduce(_ unionByName _).orderBy(col("col_a"), col("col_b"))
  }

  /** Column-profile diff between two versions of a table: per numeric
    * column, row count, null count, exact distinct count, and min/max
    * on each side — the COLUMN-level companion to the ROW-level
    * [[snapshotDiff]], and the check a backfill runs before swapping a
    * rewritten 100 TB table in ("did the rewrite shift a
    * distribution?").
    *
    * Determinism: counts and distincts are exact integers; min/max
    * are SELECTIONS (never sums), so the doubles are bit-exact in any
    * engine and shuffle order. One aggregation pass per side computes
    * every column's metrics together (no per-column scans); the two
    * 1-row profiles cross-join and unpivot to one row per column.
    * N-column distinct counts expand the aggregate N-fold — the known
    * cost of exact profiling; swap `countDistinct` for HLL sketches
    * past profiling-budget scale (the [[graft.llm.SketchOps]]
    * posture).
    *
    * @return one row per profiled column: `col_name, n_old, n_new,
    *         nulls_old, nulls_new, distinct_old, distinct_new,
    *         min_old, min_new, max_old, max_new`, ordered by col_name
    */
  def profileDiff(oldSnap: DataFrame, newSnap: DataFrame,
                  cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    def profile(df: DataFrame, tag: String): DataFrame = {
      val aggs = count(lit(1)).as(s"__n_$tag") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_${tag}_$c"),
        countDistinct(col(c)).as(s"__d_${tag}_$c"),
        min(col(c).cast("double")).as(s"__min_${tag}_$c"),
        max(col(c).cast("double")).as(s"__max_${tag}_$c")))
      df.agg(aggs.head, aggs.tail: _*)
    }
    val joined = profile(oldSnap, "o").crossJoin(broadcast(profile(newSnap, "n")))
    cols.map { c =>
      joined.select(lit(c).as("col_name"),
        col("__n_o").as("n_old"), col("__n_n").as("n_new"),
        col(s"__null_o_$c").as("nulls_old"), col(s"__null_n_$c").as("nulls_new"),
        col(s"__d_o_$c").as("distinct_old"), col(s"__d_n_$c").as("distinct_new"),
        col(s"__min_o_$c").as("min_old"), col(s"__min_n_$c").as("min_new"),
        col(s"__max_o_$c").as("max_old"), col(s"__max_n_$c").as("max_new"))
    }.reduce(_ unionByName _).orderBy(col("col_name"))
  }

  /** Classifier-score calibration audit: reliability bins + expected
    * calibration error + Brier score — the check a curation pipeline
    * runs before gating documents on a quality-classifier probability
    * ("does score 0.8 actually mean 80%?").
    *
    * Determinism: bucket assignment is `min(nb−1, floor(score·nb))`
    * (IEEE ops in fixed order); per-bin mean prediction and observed
    * rate come from integer-division ppm over exact counts and
    * micro-quantized score sums; ECE is an integer expression
    * (Σ n·|pred−obs| over bins, div N) and the Brier numerator
    * quantizes each (score−y)² to micro-units BEFORE summing. No
    * bare float aggregate crosses an engine boundary.
    *
    * Plan shape: one ≤nb-key hash aggregate over the scored rows
    * (map-side combinable), then bin-level arithmetic on ≤nb rows
    * with the 1-row totals broadcast back. Empty bins are omitted
    * (a reliability diagram plots observed bins).
    *
    * @param scoreCol predicted probability in [0,1]
    * @param labelCol binary outcome (0/1)
    * @return one row per non-empty bin: `bucket, n, n_pos,
    *         mean_pred_ppm, obs_ppm, ece_ppm, brier_ppm` (the last
    *         two global, repeated per row), ordered by bucket
    */
  def calibrationAudit(df: DataFrame, scoreCol: Column, labelCol: Column,
                       nb: Int = 10): DataFrame = {
    require(nb >= 1, "need at least one bin")
    val s = scoreCol.cast("double")
    val y = labelCol.cast("long")
    val base = df.select(
      least(lit(nb - 1).cast("long"), floor(s * nb).cast("long")).as("bucket"),
      y.as("__y"),
      round(s * 1000000).cast("long").as("__sq"),
      round((s - y.cast("double")) * (s - y.cast("double")) * 1000000)
        .cast("long").as("__bq"))
    val bins = base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__sq")).as("__ssq"), sum(col("__bq")).as("__sbq"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("__ssq div n").as("mean_pred_ppm"),
        expr("n_pos * 1000000 div n").as("obs_ppm"),
        col("__sbq"))
    val totals = bins.agg(sum(col("n")).as("__N"),
      sum(col("n") * abs(col("mean_pred_ppm") - col("obs_ppm"))).as("__eceN"),
      sum(col("__sbq")).as("__brierN"))
    bins.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n"), col("n_pos"),
        col("mean_pred_ppm"), col("obs_ppm"),
        expr("__eceN div __N").as("ece_ppm"),
        expr("__brierN div __N").as("brier_ppm"))
      .orderBy(col("bucket"))
  }

  /** Cohen's kappa between two categorical raters — chance-corrected
    * inter-annotator agreement, the acceptance gate for labeled
    * training data (κ > 0.6 substantial, > 0.8 near-perfect).
    *
    * Determinism: observed agreement and both marginal count tables
    * are exact integer aggregates; the expected-agreement numerator
    * Σ_k n1_k·n2_k accumulates in DECIMAL(38,0) (the per-category
    * product overflows int64 once both marginals pass ~3·10⁹ — real
    * at 100 TB row counts); p_o/p_e/κ are single double expressions
    * over those exact values, rounded.
    *
    * Plan shape: one unkeyed count pass and two category-keyed
    * aggregates (≤ |label vocabulary| rows) inner-joined on category
    * (a category one rater never uses contributes 0 to p_e exactly as
    * the formula says); everything after the three aggregates is
    * ≤vocab-row arithmetic.
    *
    * @return one row: `n, n_agree, po, pe, kappa` (doubles rounded 6)
    */
  def cohenKappa(df: DataFrame, rater1: Column, rater2: Column): DataFrame = {
    val tot = df.agg(count(lit(1)).as("__n"),
      sum(when(rater1 === rater2, 1L).otherwise(0L)).as("__agree"))
    val m1 = df.groupBy(rater1.as("cat")).agg(count(lit(1)).as("__n1"))
    val m2 = df.groupBy(rater2.as("cat")).agg(count(lit(1)).as("__n2"))
    val pev = m1.join(m2, "cat")
      .agg(sum(col("__n1").cast("decimal(38,0)") * col("__n2")).as("__pev"))
    val po = col("__agree").cast("double") / col("__n").cast("double")
    val pe = col("__pev").cast("double") /
      (col("__n").cast("double") * col("__n").cast("double"))
    tot.crossJoin(broadcast(pev))
      .select(col("__n").as("n"), col("__agree").as("n_agree"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        when(pe =!= 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** CUPED variance-reduced A/B comparison (Deng et al., WSDM 2013):
    * adjust each arm's post-period mean with the pooled pre-period
    * covariate, Y_adj = Ȳ_arm − θ·(X̄_arm − X̄), where
    * θ = cov(X,Y)/var(X) over ALL units. The experimentation-platform
    * companion to [[welchTTest]] — same metric, tighter confidence.
    *
    * Determinism: X and Y must be exact integers (counts or quantized
    * metrics); the five pooled cross-sums and the per-arm sums all
    * accumulate in int64 (associative), and θ / ρ² / the adjusted
    * means are single double expressions over those exact sums,
    * rounded. ρ² is the achieved variance-reduction fraction.
    *
    * Plan shape: TWO aggregations over the unit table — one unkeyed
    * (pooled, 1 row, broadcast back) and one keyed by arm (≤ #arms
    * rows) — both map-side combinable; no joins over unit-level data.
    * Degenerate pre-period (var(X)=0) leaves θ=0 so the adjustment is
    * a no-op rather than a NaN.
    *
    * @return one row per arm: `variant, n, mean_pre, mean_y,
    *         mean_y_adj, theta, rho2` (pooled θ/ρ² repeated per row)
    */
  def cupedAdjust(df: DataFrame, variantCol: Column, preCol: Column,
                  postCol: Column): DataFrame = {
    val x = preCol.cast("long")
    val y = postCol.cast("long")
    val pooled = df.agg(
      count(lit(1)).as("__pn"),
      sum(x).as("__psx"), sum(y).as("__psy"),
      sum(x * y).as("__psxy"), sum(x * x).as("__psxx"),
      sum(y * y).as("__psyy"))
    val arms = df.groupBy(variantCol.as("variant"))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"))
    val dxx = col("__pn") * col("__psxx") - col("__psx") * col("__psx")
    val dyy = col("__pn") * col("__psyy") - col("__psy") * col("__psy")
    val dxy = col("__pn") * col("__psxy") - col("__psx") * col("__psy")
    val theta = when(dxx =!= 0, dxy.cast("double") / dxx.cast("double"))
      .otherwise(lit(0.0))
    val meanPre = col("__sx").cast("double") / col("n").cast("double")
    val meanY = col("__sy").cast("double") / col("n").cast("double")
    val pooledMeanPre = col("__psx").cast("double") / col("__pn").cast("double")
    arms.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n"),
        round(meanPre, 6).as("mean_pre"),
        round(meanY, 6).as("mean_y"),
        round(meanY - theta * (meanPre - pooledMeanPre), 6).as("mean_y_adj"),
        round(theta, 6).as("theta"),
        when(dxx =!= 0 && dyy =!= 0, round(
          dxy.cast("double") * dxy.cast("double")
            / (dxx.cast("double") * dyy.cast("double")), 6))
          .otherwise(lit(0.0)).as("rho2"))
      .orderBy(col("variant"))
  }

  /** Poisson(1) inverse-CDF thresholds in ppm: a uniform draw
    * u ∈ [0, 1e6) maps to the weight k whose cumulative probability
    * first exceeds it. Shared constants between the Spark plan and
    * any SQL oracle — the whole bootstrap is deterministic integer
    * arithmetic on top of them.
    */
  private val PoissonPpmThresholds: Seq[(Int, Int)] = Seq(
    367879 -> 0, 735759 -> 1, 919699 -> 2, 981012 -> 3,
    996340 -> 4, 999406 -> 5, 999917 -> 6, 999990 -> 7)

  private def poissonWeight(uPpm: Column): Column =
    PoissonPpmThresholds.foldRight(lit(8): Column) { case ((thr, k), rest) =>
      when(uPpm < thr, lit(k)).otherwise(rest)
    }

  /** Poisson bootstrap for the mean — the resampling scheme that
    * actually distributes (Chamandy et al., "Estimating uncertainty
    * for massive data streams", Google 2012): instead of drawing R
    * resamples WITH replacement (impossible without materializing the
    * data R times or coordinating a global multinomial), every row
    * independently draws R Poisson(1) weights, and each replicate's
    * mean is a weighted aggregate. Resample r never exists as data —
    * only as R running (Σwx, Σw) partials.
    *
    * Plan shape: the ×R explode feeds straight into a hash aggregate
    * keyed by replicate id, so partial aggregation collapses every
    * partition to ≤ R rows before the shuffle — the shuffle carries
    * R·partitions tiny rows no matter how big the input. The R-row
    * replicate table then takes one bounded-by-construction window
    * (nearest-rank CI) and a one-row reduce.
    *
    * Determinism: weights come from md5(key:rep) mod 1e6 against
    * fixed ppm thresholds — integer-exact in any engine with md5();
    * values quantize to micro-units before summation, replicate means
    * re-quantize after the (exact-integer) division, and the CI picks
    * quantized means by rank, so the entire output replays
    * bit-identically. Replicate-mean second moments promote to
    * decimal(38,0) (micro-unit squares overflow int64).
    *
    * @param keyCol unique row key (drives the per-row randomness)
    * @param reps   number of replicates (R ≈ 200 gives stable 95% CIs)
    * @param hash   (key:rep)-string → 64-bit hash. Default is the
    *               engine-neutral md5 form (oracle-replayable); pass
    *               `xxhash64(_)` in production — the md5 per
    *               (row × rep) dominates the runtime, xxhash64 is
    *               ~5× cheaper with the same statistics
    * @return single row: `n, reps_used, mean, se_boot, ci_lo, ci_hi`
    *         (nearest-rank 2.5%/97.5% of replicate means, 6 dp)
    */
  def poissonBootstrapMean(df: DataFrame, keyCol: Column, valueCol: Column,
                           reps: Int = 200,
                           hash: Column => Column =
                             graft.llm.DedupOps.md5TokenHash,
                           pairHash: Option[(Column, Column) => Column] = None)
      : DataFrame = {
    require(reps >= 40, s"need >= 40 replicates for a 95% CI, got $reps")
    // spread the ×R explode: a single-file input would otherwise run
    // the whole weight stream in one or two tasks (the explode
    // multiplies WORK but not PARTITIONS); one round-robin shuffle of
    // the raw rows is noise next to R× the hash work
    //
    // randomness source: `pairHash` (production — hash the RAW key and
    // the replicate id natively, e.g. `(k, r) => xxhash64(k, r)`, no
    // string conversion, no md5) beats `hash` over the concatenated
    // "key:rep" string (the engine-neutral md5 anchor every external
    // SQL engine replays; q_bootstrap_ci keeps it under the oracle,
    // q_bootstrap_ci_prod pins the xxhash64 form via a DuckDB XXH64
    // replica — both hash-exact)
    val base = df
      .select((if (pairHash.isDefined) keyCol else keyCol.cast("string")).as("__k"),
        round(valueCol.cast("double") * 1e6).cast("long").as("__xq"))
      .where(col("__xq").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val totals = base.agg(count(lit(1)).as("n"), sum(col("__xq")).as("__sx"))
    val repMeans = base
      .select(col("__k"), col("__xq"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("__u", pmod(
        pairHash.map(ph => ph(col("__k"), col("rep").cast("long")))
          .getOrElse(hash(concat(col("__k"), lit(":"), col("rep")))),
        lit(1000000L)))
      .withColumn("__w", poissonWeight(col("__u")).cast("long"))
      .groupBy(col("rep"))
      .agg(sum(col("__w") * col("__xq")).as("__swx"), sum(col("__w")).as("__sw"))
      .where(col("__sw") > 0)
      .select(col("rep"),
        round(col("__swx").cast("double") / col("__sw").cast("double"))
          .cast("long").as("__mq"))
    // R rows from here on: the single-partition window is bounded by
    // construction (|reps|), same discipline as the fold/grid tables
    val ranked = repMeans
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__mq"), col("rep"))))
    val rStats = ranked.agg(
      count(lit(1)).as("reps_used"),
      sum(col("__mq")).cast("decimal(38,0)").as("__s1"),
      sum(col("__mq").cast("decimal(38,0)") * col("__mq").cast("decimal(38,0)"))
        .as("__s2"))
    val bounds = rStats.select(col("reps_used"), col("__s1"), col("__s2"),
      ceil(col("reps_used") * 0.025).cast("long").as("__rlo"),
      ceil(col("reps_used") * 0.975).cast("long").as("__rhi"))
    val ci = ranked.join(broadcast(bounds),
        col("__r") === col("__rlo") || col("__r") === col("__rhi"))
      .groupBy(col("reps_used"), col("__s1"), col("__s2"))
      .agg(min(when(col("__r") === col("__rlo"), col("__mq"))).as("__lo"),
        min(when(col("__r") === col("__rhi"), col("__mq"))).as("__hi"))
    val r = col("reps_used").cast("double")
    val varNum = (col("__s2") * col("reps_used") - col("__s1") * col("__s1"))
      .cast("double")
    // totals LEFT JOIN ci (both ≤1 row): when every replicate drops
    // (or the input is empty) the contract still returns ONE row with
    // n populated and null CI columns, instead of silently vanishing
    totals.join(broadcast(ci), lit(true), "left")
      .select(col("n"), coalesce(col("reps_used"), lit(0L)).as("reps_used"),
        round(col("__sx").cast("double") / 1e6 /
          when(col("n") > 0, col("n").cast("double")), 6).as("mean"),
        when(col("reps_used") > 1,
          round(sqrt(varNum / (r * (r - 1.0))) / 1e6, 6)).as("se_boot"),
        round(col("__lo").cast("double") / 1e6, 6).as("ci_lo"),
        round(col("__hi").cast("double") / 1e6, 6).as("ci_hi"))
  }

  /** Minimum detectable effect (MDE) at 80% power / 5% two-sided α,
    * per group — the experiment-DESIGN half of the A/B toolkit (the
    * tests above answer "did it move"; this answers "how small a move
    * could next week's test even see"). Classic two-sample normal
    * approximation: MDE = (z_{α/2} + z_β) · σ · √(2/n) with n the
    * per-arm size a 50/50 split of the group would give.
    *
    * One partial-agg pass of exact integer moments per group; σ and
    * the MDE are a fixed IEEE sequence over those integers. Constants
    * 1.96 / 0.8416 are the standard rounded normal quantiles, shared
    * with any replaying engine.
    *
    * @param valueQ integer metric column (quantize upstream)
    * @return per group: `n, n_per_arm, mean, sd, mde_abs` (6 dp),
    *         `mde_rel_ppm` (vs the mean; NULL when mean is 0),
    *         ordered by group
    */
  def minDetectableEffect(df: DataFrame, groupCol: Column,
                          valueQ: Column): DataFrame = {
    val x = valueQ.cast("long")
    val z = 1.96 + 0.8416
    val stats = df.groupBy(groupCol.as("grp"))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"),
        sum(x.cast("decimal(38,0)") * x.cast("decimal(38,0)")).as("__sxx"))
    val nD = col("n").cast("double")
    val mean = col("__sx").cast("double") / nD
    val sd = when(col("n") > 1,
      sqrt((col("__sxx") * col("n") - col("__sx").cast("decimal(38,0)")
        * col("__sx").cast("decimal(38,0)")).cast("double") /
        (nD * (nD - 1.0))))
    val nArm = (col("n") / lit(2L)).cast("long")
    val mde = when(nArm > 0, lit(z) * sd * sqrt(lit(2.0) / nArm.cast("double")))
    stats.select(col("grp"), col("n"), nArm.as("n_per_arm"),
      round(mean, 6).as("mean"), round(sd, 6).as("sd"),
      round(mde, 6).as("mde_abs"),
      when(col("__sx") > 0, round(mde / mean * 1e6).cast("long"))
        .as("mde_rel_ppm"))
      .orderBy(col("grp"))
  }

  /** Sample-ratio-mismatch (SRM) check — the first A/B diagnostic a
    * real experimentation platform runs: if the observed arm split
    * deviates from the DESIGNED split, every downstream test on that
    * experiment is suspect (broken assignment, biased logging,
    * bot filtering hitting one arm). One-dof chi-squared of observed
    * (n_a, n_b) against the expected ratio; alarm at the
    * conventional p < 0.001 (χ² > 10.8276) — SRM checks run on every
    * experiment every day, so a 0.05 alarm would page constantly.
    *
    * One partial-agg pass; the statistic is a fixed IEEE sequence
    * over two exact integer counts.
    *
    * @param isArmA       assignment predicate (NULL rows count as B)
    * @param expectedAPpm designed share of arm A in ppm (500000 =
    *                     50/50)
    * @return single row: `n, n_a, n_b, expected_a_ppm,
    *         observed_a_ppm, chi2` (4 dp), `srm` (p < 0.001 flag)
    */
  def sampleRatioCheck(df: DataFrame, isArmA: Column,
                       expectedAPpm: Long): DataFrame = {
    require(expectedAPpm > 0 && expectedAPpm < 1000000,
      s"expected share must be in (0, 1e6) ppm, got $expectedAPpm")
    val counts = df
      .agg(count(lit(1)).as("n"),
        sum(when(isArmA, 1L).otherwise(0L)).as("n_a"))
      .withColumn("n_b", col("n") - col("n_a"))
    val ea = col("n").cast("double") * (expectedAPpm / 1e6)
    val eb = col("n").cast("double") * ((1000000 - expectedAPpm) / 1e6)
    val chi2 = (col("n_a").cast("double") - ea) * (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) * (col("n_b").cast("double") - eb) / eb
    counts.select(col("n"), col("n_a"), col("n_b"),
      lit(expectedAPpm).as("expected_a_ppm"),
      when(col("n") > 0, expr("(n_a * 1000000) div n")).as("observed_a_ppm"),
      when(col("n") > 0, round(chi2, 4)).as("chi2"),
      when(col("n") > 0, chi2 > 10.8276).as("srm"))
  }

  /** Partition-skew audit over a layout key (ingest day, tenant,
    * shard): per-key row counts reduced to the skew summary a
    * capacity planner reads before the key becomes a partition
    * column — `skew_ppm = max·k·1e6 div total` (max/avg on the exact
    * integer grid; 1e6 = perfectly uniform). One partial-agg groupBy
    * to key cardinality, one one-row reduce, an argmax for the
    * heaviest key.
    *
    * @return single row: `n_keys, total_rows, min_rows, max_rows,
    *         skew_ppm, heaviest_key` (smallest key attaining max)
    */
  def partitionSkew(df: DataFrame, keyCol: Column): DataFrame = {
    val perKey = df.groupBy(keyCol.cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
    perKey.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("total_rows"),
      min(col("c")).as("min_rows"), max(col("c")).as("max_rows"),
      min_by(col("k"), struct(-col("c"), col("k"))).as("heaviest_key"))
      .select(col("n_keys"), col("total_rows"), col("min_rows"),
        col("max_rows"),
        expr("(max_rows * n_keys * 1000000) div total_rows").as("skew_ppm"),
        col("heaviest_key"))
  }

  /** [[poissonBootstrapMean]] for a RATIO metric (CTR, conversion,
    * revenue-per-session): the estimand is Σnum/Σden across units, a
    * ratio of two correlated sums whose naive per-unit variance is
    * simply wrong (units are the resampling grain, not impressions).
    * The bootstrap is the standard answer; the Poisson form makes it
    * distribute: each replicate is a pair of weighted sums, never
    * materialized data.
    *
    * Same determinism contract as the mean form: md5(key:rep)
    * weights, micro-unit quantization, exact-integer replicate sums,
    * nearest-rank CI on the quantized replicate ratios. Replicates
    * with a zero weighted denominator drop (reported via reps_used).
    *
    * @return single row: `n, reps_used, ratio, se_boot, ci_lo, ci_hi`
    *         (6 dp)
    */
  /** Poisson bootstrap CI for the DIFFERENCE of arm means — the
    * statistic an experiment platform actually ships (the per-arm CIs
    * of [[poissonBootstrapMean]] don't subtract: arm means are
    * correlated through the shared resample). Each resampling unit
    * (user) draws one Poisson(1) weight per replicate — the SAME
    * weight whichever arm it belongs to — and replicate r's statistic
    * is weightedMean(A) − weightedMean(B), never materialized as data:
    * one groupBy(rep) holding four running sums.
    *
    * Same determinism contract as the siblings: weights from
    * md5("key:rep") (`hash`, the engine-neutral anchor) or the
    * production `pairHash` (e.g. `(k, r) => xxhash64(k, r)` — raw key,
    * no string conversion; the DuckDB XXH64 replica keeps it
    * oracle-exact). Arm means quantize to micro-units before the
    * subtraction, so every replicate diff is an exact integer and the
    * nearest-rank CI replays bit-identically.
    *
    * @param isArmA arm assignment predicate over a resampling unit
    *               (rows with NULL assignment or value are dropped)
    * @return single row: `n, n_a, n_b, reps_used, mean_a, mean_b,
    *         diff, se_boot, ci_lo, ci_hi` (6 dp; nearest-rank
    *         2.5%/97.5% of replicate diffs)
    */
  def poissonBootstrapDiff(df: DataFrame, keyCol: Column, isArmA: Column,
                           valueCol: Column, reps: Int = 200,
                           hash: Column => Column =
                             graft.llm.DedupOps.md5TokenHash,
                           pairHash: Option[(Column, Column) => Column] = None)
      : DataFrame = {
    require(reps >= 40, s"need >= 40 replicates for a 95% CI, got $reps")
    val base = df
      .select((if (pairHash.isDefined) keyCol else keyCol.cast("string")).as("__k"),
        isArmA.cast("boolean").as("__a"),
        round(valueCol.cast("double") * 1e6).cast("long").as("__xq"))
      .where(col("__xq").isNotNull && col("__a").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val totals = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__a"), col("__xq")).otherwise(0L)).as("__sxa"),
      sum(when(!col("__a"), col("__xq")).otherwise(0L)).as("__sxb"))
    val repDiffs = base
      .select(col("__k"), col("__a"), col("__xq"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("__u", pmod(
        pairHash.map(ph => ph(col("__k"), col("rep").cast("long")))
          .getOrElse(hash(concat(col("__k"), lit(":"), col("rep")))),
        lit(1000000L)))
      .withColumn("__w", poissonWeight(col("__u")).cast("long"))
      .groupBy(col("rep"))
      .agg(sum(when(col("__a"), col("__w") * col("__xq")).otherwise(0L)).as("__swxa"),
        sum(when(col("__a"), col("__w")).otherwise(0L)).as("__swa"),
        sum(when(!col("__a"), col("__w") * col("__xq")).otherwise(0L)).as("__swxb"),
        sum(when(!col("__a"), col("__w")).otherwise(0L)).as("__swb"))
      .where(col("__swa") > 0 && col("__swb") > 0)
      .select(col("rep"),
        (round(col("__swxa").cast("double") / col("__swa").cast("double")).cast("long")
          - round(col("__swxb").cast("double") / col("__swb").cast("double")).cast("long"))
          .as("__dq"))
    val ranked = repDiffs.withColumn("__r", row_number().over(
      Window.orderBy(col("__dq"), col("rep"))))
    val rStats = ranked.agg(
      count(lit(1)).as("reps_used"),
      sum(col("__dq")).cast("decimal(38,0)").as("__s1"),
      sum(col("__dq").cast("decimal(38,0)") * col("__dq").cast("decimal(38,0)"))
        .as("__s2"))
    val bounds = rStats.select(col("reps_used"), col("__s1"), col("__s2"),
      ceil(col("reps_used") * 0.025).cast("long").as("__rlo"),
      ceil(col("reps_used") * 0.975).cast("long").as("__rhi"))
    val ci = ranked.join(broadcast(bounds),
        col("__r") === col("__rlo") || col("__r") === col("__rhi"))
      .groupBy(col("reps_used"), col("__s1"), col("__s2"))
      .agg(min(when(col("__r") === col("__rlo"), col("__dq"))).as("__lo"),
        min(when(col("__r") === col("__rhi"), col("__dq"))).as("__hi"))
    val r = col("reps_used").cast("double")
    val varNum = (col("__s2") * col("reps_used") - col("__s1") * col("__s1"))
      .cast("double")
    // NULL (not zero) divisors: same ANSI/codegen-hoist discipline as
    // msprtDiff — the output guards can't save a division the codegen
    // hoists out of the `when`
    val na = when(col("n_a") > 0, col("n_a").cast("double"))
    val nb = when(col("n") - col("n_a") > 0, (col("n") - col("n_a")).cast("double"))
    val ma = col("__sxa").cast("double") / 1e6 / na
    val mb = col("__sxb").cast("double") / 1e6 / nb
    // totals LEFT JOIN ci (both ≤1 row): an empty arm (or all
    // replicates failing the __swa>0 && __swb>0 filter) empties `ci`,
    // and the old crossJoin erased n/n_a/n_b with it — the documented
    // contract is one row with counts populated and null CI columns
    totals.join(broadcast(ci), lit(true), "left")
      .select(col("n"), col("n_a"), (col("n") - col("n_a")).as("n_b"),
        coalesce(col("reps_used"), lit(0L)).as("reps_used"),
        round(ma, 6).as("mean_a"),
        round(mb, 6).as("mean_b"),
        round(ma - mb, 6).as("diff"),
        when(col("reps_used") > 1,
          round(sqrt(varNum / (r * (r - 1.0))) / 1e6, 6)).as("se_boot"),
        round(col("__lo").cast("double") / 1e6, 6).as("ci_lo"),
        round(col("__hi").cast("double") / 1e6, 6).as("ci_hi"))
  }

  def poissonBootstrapRatio(df: DataFrame, keyCol: Column, numCol: Column,
                            denCol: Column, reps: Int = 200,
                            hash: Column => Column =
                              graft.llm.DedupOps.md5TokenHash,
                            pairHash: Option[(Column, Column) => Column] = None)
      : DataFrame = {
    require(reps >= 40, s"need >= 40 replicates for a 95% CI, got $reps")
    // randomness source: see poissonBootstrapMean — `pairHash` is the
    // production form (raw key + rep), `hash` the md5 string anchor
    val base = df
      .select((if (pairHash.isDefined) keyCol else keyCol.cast("string")).as("__k"),
        coalesce(round(numCol.cast("double") * 1e6).cast("long"), lit(0L)).as("__xq"),
        coalesce(round(denCol.cast("double") * 1e6).cast("long"), lit(0L)).as("__yq"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val totals = base.agg(count(lit(1)).as("n"),
      sum(col("__xq")).as("__sx"), sum(col("__yq")).as("__sy"))
    val repRatios = base
      .select(col("__k"), col("__xq"), col("__yq"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("__u", pmod(
        pairHash.map(ph => ph(col("__k"), col("rep").cast("long")))
          .getOrElse(hash(concat(col("__k"), lit(":"), col("rep")))),
        lit(1000000L)))
      .withColumn("__w", poissonWeight(col("__u")).cast("long"))
      .groupBy(col("rep"))
      .agg(sum(col("__w") * col("__xq")).as("__swx"),
        sum(col("__w") * col("__yq")).as("__swy"))
      .where(col("__swy") > 0)
      .select(col("rep"),
        round(col("__swx").cast("double") / col("__swy").cast("double") * 1e6)
          .cast("long").as("__rq"))
    val ranked = repRatios.withColumn("__r", row_number().over(
      Window.orderBy(col("__rq"), col("rep"))))
    val rStats = ranked.agg(
      count(lit(1)).as("reps_used"),
      sum(col("__rq")).cast("decimal(38,0)").as("__s1"),
      sum(col("__rq").cast("decimal(38,0)") * col("__rq").cast("decimal(38,0)"))
        .as("__s2"))
    val bounds = rStats.select(col("reps_used"), col("__s1"), col("__s2"),
      ceil(col("reps_used") * 0.025).cast("long").as("__rlo"),
      ceil(col("reps_used") * 0.975).cast("long").as("__rhi"))
    val ci = ranked.join(broadcast(bounds),
        col("__r") === col("__rlo") || col("__r") === col("__rhi"))
      .groupBy(col("reps_used"), col("__s1"), col("__s2"))
      .agg(min(when(col("__r") === col("__rlo"), col("__rq"))).as("__lo"),
        min(when(col("__r") === col("__rhi"), col("__rq"))).as("__hi"))
    val r = col("reps_used").cast("double")
    val varNum = (col("__s2") * col("reps_used") - col("__s1") * col("__s1"))
      .cast("double")
    // totals LEFT JOIN ci: an all-zero denominator column empties `ci`
    // (every replicate fails __swy>0) — return the one-row contract
    // with n populated and null CI columns (see poissonBootstrapDiff)
    totals.join(broadcast(ci), lit(true), "left")
      .select(col("n"), coalesce(col("reps_used"), lit(0L)).as("reps_used"),
        round(col("__sx").cast("double") /
          when(col("__sy") > 0, col("__sy").cast("double")), 6).as("ratio"),
        when(col("reps_used") > 1,
          round(sqrt(varNum / (r * (r - 1.0))) / 1e6, 6)).as("se_boot"),
        round(col("__lo").cast("double") / 1e6, 6).as("ci_lo"),
        round(col("__hi").cast("double") / 1e6, 6).as("ci_hi"))
  }

  /** Always-valid sequential test (mixture SPRT) for a two-arm mean
    * difference — the "peek whenever you want" primitive modern
    * experimentation platforms run instead of fixed-horizon t-tests
    * (Johari et al. 2017): the mixture likelihood ratio Λ_n is a
    * martingale under H₀ (θ = 0), so `significant` may be read every
    * day without inflating the false-positive rate; once crossed it
    * stays crossed. Log Λ itself fluctuates (a martingale, not a
    * monotone sequence), so stickiness is enforced explicitly: the
    * verdict compares the RUNNING MAXIMUM of log Λ — the decision the
    * always-valid rule has already made — not the current day's value,
    * exactly as Johari et al. define rejection via the running extremum.
    *
    * Two-sample Gaussian mixture form, log scale:
    * `V = σ²(1/n_a + 1/n_b)`,
    * `log Λ = ln(V/(V+τ²))/2 + θ̂²τ²/(2V(V+τ²))`,
    * `significant ⇔ max_{m≤n} log Λ_m > ln(1/α)` (the ln(1/α) threshold is a
    * compile-time literal, not a runtime ln). σ² is the running pooled
    * sample variance.
    *
    * Scale/determinism discipline of the stats family: values quantize
    * to integer micro-units per row; one partial-agg groupBy to DAY
    * grain carries exact integer sums (squares in decimal(38,0) —
    * micro-unit squares overflow int64); the cumulative window runs
    * over the |days|-row table only (bounded by construction, never by
    * event volume). All doubles derive from the same exact integer
    * sums in the same IEEE sequence on any engine; the single `ln`
    * term appears only in outputs rounded to 6 dp.
    *
    * @param tau2  mixture prior variance (≈ the square of the effect
    *              size the test should be most sensitive to)
    * @param alpha always-valid significance level (default 0.05)
    * @return one row per day, ordered: `day, n_a, n_b, theta, sigma2,
    *         log_lr` (6 dp), `significant`
    */
  def msprtDiff(df: DataFrame, tsCol: Column, isArmA: Column, valueCol: Column,
                tau2: Double, alpha: Double = 0.05): DataFrame = {
    require(tau2 > 0 && alpha > 0 && alpha < 1)
    val perDay = df
      .select(to_date(tsCol).as("day"), isArmA.cast("boolean").as("__a"),
        round(valueCol.cast("double") * 1e6).cast("long").as("__xq"))
      .where(col("__xq").isNotNull && col("__a").isNotNull)
      .groupBy(col("day"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__dna"),
        sum(when(col("__a"), col("__xq")).otherwise(0L)).as("__dsa"),
        sum(when(col("__a"), col("__xq").cast("decimal(38,0)") * col("__xq").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__dssa"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__dnb"),
        sum(when(!col("__a"), col("__xq")).otherwise(0L)).as("__dsb"),
        sum(when(!col("__a"), col("__xq").cast("decimal(38,0)") * col("__xq").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__dssb"))
    // cumulative over the day-grain table: |days| rows, single bounded window
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = perDay.select(col("day"),
      sum(col("__dna")).over(w).as("n_a"), sum(col("__dsa")).over(w).as("__sa"),
      sum(col("__dssa")).over(w).as("__ssa"),
      sum(col("__dnb")).over(w).as("n_b"), sum(col("__dsb")).over(w).as("__sb"),
      sum(col("__dssb")).over(w).as("__ssb"))
    // divisors go NULL (not zero) on degenerate days: ANSI mode raises
    // on x/0 and codegen subexpression elimination hoists the division
    // out of the `when` guards below, so the guards alone don't save a
    // one-arm day — NULL divisors make the whole verdict NULL instead,
    // which is exactly what the output guards then expose
    val na = when(col("n_a") > 0, col("n_a").cast("double"))
    val nb = when(col("n_b") > 0, col("n_b").cast("double"))
    val sa = col("__sa").cast("double") / 1e6; val sb = col("__sb").cast("double") / 1e6
    val ssa = col("__ssa").cast("double") / 1e12; val ssb = col("__ssb").cast("double") / 1e12
    val theta = sa / na - sb / nb
    val sig2 = ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) /
      when(col("n_a") + col("n_b") > 2, (col("n_a") + col("n_b")).cast("double") - 2.0)
    val v = sig2 * (lit(1.0) / na + lit(1.0) / nb)
    val logLr = log(v / (v + tau2)) / 2.0 +
      (theta * theta * tau2) / (lit(2.0) * v * (v + tau2))
    val thresh = math.log(1.0 / alpha) // compile-time: no runtime ln in the verdict
    // sticky verdict: running max of log Λ over the same bounded
    // |days|-row window (NULL > thresh stays NULL, so days before the
    // first valid log Λ keep a NULL verdict)
    val wMax = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    cum.select(col("day"), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, round(theta, 6)).as("theta"),
      when(col("n_a") + col("n_b") > 2 && sig2 > 0, round(sig2, 6)).as("sigma2"),
      when(col("n_a") > 0 && col("n_b") > 0 && col("n_a") + col("n_b") > 2 && sig2 > 0,
        round(logLr, 6)).as("log_lr"),
      when(col("n_a") > 0 && col("n_b") > 0 && col("n_a") + col("n_b") > 2 && sig2 > 0,
        logLr).as("__llr"))
      .withColumn("significant", max(col("__llr")).over(wMax) > thresh)
      .drop("__llr")
      .orderBy(col("day"))
  }

  /** Benjamini–Hochberg FDR adjustment over a (small) table of test
    * results — the multiple-comparison guard every k-hypothesis sweep
    * needs before acting on its p-values ("5 of 40 event types
    * drifted at p<.05" is expected noise; BH holds the FALSE DISCOVERY
    * rate at α). Step-up: sort p ascending, p̃ᵢ = min_{j≥i}(pⱼ·m/j)
    * capped at 1, reject where p̃ ≤ α.
    *
    * The input is one row per HYPOTHESIS — bounded by the test-family
    * size (event types, arms, features), never by data — so the two
    * whole-table windows here are bounded by construction, the same
    * discipline as the fold/grid tables.
    *
    * @param idCols deterministic tiebreak for equal p-values
    * @return input columns + `p_rank, m_tests, p_adj` (6 dp),
    *         `reject`, ordered by ascending p
    */
  def bhAdjust(tests: DataFrame, pCol: Column, idCols: Seq[Column],
               alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val ordered = Window.orderBy(pCol +: idCols: _*)
    val all = Window.partitionBy()
    val ranked = tests
      .withColumn("p_rank", row_number().over(ordered).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(all))
    val stepUp = Window.orderBy(col("p_rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("__padj", least(lit(1.0),
        min(pCol * col("m_tests").cast("double") /
          col("p_rank").cast("double")).over(stepUp)))
      .withColumn("p_adj", round(col("__padj"), 6))
      .withColumn("reject", col("__padj") <= alpha)
      .drop("__padj")
      .orderBy(col("p_rank"))
  }
}
