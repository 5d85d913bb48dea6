package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event time-series shapes over an append-only event log: bucketed
  * OHLC bars and first-order (Markov) transition counts. Both are
  * one-window-plus-one-aggregate plans whose window partition keys are
  * high-cardinality ((series, bucket) / user), so no reducer ever sees
  * more than one series' bucket — the shape that survives a 100 TB
  * event log.
  */
object TimeSeriesOps {

  /** Time-bucketed OHLC bars per series: open/close are the first/last
    * value in the bucket by (time, tiebreak) order, high/low/volume/
    * mean aggregate over the bucket. The standard downsampling shape
    * for metric and market data.
    *
    * Determinism: equal timestamps are broken by `tieCol` (a unique
    * id), so open/close are well-defined under any shuffle order —
    * first_value/last_value run over a total order, never an arbitrary
    * one. The mean is emitted in integer micro-units (an order-free
    * sum followed by one integer division), engine-exact.
    *
    * Plan shape: one window partitioned by (series, bucket) —
    * high-cardinality, skew-free for any realistic bucket width — then
    * one hash aggregate on the same key; Catalyst reuses the window's
    * partitioning for the aggregate, so the plan has a single shuffle.
    */
  def ohlcBars(events: DataFrame, seriesCol: String, tsCol: String,
               valueCol: String, tieCol: String,
               bucket: String = "hour"): DataFrame = {
    // bucket materialized as an attribute BEFORE the window so the
    // window partitioning and the downstream groupBy key are the SAME
    // attribute — Catalyst then reuses one exchange for both (keying
    // the window on the raw date_trunc expression leaves the aggregate
    // unable to prove co-partitioning and inserts a second shuffle)
    val w = Window.partitionBy(col(seriesCol), col("bucket_ts"))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .withColumn("bucket_ts", date_trunc(bucket, col(tsCol)))
      .select(col(seriesCol), col("bucket_ts"), col(tsCol), col(tieCol), col(valueCol),
        first(col(valueCol)).over(w).as("open"),
        last(col(valueCol)).over(w).as("close"))
      .groupBy(col(seriesCol), col("bucket_ts"))
      .agg(
        first(col("open")).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        first(col("close")).as("close"),
        count(lit(1)).as("volume"),
        sum(round(col(valueCol) * 1000000).cast("long")).as("sum_q"))
      .withColumn("mean_q", expr("sum_q div volume"))
  }

  /** OHLC bars as ONE pure hash aggregate — `min_by`/`max_by` over the
    * unique (ts, tiebreak) struct pick open/close with no window and
    * no sort: partials combine map-side, so per-group state is six
    * scalars regardless of bucket size (the window form sorts each
    * partition). Same output contract as [[ohlcBars]] (TimeSeriesOps
    * Spec pins equality); being a plain aggregation it is ALSO legal
    * as a streaming query body — see
    * [[graft.streaming.StreamOps.ohlcStream]].
    */
  def ohlcBarsAgg(events: DataFrame, seriesCol: String, tsCol: String,
                  valueCol: String, tieCol: String,
                  bucket: String = "hour"): DataFrame = {
    val okey = struct(col(tsCol), col(tieCol))
    events
      .withColumn("bucket_ts", date_trunc(bucket, col(tsCol)))
      .groupBy(col(seriesCol), col("bucket_ts"))
      .agg(
        min_by(col(valueCol), okey).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), okey).as("close"),
        count(lit(1)).as("volume"),
        sum(round(col(valueCol) * 1000000).cast("long")).as("sum_q"))
      .withColumn("mean_q", expr("sum_q div volume"))
  }

  /** First-order transition counts over per-entity event sequences —
    * the empirical Markov chain of "what happens after X" (session
    * flow analysis, next-event models, anomalous-sequence mining).
    *
    * Each entity's events are ordered by (time, tiebreak); every
    * consecutive pair contributes one (from_state, to_state)
    * observation; counts aggregate globally with a parts-per-million
    * row probability per source state (integer division — order-free,
    * engine-exact).
    *
    * Plan shape: one window partitioned by entity (high-cardinality),
    * one hash aggregate on (from, to) — state-vocabulary sized — and a
    * broadcast-sized per-from total joined back. Nothing scales with
    * more than the event count.
    */
  def transitionCounts(events: DataFrame, entityCol: String, stateCol: String,
                       tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(entityCol), col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
    val counts = pairs.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_state")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), "from_state")
      .select(col("from_state"), col("to_state"), col("n"),
        expr("n * 1000000 div tot").as("p_ppm"))
  }

  /** Rolling active users — DAU, trailing-`windowDays` AU, and the
    * stickiness ratio (DAU/WAU per million) per active day: the
    * engagement accounting every product-analytics stack reports.
    *
    * EXACT at scale without a window self-join: the naive plan joins
    * every day against `windowDays` days of raw events (w× the event
    * scan); here the corpus first collapses to DISTINCT (day, user) —
    * one map-side-combinable aggregation, ≤ |users|×|days| rows no
    * matter how many raw events — and each active pair then explodes
    * to the ≤`windowDays` window-end days it covers. The expansion is
    * bounded by w (not by data), and both counts are plain hash
    * aggregations. `count_distinct` here is exact; at extreme user
    * cardinality swap the final count for `approx_count_distinct`/HLL
    * sketches, merging daily sketches instead of re-listing users
    * (the [[graft.llm.SketchOps]] posture).
    *
    * @return (day DATE, dau, wau, stickiness_ppm — all LONG), one row
    *         per day with ≥1 active user; a window is the trailing
    *         `windowDays` ENDING that day
    */
  def rollingActiveUsers(events: DataFrame, tsCol: String, userCol: String,
                         windowDays: Int): DataFrame = {
    require(windowDays > 0, "windowDays must be positive")
    val du = events
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("__u"))
      .distinct()
    val covered = du.select(col("__u"),
      explode(expr(s"sequence(day, date_add(day, ${windowDays - 1}))")).as("wday"))
    val wau = covered.groupBy("wday").agg(countDistinct(col("__u")).as("wau"))
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(wau.withColumnRenamed("wday", "day"), "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
  }

  /** Pearson r / OLS pieces from exact integer sums — shared by
    * [[trendOls]] and [[lagAutocorr]]. All five/six sums are LONG
    * (callers pre-quantize values so products stay in int64 range);
    * only the final ratios go through IEEE doubles, so the rounded
    * outputs replay bit-for-bit in any engine.
    */
  private def sxxCols(x: Column, y: Column): Seq[Column] = Seq(
    count(lit(1)).as("__n"),
    sum(x).as("__sx"), sum(y).as("__sy"),
    sum(x * y).as("__sxy"), sum(x * x).as("__sxx"), sum(y * y).as("__syy"))

  /** Per-series OLS trend (slope / intercept / R²) of an integer-
    * quantized metric `yCol` on an integer time index `xCol` — the
    * "is this metric drifting" regression every monitoring stack runs.
    *
    * Determinism: inputs must be exact integers (quantize doubles to
    * milli/micro-units first); the five cross-sums accumulate in int64
    * where addition is associative, so no shuffle order can perturb
    * them. Slope/intercept/R² are then single double expressions over
    * those exact sums, rounded — the q_ab_test discipline.
    *
    * Plan shape: ONE map-side-combinable hash aggregate keyed by
    * series (constant state per group), nothing else — linear in rows
    * at any series cardinality. Degenerate guards: a singleton or
    * constant-x series has no slope (null); constant y yields R² null.
    *
    * @param xCol integer time index (e.g. day number); keep |x·y| and
    *             |y²| sums inside int64 at the target scale
    * @param yCol pre-quantized long metric
    */
  def trendOls(df: DataFrame, seriesCol: String, xCol: Column,
               yCol: Column): DataFrame = {
    val cs = sxxCols(xCol.cast("long"), yCol.cast("long"))
    val agg = df.groupBy(col(seriesCol)).agg(cs.head, cs.tail: _*)
    val dxx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val dyy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val dxy = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val slope = dxy.cast("double") / dxx.cast("double")
    agg.select(col(seriesCol), col("__n").as("n_points"),
        when(dxx =!= 0, round(slope, 6)).as("slope"),
        when(dxx =!= 0, round(
          (col("__sy").cast("double") - slope * col("__sx").cast("double"))
            / col("__n").cast("double"), 6)).as("intercept"),
        when(dxx =!= 0 && dyy =!= 0, round(
          dxy.cast("double") * dxy.cast("double")
            / (dxx.cast("double") * dyy.cast("double")), 6)).as("r2"))
  }

  /** Per-series lag-`k` autocorrelation of an integer-quantized metric
    * over an integer time index — the "is today predictive of
    * tomorrow" seasonality probe beside [[trendOls]]'s monotone drift.
    *
    * Scalable shape: NO window — consecutive pairs come from a keyed
    * self equi-join on (series, t+k), which is a plain shuffled hash
    * join on the already-reduced per-tick table. Missing ticks simply
    * contribute no pair (the series need not be gap-free). Pearson r
    * over the pairs uses the same exact-int64-sums discipline as
    * [[trendOls]]; constant slices yield null.
    */
  def lagAutocorr(df: DataFrame, seriesCol: String, tCol: Column,
                  vCol: Column, k: Int = 1): DataFrame = {
    require(k > 0, "lag must be positive")
    val cur = df.select(col(seriesCol), tCol.cast("long").as("__t"),
      vCol.cast("long").as("__x"))
    val nxt = df.select(col(seriesCol), (tCol.cast("long") - k).as("__t"),
      vCol.cast("long").as("__y"))
    val pairs = cur.join(nxt, Seq(seriesCol, "__t"))
    val cs = sxxCols(col("__x"), col("__y"))
    val agg = pairs.groupBy(col(seriesCol)).agg(cs.head, cs.tail: _*)
    val dxx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val dyy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val dxy = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    agg.select(col(seriesCol), col("__n").as("n_pairs"),
      when(dxx =!= 0 && dyy =!= 0, round(
        dxy.cast("double")
          / sqrt(dxx.cast("double") * dyy.cast("double")), 6)).as("r_lag"))
  }

  /** Kaplan–Meier survival curve over right-censored durations — the
    * retention/churn estimator (S(t) = Π_{t_i ≤ t} (1 − d_i/n_i))
    * run distributed: the sequential PRODUCT becomes a prefix SUM in
    * log domain, which [[WindowOps.prefixSumScalable]] already
    * computes without a single-reducer window.
    *
    * Determinism: the per-duration hazard term ln(1 − d/n) =
    * ln((n−d)/n) is computed from exact integer counts and quantized
    * to integer micro-units BEFORE the prefix sum (order-free); the
    * final exp runs per row on an exact integer. A duration where
    * EVERYONE at risk exits (d = n) sends survival to exactly 0 via
    * an integer sentinel (ln would be −∞).
    *
    * Plan shape: one hash aggregate to ≤|distinct durations| rows,
    * a 1-row total broadcast, and two scalable prefix passes over the
    * duration-keyed table — subject-level data is touched exactly
    * once.
    *
    * @param durCol  per-subject duration (integer ticks)
    * @param eventCol 1 = the event (churn/death) was observed at
    *   `durCol`; 0 = censored there (still alive at last sight)
    * @return per distinct duration: `duration, n_at_risk, d, c,
    *         surv_ppm`, ordered by duration
    */
  def kaplanMeier(df: DataFrame, durCol: Column, eventCol: Column): DataFrame = {
    val byDur = df
      .select(durCol.cast("long").as("duration"),
        eventCol.cast("long").as("__e"))
      .groupBy(col("duration"))
      .agg(sum(col("__e")).as("d"),
        sum(lit(1L) - col("__e")).as("c"))
    val run = WindowOps.prefixSumScalable(byDur, col("duration"),
      Seq(("rem", col("d") + col("c"))))
    // total from the FROZEN prefix-sum output (identical exact-integer
    // sum) — aggregating `byDur` re-derived the raw scan + groupBy a
    // second time (same fix as QuantileOps.ksTest, r18)
    val total = run.agg(sum(col("d") + col("c")).as("__N"))
    val atRisk = run.crossJoin(broadcast(total))
      .withColumn("n_at_risk", col("__N") - (col("run_rem") - (col("d") + col("c"))))
      .drop("run_rem", "__N")
    val termed = atRisk.withColumn("__term_q",
      when(col("d") === 0, lit(0L))
        .when(col("d") < col("n_at_risk"),
          round(log((col("n_at_risk") - col("d")).cast("double") /
            col("n_at_risk").cast("double")) * 1000000).cast("long"))
        .otherwise(lit(-1000000000000L))) // d = n: survival exactly 0
    WindowOps.prefixSumScalable(termed, col("duration"),
        Seq(("lnS", col("__term_q"))))
      .withColumn("surv_ppm",
        round(exp(col("run_lnS").cast("double") / 1000000.0) * 1000000).cast("long"))
      .select(col("duration"), col("n_at_risk"), col("d"), col("c"), col("surv_ppm"))
      .orderBy(col("duration"))
  }

  /** Weekly-seasonality strength per series: one-way variance
    * decomposition of the per-tick metric by day-of-week —
    * η² = 1 − SSW/SST ("how much of the daily variation is just
    * which weekday it is") plus the one-way-ANOVA F statistic. The
    * "is this metric seasonal" probe beside [[trendOls]] (drift) and
    * [[lagAutocorr]] (persistence).
    *
    * Determinism: group sums are exact int64; each weekday's
    * within-group SS quantizes to integer micro-units before the
    * ≤7-term sum (a bare double sum over groups would be
    * order-dependent); SST and the final ratios are single double
    * expressions over exact values, rounded. Day-of-week is
    * `weekday()` (0=Monday — matches DuckDB `isodow−1`, avoiding the
    * 1=Sunday `dayofweek` trap).
    *
    * Plan shape: one hash aggregate to (series × ≤7) rows, one rollup
    * to series rows — map-side combinable, nothing wider.
    *
    * @return per series: `n_days, n_groups, eta2, f_stat` (f null
    *         when SSW=0 or a single group), ordered by series
    */
  def weekdaySeasonality(df: DataFrame, seriesCol: String, dayCol: Column,
                         vCol: Column): DataFrame = {
    val g = df.select(col(seriesCol), weekday(dayCol).as("__g"),
      vCol.cast("long").as("__y"))
      .groupBy(col(seriesCol), col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__y")).as("__sg"),
        sum(col("__y") * col("__y")).as("__ssg"))
      .withColumn("__ssw_q",
        round((col("__ssg").cast("double") -
          col("__sg").cast("double") * col("__sg").cast("double") /
            col("__ng").cast("double")) * 1000000).cast("long"))
    val per = g.groupBy(col(seriesCol))
      .agg(sum(col("__ng")).as("n_days"), count(lit(1)).as("n_groups"),
        sum(col("__sg")).as("__sy"), sum(col("__ssg")).as("__syy"),
        sum(col("__ssw_q")).as("__sswq"))
    val sst = per("__syy").cast("double") -
      per("__sy").cast("double") * per("__sy").cast("double") /
        per("n_days").cast("double")
    val ssw = col("__sswq").cast("double") / 1000000.0
    val f = ((sst - ssw) / (col("n_groups") - 1).cast("double")) /
      (ssw / (col("n_days") - col("n_groups")).cast("double"))
    per.select(col(seriesCol), col("n_days"), col("n_groups"),
        when(sst =!= 0.0, round(lit(1.0) - ssw / sst, 6)).as("eta2"),
        when(col("n_groups") > 1 && ssw =!= 0.0 &&
          col("n_days") > col("n_groups"), round(f, 4)).as("f_stat"))
      .orderBy(col(seriesCol))
  }

  /** Finite-impulse-response filter over a per-tick integer series —
    * `out_t = (Σ_i w_i · x_{t−i}) / 1e6` with an integer-ppm kernel —
    * which is how EWMA/exponential smoothing runs EXACTLY in a
    * distributed engine. The textbook EWMA recurrence
    * (s_t = αx_t + (1−α)s_{t−1}) cannot distribute: it is inherently
    * sequential, and any segment-composition scheme reorders float
    * ops (last-ulp drift vs the sequential truth). Truncating the
    * kernel (w_i = α(1−α)^i for i < W — the weights a real EWMA puts
    * beyond W ticks are negligible by construction) turns it into a
    * bounded convolution: each input tick contributes `x·w_i` to the
    * W ticks it influences, and the output is one hash aggregate of
    * exact int64 terms — order-free, engine-exact, linear in rows.
    *
    * Scale shape: the explode is a fixed W-fold expansion (the
    * [[rollingActiveUsers]] pattern — bounded by the kernel, not the
    * data) feeding one map-side-combinable aggregate keyed by
    * (series, tick): no window, no recurrence, no shuffle wider than
    * the output itself.
    *
    * Leading ticks carry a partial kernel (fewer than W terms) —
    * `n_terms` is emitted so callers can gate on full-kernel outputs;
    * ticks past the last input tick also appear (the kernel's decay
    * tail) with their honest partial sums. Gaps in the tick sequence
    * contribute nothing (missing = zero, the FIR convention).
    *
    * @param weightsPpm kernel in parts-per-million, index 0 = current
    *   tick (e.g. `ewmaKernelPpm(alpha, w)`); keep Σ|x·w| in int64
    * @return per (series, out_tick): `out_q = Σ x·w div 1e6` (input
    *   units), `n_terms` — ordered by (series, out_tick)
    */
  def firFilter(df: DataFrame, seriesCol: String, tCol: Column, vCol: Column,
                weightsPpm: Seq[Long]): DataFrame = {
    require(weightsPpm.nonEmpty, "kernel must have at least one tap")
    val contribs = weightsPpm.zipWithIndex.map { case (w, i) =>
      struct((tCol.cast("long") + i).as("out_tick"),
        (vCol.cast("long") * w).as("__c"))
    }
    df.select(col(seriesCol), explode(array(contribs: _*)).as("__e"))
      .select(col(seriesCol), col("__e.out_tick"), col("__e.__c"))
      .groupBy(col(seriesCol), col("out_tick"))
      .agg(expr("sum(__c) div 1000000").as("out_q"),
        count(lit(1)).as("n_terms"))
      .orderBy(col(seriesCol), col("out_tick"))
  }

  /** Truncated EWMA kernel in integer ppm: w_i = round(α(1−α)^i·1e6)
    * for i < w — quantized ONCE here so engine and oracle share the
    * exact same integer taps.
    */
  def ewmaKernelPpm(alpha: Double, w: Int): Seq[Long] = {
    require(alpha > 0 && alpha <= 1 && w >= 1, "alpha in (0,1], w >= 1")
    (0 until w).map(i => math.round(alpha * math.pow(1 - alpha, i) * 1e6))
  }

  /** CUSUM changepoint locator over a per-tick integer metric: the
    * tick t maximizing |Σ_{i≤t}(x_i − x̄)| — the standard single
    * mean-shift detector (Page 1954 / Pettitt-style scan), run here as
    * an exact distributed prefix sum instead of a driver loop.
    *
    * Integer-exact argmax: the scan statistic is scaled by T
    * (G_t = T·run_x − t·total — both terms int64), so the maximizing
    * tick is found by integer comparison with no float tie hazards;
    * ties break to the earliest tick via `min_by`. Only the reported
    * before/after means are doubles (rounded, from exact sums).
    *
    * Plan shape: one 1-row total broadcast, one
    * [[WindowOps.prefixSumScalable]] pass (range exchange + one-row-
    * per-partition broadcast — never a single-reducer global window), one final
    * all-reduce to a single row. `tickCol` must be unique per row
    * (aggregate to per-tick totals first).
    *
    * @return one row: n_ticks, total, cp_tick (last tick of the
    *         "before" regime), g_abs_max (scaled scan stat),
    *         mean_before, mean_after (null when the argmax is the
    *         final tick — no "after" regime to average)
    */
  def cusumChangepoint(df: DataFrame, tickCol: Column, vCol: Column): DataFrame = {
    val base = df.select(tickCol.as("__tick"), vCol.cast("long").as("__v"))
    val run = WindowOps.prefixSumScalable(base, col("__tick"),
      Seq(("v", col("__v")), ("one", lit(1L))))
    // totals from the FROZEN prefix-sum output (identical exact-integer
    // sums) — aggregating `base` re-scanned the raw input a second time
    val tot = run.agg(sum(col("__v")).as("__tot"),
      count(lit(1)).as("__T"))
    val g = run.crossJoin(broadcast(tot))
      .withColumn("__g", col("__T") * col("run_v") - col("run_one") * col("__tot"))
    g.groupBy()
      .agg(min_by(
        struct(col("__tick"), col("__g"), col("run_v"), col("run_one"),
          col("__tot"), col("__T")),
        struct(-abs(col("__g")), col("__tick"))).as("__r"))
      .select(col("__r.__T").as("n_ticks"), col("__r.__tot").as("total"),
        col("__r.__tick").as("cp_tick"),
        abs(col("__r.__g")).as("g_abs_max"),
        round(col("__r.run_v").cast("double")
          / col("__r.run_one").cast("double"), 6).as("mean_before"),
        when(col("__r.run_one") < col("__r.__T"), round(
          (col("__r.__tot") - col("__r.run_v")).cast("double")
            / (col("__r.__T") - col("__r.run_one")).cast("double"), 6))
          .as("mean_after"))
  }
}
