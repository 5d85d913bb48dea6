package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-row transforms, aggregations and set ops
  * (SURVEY.md §2.5, T1–T7).
  */
object TransformOps {

  /** T1: bias extension — append a constant 1.0 to every feature
    * vector (reference `preprocess.py:54-56`).
    */
  def extendBias(features: Column): Column =
    concat(features, array(lit(1.0)))

  /** T2/J4: leak-free mean-centering. Computes per-group means over
    * the rows where `roleCol === "train"` only, then subtracts them
    * from every row (train AND test) — the reference's train-statistics
    * normalization (`preprocess.py:76-79`).
    *
    * Plan shape at scale: one partial+final hash aggregate (map-side
    * combine) over the train rows produces a tiny per-group means
    * table, which is **broadcast** back — no shuffle of the data side.
    *
    * @param df        input with group keys, role column and value columns
    * @param groupCols grouping keys
    * @param valueCols numeric columns to center; output adds `<name>_centered`
    */
  def centerByTrainMean(df: DataFrame, groupCols: Seq[String], roleCol: String,
                        valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => avg(col(c)).as(s"__mean_$c"))
    val means = df.filter(col(roleCol) === "train")
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val joined = df.join(broadcast(means), groupCols)
    valueCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_centered", col(c) - col(s"__mean_$c"))
    }.drop(valueCols.map(c => s"__mean_$c"): _*)
  }

  /** T3: per-fold centering — same aggregate with the fold id added to
    * the grouping keys (reference `preprocess.py:81-84`).
    */
  def centerByFoldTrainMean(df: DataFrame, groupCols: Seq[String], foldCol: String,
                            cvRoleCol: String, valueCols: Seq[String]): DataFrame =
    centerByTrainMean(df, groupCols :+ foldCol, cvRoleCol, valueCols)

  /** T2 (array form): per-feature train mean over ARRAY<DOUBLE>
    * features, subtracted element-wise via `zip_with` — the
    * whole-vector variant used when features live in one array column.
    * The mean vector is one typed `ArrayMeanAgg` aggregation: no
    * `posexplode` row multiplication, one partial vector per task
    * ([[graft.functions.Aggregators.ArrayMeanAgg]]). Every row of a
    * group must have the group's feature count; a ragged row fails.
    */
  def centerFeatureArray(df: DataFrame, groupCols: Seq[String], roleCol: String,
                         featuresCol: String): DataFrame = {
    val meanUdaf = udaf(graft.functions.Aggregators.ArrayMeanAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    val means = df.filter(col(roleCol) === "train")
      .groupBy(groupCols.map(col): _*)
      .agg(meanUdaf(col(featuresCol)).as("__means"))
    df.join(broadcast(means), groupCols)
      .withColumn(s"${featuresCol}_centered",
        zip_with(col(featuresCol), col("__means"), (x, m) => x - m))
      .drop("__means")
  }

  /** Weight-of-evidence (WoE) encoding + information value — the
    * classic supervised categorical encoding (credit-scoring
    * heritage, still the standard "is this feature worth keeping"
    * screen): per category, WoE = ln(good-share / bad-share); the
    * category's IV contribution is (gshare − bshare)·WoE, and the
    * feature's total IV reads on the usual <0.02 useless / >0.3
    * strong scale. Both shares carry the conventional +0.5 Laplace
    * adjustment so zero cells stay finite.
    *
    * Plan shape: one vocabulary-bounded groupBy, one-row totals
    * broadcast, per-category IV terms quantized to integer ppm BEFORE
    * the order-free total (the [[graft.dfw.QuantileOps.psiDrift]]
    * discipline), total broadcast back per row.
    *
    * @param isBad binary target predicate (NULL counts as good)
    * @return one row per category: `cat, n, n_bad, woe` (6 dp),
    *         `iv_q` (contribution, ppm), `iv_total_q` (same each
    *         row), ordered by cat
    */
  def woeEncode(df: DataFrame, catCol: Column, isBad: Column): DataFrame = {
    val cells = df
      .select(catCol.as("cat"), when(isBad, 1L).otherwise(0L).as("__b"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("__b")).as("n_bad"))
      .withColumn("__good", col("n") - col("n_bad"))
    val totals = cells.agg(sum(col("__good")).as("__gt"),
      sum(col("n_bad")).as("__bt"), count(lit(1)).as("__k"))
    val gsh = (col("__good").cast("double") + 0.5) /
      (col("__gt").cast("double") + lit(0.5) * col("__k").cast("double"))
    val bsh = (col("n_bad").cast("double") + 0.5) /
      (col("__bt").cast("double") + lit(0.5) * col("__k").cast("double"))
    val scored = cells.crossJoin(broadcast(totals))
      .withColumn("woe", log(gsh / bsh))
      .withColumn("iv_q", round((gsh - bsh) * col("woe") * 1e6).cast("long"))
    val total = scored.agg(sum(col("iv_q")).as("iv_total_q"))
    scored.crossJoin(broadcast(total))
      .select(col("cat"), col("n"), col("n_bad"), round(col("woe"), 6).as("woe"),
        col("iv_q"), col("iv_total_q"))
      .orderBy(col("cat"))
  }

  /** Per-group z-score standardization from EXACT moment sums — the
    * variance-scaling companion of the T2 centering family. The
    * built-in `stddev` accumulates in shuffle order (last-ulp
    * nondeterminism); here the inputs are integer-valued (quantize
    * fractional columns upstream, e.g. price → cents), so n, Σx, Σx²
    * are exact integers under ANY partitioning and
    * μ = Σx/n, σ = sqrt((Σx² − Σx²/n)/(n−1)) is one fixed IEEE op
    * sequence — the z-scores are engine-exact before their display
    * rounding. Group moments ride back via broadcast; the data side
    * never join-shuffles.
    *
    * @param cols integer-valued columns to standardize; emits
    *             `<col>_z` rounded to 6
    */
  def standardizeByGroup(df: DataFrame, groupCols: Seq[String],
                         cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(col(c).cast("long")).as(s"__s1_$c"),
        sum((col(c).cast("long") * col(c).cast("long"))).as(s"__s2_$c"))
    }
    val allAggs = count(lit(1)).as("__n") +: aggs
    val moments = df.groupBy(groupCols.map(col): _*)
      .agg(allAggs.head, allAggs.tail: _*)
    val joined = df.join(broadcast(moments), groupCols)
    val out = cols.foldLeft(joined) { (d, c) =>
      val mu = col(s"__s1_$c").cast("double") / col("__n")
      val varr = (col(s"__s2_$c").cast("double") -
        col(s"__s1_$c").cast("double") * col(s"__s1_$c") / col("__n")) / (col("__n") - 1)
      // singleton group: (n-1) = 0 would make the z-score NaN/Inf —
      // emit 0.0 (the value IS its group mean), mirroring
      // robustScaleByGroup's IQR-0 degenerate handling
      d.withColumn(s"${c}_z",
        when(col("__n") <= 1, lit(0.0))
          .otherwise(round((col(c) - mu) / sqrt(varr), 6)))
    }
    out.drop(out.columns.filter(_.startsWith("__")): _*)
  }

  /** Materialize a training mixture — turn per-group epoch
    * multipliers ([[epochSchedule]]) into the actual training corpus:
    * every row emits `floor(epochs)` full copies plus one more with
    * probability `frac(epochs)`, decided by a DETERMINISTIC pluggable
    * hash of (id, epoch_no) — so epochs > 1 becomes data repetition
    * and epochs < 1 becomes subsampling, in ONE pass, reproducible on
    * any engine/cluster/partitioning. This is the step that turns a
    * mixture DESIGN (shares, epochs) into the shuffled bytes a
    * training run reads.
    *
    * Scale shape: the epochs table broadcasts (|groups| rows); the
    * explode factor is `ceil(epochs)` — bounded by the schedule, not
    * the data — and the partial-epoch membership test is a per-row
    * hash compare. Nothing shuffles unless the caller re-orders.
    *
    * The fractional threshold quantizes to ppm from the (round-6)
    * epochs value, so the per-row verdict is integer-exact and
    * oracle-replayable.
    *
    * @param epochs (groupCol, ..., epochs DOUBLE) — extra columns are
    *               ignored; [[epochSchedule]]'s output fits directly.
    *               A group ABSENT from the schedule contributes zero
    *               rows (the inner join IS the weight-0 semantics —
    *               same as epochs = 0.0)
    * @param hash   id-string → BIGINT hash column (engine-neutral md5
    *               for oracle-checked runs, xxhash64 at full scale)
    * @return df's rows replicated with `epoch_no` (LONG, 0-based)
    */
  def materializeEpochs(df: DataFrame, idCol: String, groupCol: String,
                        epochs: DataFrame,
                        hash: Column => Column): DataFrame = {
    val e = broadcast(epochs.select(col(groupCol), col("epochs")))
    df.join(e, Seq(groupCol))
      .withColumn("__whole", floor(col("epochs")).cast("long"))
      .withColumn("__fppm",
        expr("CAST(round((epochs - floor(epochs)) * 1000000) AS BIGINT)"))
      .withColumn("epoch_no", explode(expr("sequence(CAST(0 AS BIGINT), __whole)")))
      .filter(col("epoch_no") < col("__whole") ||
        pmod(hash(concat_ws(":", col(idCol).cast("string"),
          col("epoch_no").cast("string"))), lit(1000000L)) < col("__fppm"))
      .drop("__whole", "__fppm", "epochs")
  }

  /** Leave-one-out target encoding — the leakage-safe categorical
    * encoding: replace a category value with the TARGET mean over all
    * OTHER rows of that category, `enc_i = (Σ_cat y − y_i)/(n_cat−1)`.
    * Including the row's own label in its feature leaks the target
    * (memorization at high category cardinality); LOO subtracts the
    * row exactly. Singleton categories have no "other rows" — they
    * encode as null so callers impute deliberately (a prior / global
    * mean) instead of receiving a silently-leaked self-mean.
    *
    * One map-side-combined (sum, count) per category broadcast back —
    * the data never join-shuffles (same plan shape as
    * [[standardizeByGroup]]). The target is summed as long (exact for
    * integer-valued columns at any aggregation order); the encoded
    * mean rounds to 6.
    *
    * @return `df` plus `<targetCol>_loo` (DOUBLE, null for singleton
    *         categories)
    */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String): DataFrame = {
    val stats = df.groupBy(col(catCol))
      .agg(sum(col(targetCol).cast("long")).as("__s"), count(lit(1)).as("__n"))
    df.join(broadcast(stats), Seq(catCol))
      .withColumn(s"${targetCol}_loo",
        when(col("__n") <= 1, lit(null).cast("double"))
          .otherwise(round(
            (col("__s") - col(targetCol).cast("long")).cast("double") / (col("__n") - 1),
            6)))
      .drop("__s", "__n")
  }

  /** Robust (median/IQR) scaling — the outlier-resistant companion of
    * [[standardizeByGroup]]: heavy-tailed features blow up a z-score's
    * σ, while the median and quartiles have 25–50% breakdown. One
    * exact `percentile(col, array(0.25, 0.5, 0.75))` per column per
    * group (value→count map state — right at an aggregation grain;
    * swap in the rank-select path for nearly-unique grains), quartiles
    * broadcast back, data never join-shuffles. Constant features
    * (IQR 0) scale to 0 rather than NaN.
    *
    * Determinism: percentile() interpolates over a sorted value→count
    * map — order-independent, and its IEEE interpolation matches
    * DuckDB's quantile_cont (pinned by the q_percentiles family).
    */
  def robustScaleByGroup(df: DataFrame, groupCols: Seq[String],
                         cols: Seq[String]): DataFrame = {
    val aggs = cols.map { c =>
      percentile(col(c), array(lit(0.25), lit(0.5), lit(0.75))).as(s"__q_$c")
    }
    val quarts = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(broadcast(quarts), groupCols)
    val out = cols.foldLeft(joined) { (d, c) =>
      val q = col(s"__q_$c")
      val iqr = q.getItem(2) - q.getItem(0)
      d.withColumn(s"${c}_r",
        when(iqr === 0.0, lit(0.0))
          .otherwise(round((col(c) - q.getItem(1)) / iqr, 6)))
    }
    out.drop(out.columns.filter(_.startsWith("__")): _*)
  }

  /** T6: schema-aligned union — UNION ALL by column name
    * (reference `_array_concatenate`, `preprocess.py:101-103`).
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** T5: class counting (reference `preprocess.py:120,280-281`). */
  def classCount(df: DataFrame, groupCols: Seq[String], clsCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(clsCol)).as("class_num"))

  /** Deterministic stratified sampling: per-class fractions applied by
    * hashing a stable row key — no RNG, so the sample is reproducible
    * across runs, partitionings, and engines (the same property the
    * reference gets from pre-stored permutations). A pure filter:
    * pushes down, never shuffles.
    *
    * `hash` defaults to xxhash64 (fastest); pass
    * [[graft.llm.DedupOps.md5TokenHash]] composed over a string key
    * for an engine-neutral sample that external SQL engines reproduce
    * bit-for-bit (the `t_sample_stratified` oracle does exactly this).
    */
  def sampleStratified(df: DataFrame, clsCol: String, keyCol: String,
                       fractions: Map[String, Double], default: Double = 0.0,
                       hash: Column => Column = xxhash64(_)): DataFrame = {
    require((fractions.values.toSeq :+ default).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val denom = 1000000L
    val frac = fractions.foldLeft(lit(default)) { case (acc, (k, f)) =>
      when(col(clsCol) === k, lit(f)).otherwise(acc)
    }
    df.filter(pmod(hash(col(keyCol)), lit(denom)) < frac * denom)
  }

  /** Deterministic WEIGHTED sampling: keep each row with probability
    * proportional to `weightCol` (acceptance = weight / max-weight,
    * optionally scaled by `scale`), decided by a pure hash of
    * `keyCol` — re-runs, retries, and other engines reproduce the
    * exact sample (same discipline as [[sampleStratified]]; rand()
    * would violate it under stage retry). The importance-sampling
    * shape of corpus curation: up-weight long/high-quality documents
    * without a quality-sorted global pass.
    *
    * The max weight is computed once and broadcast (one tiny
    * aggregate); everything else is a scan-local filter — no shuffle
    * of the data itself.
    */
  def sampleWeighted(df: DataFrame, keyCol: String, weightCol: String,
                     scale: Double = 1.0,
                     hash: Column => Column = xxhash64(_)): DataFrame = {
    require(scale > 0 && scale <= 1.0, "scale must be in (0, 1]")
    val denom = 1000000L
    val maxW = df.agg(max(col(weightCol)).cast("double").as("__maxw"))
    df.join(broadcast(maxW))
      .filter(pmod(hash(col(keyCol)), lit(denom)) <
        col(weightCol).cast("double") / col("__maxw") * scale * denom)
      .drop("__maxw")
  }

  /** Deterministic weighted sampling WITHOUT replacement, exact size
    * k — the Efraimidis–Spirakis (2006) reservoir rule: each row gets
    * priority `−ln(u)/w` with u uniform in (0,1], and the k SMALLEST
    * priorities are the sample (equivalent to taking the k largest
    * `u^(1/w)`). Where [[sampleWeighted]]'s Bernoulli rule yields a
    * RANDOM sample size, this returns exactly k — the "pick the best
    * k documents, weight-proportionally" shape of corpus curation.
    *
    * Determinism: u derives from a pure hash of `keyCol`
    * (u = (hash mod 1e6 + 1)/1e6 — never rand(), which breaks under
    * stage retry), the priority is quantized to integer nano-units,
    * and the cut orders by (priority_q, key) — a total order, so the
    * selected set replays across runs, partitionings, and engines.
    *
    * Plan shape: a scan-local priority expression and ONE
    * TakeOrderedAndProject (map-side top-k, k rows per partition then
    * k at the driver) — no global sort, no shuffle of the data.
    * Rows with weight ≤ 0 or NULL are excluded (they cannot win a
    * weighted draw).
    */
  def sampleWeightedTopK(df: DataFrame, keyCol: String, weightCol: String,
                         k: Int,
                         hash: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, "sample size must be positive")
    val u = (pmod(hash(col(keyCol)), lit(1000000L)) + 1).cast("double") /
      lit(1000000.0)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("es_key_q",
        round(-log(u) / col(weightCol).cast("double") * 1e9).cast("long"))
      .orderBy(col("es_key_q"), col(keyCol))
      .limit(k)
  }

  /** Domain-mixture sampling — the "data mixing" stage of corpus
    * curation: down-sample each group (domain/source/language) so its
    * expected share of a total `budget` (in `weightCol` units — tokens,
    * chars, bytes) matches a target fraction. Per group:
    * `rate = min(1, fraction * budget / group_weight)`; rows keep
    * deterministically by hashing `keyCol` (same discipline as
    * [[sampleStratified]] — reproducible across runs, partitionings,
    * engines; never `rand()`).
    *
    * One tiny group-totals aggregate broadcast back; the sample itself
    * is a scan-local filter — no shuffle of the data. Groups without
    * an explicit fraction use `default`; a group whose target exceeds
    * its actual weight keeps everything (rate clamps at 1 — this op
    * only down-samples; up-weighting is the trainer's epoch logic).
    *
    * Degenerate weights are handled explicitly, mirroring
    * [[sampleWeighted]]'s weight-0 row rule: a group whose TOTAL
    * weight is NULL (all-NULL weights) or <= 0 contributes nothing to
    * the budget and keeps nothing (rate 0) — without the guard a
    * zero-weight group's rate would be `frac·budget/0 = Inf`, clamp to
    * 1, and keep every row despite contributing no budget share.
    */
  def sampleToMixture(df: DataFrame, groupCol: String, weightCol: String,
                      keyCol: String, budget: Long,
                      fractions: Map[String, Double], default: Double = 0.0,
                      hash: Column => Column = xxhash64(_)): DataFrame = {
    require(budget > 0, "budget must be positive")
    require((fractions.values.toSeq :+ default).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val frac = fractions.foldLeft(lit(default)) { case (acc, (k, f)) =>
      when(col(groupCol) === k, lit(f)).otherwise(acc)
    }
    val totals = df.groupBy(col(groupCol))
      .agg(sum(col(weightCol)).cast("double").as("__wsum"))
    df.join(broadcast(totals), groupCol)
      .withColumn("__rate",
        when(col("__wsum").isNull || col("__wsum") <= 0.0, lit(0.0))
          .otherwise(least(lit(1.0), frac * lit(budget.toDouble) / col("__wsum"))))
      .filter(pmod(hash(col(keyCol)), lit(1000000L)) < col("__rate") * 1000000L)
      .drop("__wsum", "__rate")
  }

  /** Temperature-scaled mixture weights — the multilingual/DoReMi
    * re-balancing rule `p_i ∝ n_i^α`: at α = 1 shares mirror the
    * corpus (big sources dominate), at α = 0 every source draws
    * equally, and the standard α ≈ 0.3–0.7 boosts the tail without
    * drowning the head (Conneau & Lample 2019's multilingual sampling;
    * DoReMi seeds from the same form). Emits per group the raw share,
    * the temperature share, and the boost ratio — `p_i` feeds
    * [[sampleToMixture]]'s `fractions` directly.
    *
    * One count aggregate over the data (map-side combined), then all
    * arithmetic on the |groups|-row table — nothing else touches the
    * corpus. Shares round to 6 (values ≤ 1, so cross-engine libm pow
    * ulps sit ~1e-16, far under the grain).
    *
    * @return (groupCol, n LONG, share_raw, share_temp, boost — the
    *         last three DOUBLE rounded to 6)
    */
  def mixtureWeightsTemperature(df: DataFrame, groupCol: String,
                                alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("__t"),
      sum(pow(col("n").cast("double"), lit(alpha))).as("__ta"))
    counts.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("share_raw"),
        round(pow(col("n").cast("double"), lit(alpha)) / col("__ta"), 6).as("share_temp"),
        round(pow(col("n").cast("double"), lit(alpha)) / col("__ta") /
          (col("n").cast("double") / col("__t")), 6).as("boost"))
  }

  /** Epoch schedule at a token budget — the data-constrained-scaling
    * question [[mixtureWeightsTemperature]] leads to: given per-source
    * token counts, a temperature-α mixture, and a training budget of
    * `budgetTokens`, how many PASSES (epochs) over each source does
    * the run make? `epochs_i = budget · p_i / n_i` with
    * `p_i ∝ n_i^α` — epochs > 1 means the source repeats (the
    * regime the data-constrained scaling literature prices in), < 1
    * means it is subsampled. Emits per group the exact token count,
    * the temperature share, and the epoch multiplier.
    *
    * One sum aggregate over the data (map-side combined, exact integer
    * token totals), then all float work on the |groups|-row table —
    * nothing else touches the corpus. Shares/epochs round to 6; the
    * cross-engine pow/sum ulps sit ~1e-16 relative, far under the
    * grain at these magnitudes.
    *
    * @param tokens per-row token count expression (integer-valued)
    * @return (groupCol, n_tokens LONG, share_temp, epochs — the last
    *         two DOUBLE rounded to 6)
    */
  def epochSchedule(df: DataFrame, groupCol: String, tokens: Column,
                    alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val counts = df.groupBy(col(groupCol))
      .agg(sum(tokens).cast("long").as("n_tokens"))
    val totals = counts.agg(
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("__ta"))
    val p = pow(col("n_tokens").cast("double"), lit(alpha)) / col("__ta")
    counts.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_tokens"),
        round(p, 6).as("share_temp"),
        round(lit(budgetTokens.toDouble) * p / col("n_tokens").cast("double"), 6)
          .as("epochs"))
  }

  /** Skew-safe aggregation: explicit two-phase salted sum/count for
    * keys whose groups are too hot even for map-side combine (billions
    * of rows under 3 keys leave the final reduce with 3 tasks; salting
    * spreads phase one over `salt`× more tasks, and phase two reduces
    * `keys × salt` tiny partials). Sum/count decompose exactly; any
    * algebraic aggregate (avg = sum/count, etc.) composes from these.
    *
    * The salt must be a pure function of row CONTENT, never of
    * placement: `monotonically_increasing_id()`/`rand()` change value
    * when a lost shuffle map stage is partially recomputed, so rows can
    * land in a different salt group than the one already consumed
    * downstream — double-counting or dropping them (the SPARK-23207
    * class of bugs), precisely at the cluster scale salting targets.
    *
    * @param saltFrom stable row-content columns (e.g. the row's natural
    *                 key) hashed to pick the salt bucket
    */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], valueCol: String, salt: Int,
                saltFrom: Seq[Column]): DataFrame = {
    require(saltFrom.nonEmpty, "saltFrom needs at least one stable row-content column")
    val keys = keyCols.map(col)
    df.withColumn("__salt", pmod(xxhash64(saltFrom: _*), lit(salt)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(sum(col(valueCol)).as("__s"), count(lit(1)).as("__c"))
      .groupBy(keys: _*)
      .agg(sum(col("__s")).as("sum_v"), sum(col("__c")).as("cnt"))
  }

  /** T7: delimiter-join of a grouped string column, deterministic
    * (sorted) — reference `Join2String`, `tools.py:94-105`.
    */
  def stringJoinAgg(c: Column, delimiter: String): Column =
    array_join(array_sort(collect_list(c)), delimiter)

  /** Skew-safe equi-join — the join-side counterpart of [[saltedAgg]].
    * A shuffle join partitions both sides by the key, so ONE hot key
    * (half the internet under `lang='en'`) lands on ONE task no matter
    * how many executors exist. Salting spreads it: `left` rows pick a
    * salt bucket by hashing stable row CONTENT (never placement — see
    * [[saltedAgg]] on SPARK-23207), `right` rows replicate across all
    * `salt` buckets, and the join runs on (keys, salt) over salt× more
    * tasks. Result is exactly the plain inner join on `keys`.
    *
    * Use when BOTH sides are too big to broadcast and the key is
    * skewed (AQE's skew-join split handles moderate skew post-shuffle;
    * explicit salting is the guarantee when one key dominates
    * outright). `right` is the side that replicates — pass the
    * smaller-but-unbroadcastable side there; for hot-key-only
    * replication, split `right` by key temperature and union the
    * salted hot slice with a plain join of the cold rest.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salt: Int, saltFrom: Seq[Column]): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(saltFrom.nonEmpty, "saltFrom needs at least one stable row-content column")
    val l = left.withColumn("__salt", pmod(xxhash64(saltFrom: _*), lit(salt)))
    val r = right.withColumn("__salt",
      explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${salt - 1} AS BIGINT))")))
    // merge hint: the whole point is the large-large shuffle-join case,
    // so keep Spark from broadcasting the replicated side in demos
    l.join(r.hint("merge"), keys :+ "__salt", "inner").drop("__salt")
  }

  /** Per-group winsorization audit: clamp `valueCol` to its per-group
    * [p, 1-p] RANK-based percentile bounds and report how many rows
    * each tail clipped plus the mean before/after — the standard
    * heavy-tail taming step before features feed a trainer.
    *
    * The bounds are DISCRETE percentiles (the value at rank
    * `max(1, ceil(p·n))` and its mirror), not interpolated ones:
    * an interpolated bound is a derived double that two engines can
    * compute one ulp apart, and a `v < bound` comparison then flips
    * on values sitting at the bound — rank-selected bounds are actual
    * data values, so the clip decisions replay exactly anywhere.
    * Ranks come from [[SplitOps.rankByPermutationScalable]] (each
    * group range-partitioned over many tasks — no per-group
    * single-task window), the two boundary rows per group ride a
    * broadcast, and the clip itself is scan-local arithmetic.
    *
    * @return one row per group: `grpCols..., n, lo_bound, hi_bound,
    *         n_clipped_lo, n_clipped_hi, mean_raw, mean_wins` (means
    *         4 dp; bounds are exact data values)
    */
  def winsorizeStats(df: DataFrame, grpCols: Seq[String], valueCol: String,
                     p: Double): DataFrame = {
    require(p > 0 && p < 0.5, s"tail fraction must be in (0, 0.5), got $p")
    val vals = df
      .select(grpCols.map(col) :+ col(valueCol).cast("double").as("__v"): _*)
      .where(col("__v").isNotNull)
    val ranked = SplitOps.rankByPermutationScalable(vals, grpCols, Seq(col("__v")))
    // rank targets per group: ceil(p·n) is evaluated in double on BOTH
    // engines (identical IEEE result), then the bound is the value AT
    // that rank — value-at-rank is tie-insensitive, so no tiebreak
    // column is needed for determinism. The targets come from the rank
    // output's OWN `n` column — the former per-group count-aggregate
    // broadcast re-derived the input a second time (same long n, same
    // IEEE formulas; see QuantileOps.exactQuantiles).
    val bounds = ranked
      .withColumn("__rlo", greatest(lit(1L), ceil(lit(p) * col("n")).cast("long")))
      .withColumn("__rhi", col("n") + 1L - col("__rlo"))
      .filter(col("rn") === col("__rlo") || col("rn") === col("__rhi"))
      .groupBy(grpCols.map(col): _*)
      .agg(min(when(col("rn") === col("__rlo"), col("__v"))).as("lo_bound"),
        min(when(col("rn") === col("__rhi"), col("__v"))).as("hi_bound"))
    vals.join(broadcast(bounds), grpCols)
      .withColumn("__w", greatest(col("lo_bound"), least(col("hi_bound"), col("__v"))))
      .groupBy(grpCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        first(col("lo_bound")).as("lo_bound"), first(col("hi_bound")).as("hi_bound"),
        sum(when(col("__v") < col("lo_bound"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("__v") > col("hi_bound"), 1L).otherwise(0L)).as("n_clipped_hi"),
        round(avg(col("__v")), 4).as("mean_raw"),
        round(avg(col("__w")), 4).as("mean_wins"))
      .orderBy(grpCols.map(col): _*)
  }

  /** Per-group quota cap: keep at most `quota` rows per group, chosen
    * deterministically by ranking on a pure hash of `keyCol` (a
    * uniform "random" sample that re-runs, retries, and external
    * engines reproduce exactly — same no-`rand()` discipline as
    * [[sampleStratified]]). The source-balancing step of corpus
    * assembly: no domain may exceed N documents regardless of its raw
    * crawl share.
    *
    * The `row_number <= quota` filter directly over the window lets
    * Spark plan a WindowGroupLimit: each map task keeps only its
    * local top-`quota` per group BEFORE the shuffle, so the exchange
    * moves O(groups × quota) rows, not the table. Adds `pick` (the
    * 1-based selection rank).
    */
  def quotaSample(df: DataFrame, groupCol: String, keyCol: String,
                  quota: Int,
                  hash: Column => Column = xxhash64(_)): DataFrame = {
    require(quota > 0, "quota must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hash(col(keyCol)), col(keyCol))
    df.withColumn("pick", row_number().over(w).cast("long"))
      .filter(col("pick") <= quota)
  }

  /** Curriculum schedule: order the corpus easy→hard by a difficulty
    * score and cut it into `nPhases` EQUAL-TOKEN phases (Bengio et al.
    * 2009 curriculum learning, planned the way a trainer consumes it —
    * by token budget, not document count, since hard docs tend long
    * and a count split would front-load the budget).
    *
    * Phase assignment is the cumulative-offset rule over the exact
    * running token total ([[WindowOps.prefixSumScalable]] on the
    * (difficulty, id) total order — corpus-sized, so never a
    * single-task window): `phase = (run_tokens − 1) div
    * ceil(total/nPhases)`. The report is one partial-agg rollup.
    *
    * @param difficultyCol replayable per-doc score (e.g. LM surprisal
    *                      micro-units); ties break on `idCol`
    * @return one row per phase: `phase, n_docs, tokens, min_difficulty,
    *         max_difficulty` (6 dp), ordered by phase
    */
  def curriculumPhases(df: DataFrame, idCol: String, difficultyCol: Column,
                       tokensCol: Column, nPhases: Int): DataFrame = {
    require(nPhases > 0, "nPhases must be positive")
    val base = df.select(col(idCol).as("__id"), difficultyCol.as("__d"),
      tokensCol.cast("long").as("__t"))
    val run = WindowOps.prefixSumScalable(base,
      struct(col("__d"), col("__id")), Seq("t" -> col("__t")))
    // total from the FROZEN prefix-sum output (identical exact-integer
    // sum) — aggregating `base` re-derived the difficulty-score
    // pipeline a second time (same fix as QuantileOps.ksTest, r18)
    val total = run.agg(sum(col("__t")).as("__s"))
    run.join(broadcast(total))
      .withColumn("__budget",
        ceil(col("__s").cast("double") / nPhases).cast("long"))
      .withColumn("phase", expr("(run_t - 1) div __budget"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("tokens"),
        round(min(col("__d")), 6).as("min_difficulty"),
        round(max(col("__d")), 6).as("max_difficulty"))
      .orderBy(col("phase"))
  }

  /** Mutual-information feature ranking: I(bin(feature); label) in
    * nats for each candidate feature, highest first — the
    * model-agnostic feature-selection screen (captures the nonlinear
    * dependence a correlation matrix misses) run before a trainer
    * sees the table.
    *
    * Features melt to (feature, value, label) rows in one projection
    * (an in-row array explode, not one pass per feature); each
    * feature bins equi-width over its broadcast min/max (same rule as
    * [[QuantileOps.psiDrift]]); the MI sum runs over the tiny
    * (feature × bin × label) cell table with per-cell contributions
    * quantized to NANO-units before the sum (order-free, and 1e9
    * resolution because MI of a near-independent pair is ~1e-5 nats —
    * micro-units would round it to noise).
    *
    * @return one row per feature: `feature, n, mi_q`
    *         (round(I·1e9)), `mi` (6 dp), `rnk` (1 = most informative)
    */
  def mutualInfoRanking(df: DataFrame, labelCol: String,
                        featureCols: Seq[String], nb: Int): DataFrame = {
    require(nb >= 2, "need at least 2 bins")
    require(featureCols.nonEmpty, "need at least one feature")
    val melted = df.select(col(labelCol).as("__y"),
        explode(array(featureCols.map(f =>
          struct(lit(f).as("feature"), col(f).cast("double").as("__v"))): _*)).as("__fv"))
      .select(col("__fv.feature").as("feature"), col("__fv.__v").as("__v"), col("__y"))
      .where(col("__v").isNotNull)
    val stats = melted.groupBy(col("feature"))
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
        count(lit(1)).as("n"))
    val cells = melted.join(broadcast(stats), "feature")
      .select(col("feature"), col("n"), col("__y"),
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(lit(nb - 1).cast("long"),
            floor((col("__v") - col("__mn")) / (col("__mx") - col("__mn")) * nb)))
          .as("__b"))
      .groupBy(col("feature"), col("n"), col("__b"), col("__y"))
      .agg(count(lit(1)).as("__c"))
    val rowTot = cells.groupBy(col("feature"), col("__b"))
      .agg(sum(col("__c")).as("__r"))
    val colTot = cells.groupBy(col("feature"), col("__y"))
      .agg(sum(col("__c")).as("__s"))
    val mi = cells
      .join(rowTot, Seq("feature", "__b"))
      .join(colTot, Seq("feature", "__y"))
      .withColumn("__contrib",
        col("__c").cast("double") / col("n").cast("double") *
          log(col("__c").cast("double") * col("n").cast("double") /
            (col("__r").cast("double") * col("__s").cast("double"))))
      .withColumn("__cq", round(col("__contrib") * 1e9).cast("long"))
      .groupBy(col("feature"), col("n"))
      .agg(sum(col("__cq")).as("mi_q"))
    val w = Window.orderBy(col("mi_q").desc, col("feature"))
    mi.withColumn("mi", round(col("mi_q").cast("double") / 1e9, 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select("feature", "n", "mi_q", "mi", "rnk")
      .orderBy(col("rnk"))
  }

  /** Hashing-trick featurization audit (Weinberger et al. 2009): map
    * each categorical feature's values onto `nBuckets` hashed slots
    * and report the collision profile — how many distinct values, how
    * many slots they land in, how many collide, and the worst slot's
    * load. This is the dimensionality-vs-collision tradeoff check run
    * BEFORE shipping a hashed feature space to a trainer (a
    * high-cardinality id column at small nBuckets silently merges
    * unrelated values into one weight).
    *
    * The hash input is `feature ':' value`, so identical values under
    * DIFFERENT features occupy independent slots; the default hash is
    * the engine-neutral md5 key hash ([[graft.llm.DedupOps.md5TokenHash]]-
    * shaped), replayable by any engine. Cost: one distinct over
    * (feature, value) — already reduced — then two tiny aggregates.
    *
    * @return one row per feature: `feature, n_values, n_buckets_used,
    *         n_collisions, max_bucket_load`, ordered by feature
    */
  def featureHashAudit(df: DataFrame, featureCols: Seq[String], nBuckets: Int,
                       hash: Column => Column): DataFrame = {
    require(nBuckets > 0 && featureCols.nonEmpty)
    val distinctVals = df.select(
        explode(array(featureCols.map(f =>
          struct(lit(f).as("feature"), col(f).cast("string").as("__v"))): _*)).as("__fv"))
      .select(col("__fv.feature").as("feature"), col("__fv.__v").as("__v"))
      .where(col("__v").isNotNull)
      .distinct()
      .withColumn("__bucket", pmod(hash(concat_ws(":", col("feature"), col("__v"))),
        lit(nBuckets.toLong)))
    distinctVals
      .groupBy(col("feature"), col("__bucket"))
      .agg(count(lit(1)).as("__load"))
      .groupBy(col("feature"))
      .agg(sum(col("__load")).as("n_values"),
        count(lit(1)).as("n_buckets_used"),
        max(col("__load")).as("max_bucket_load"))
      .select(col("feature"), col("n_values"), col("n_buckets_used"),
        (col("n_values") - col("n_buckets_used")).as("n_collisions"),
        col("max_bucket_load"))
      .orderBy(col("feature"))
  }
}
