package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/test split, K-fold assignment, and offset accumulation
  * (SURVEY.md §2.4, W1–W6) re-expressed as window/join operators.
  *
  * Semantics pinned against the reference:
  *  - train-size clamps:      `/root/reference/DFW/preprocess.py:161-173`
  *  - rotation CV (size<cv):  `preprocess.py:179-184`
  *  - linspace folds:         `preprocess.py:185-191`
  *  - cross-class offsets:    `preprocess.py:128-136`
  *
  * All operators are per-class window computations partitioned by the
  * class keys: at cluster scale each class's rank assignment is a
  * single shuffle on the class key, and every downstream op reuses
  * that partitioning (no second shuffle until the centering aggregate).
  */
object SplitOps {

  /** How much of each class goes to the train side
    * (reference `preprocess.py:161-173`).
    */
  sealed trait TrainSpec
  /** `train == -1`: everything is train. */
  case object All extends TrainSpec
  /** `0 < f < 1`: banker's-rounded fraction, clamped up to `min(size, cv)`. */
  final case class Frac(f: Double) extends TrainSpec
  /** integer `>= 1`: `min(k, size)`, clamped up to `min(cv, size)`. */
  final case class Count(k: Int) extends TrainSpec

  /** Round-half-to-even on a non-negative double column — Python's
    * builtin `round` used at `preprocess.py:165`. Spark's `round` is
    * HALF_UP, so 2.5 would round to 3 instead of the reference's 2.
    * Returns LongType.
    */
  def roundHalfEven(x: Column): Column =
    when(x - floor(x).cast("double") === 0.5, floor(x) + pmod(floor(x), lit(2L)))
      .otherwise(floor(x + 0.5))

  /** W2 with COLUMN parameters — the multi-database shape
    * (`preprocess.py:319-372`): each database carries its own train
    * setting and cv in config columns, so one plan splits them all.
    * `train` is the reference's raw scalar (-1 / fraction / count) as
    * a double column; `trainIsInt` disambiguates `1` (count) from a
    * fraction, mirroring the reference's isinstance(int) check
    * (`preprocess.py:167`). The scalar [[trainSizeCol]] delegates
    * here, so both surfaces share one formula (RefDiffSpec checks it
    * against the executable reference over 1000+ random configs).
    */
  def trainSizeColDyn(n: Column, train: Column, trainIsInt: Column, cv: Column): Column = {
    val cvL = cv.cast("long")
    val frac = {
      val s = roundHalfEven(n.cast("double") * train)
      when(s < cvL, least(n, cvL)).otherwise(s)
    }
    val cnt = {
      val s = least(train.cast("long"), n)
      when(s < cvL, least(cvL, n)).otherwise(s)
    }
    when(train === -1, n)
      .when(!trainIsInt && train > 0 && train < 1, frac)
      .when(trainIsInt && train >= 1, cnt)
  }

  /** W2: per-class train size with the reference's clamp rules.
    * `n` is the class size (LongType column); result is LongType.
    */
  def trainSizeCol(n: Column, spec: TrainSpec, cv: Int): Column = spec match {
    case All => trainSizeColDyn(n, lit(-1.0), lit(false), lit(cv))
    case Frac(f) =>
      require(f > 0 && f < 1, "\"train\" fraction must be between 0 and 1")
      trainSizeColDyn(n, lit(f), lit(false), lit(cv))
    case Count(k) =>
      require(k >= 1, "\"train\" count must be a positive integer")
      trainSizeColDyn(n, lit(k.toDouble), lit(true), lit(cv))
  }

  /** Rank every sample within its class by the permutation key
    * (J1's ordering): adds `rn` (1-based), `pos` (0-based) and `n`
    * (class size). One shuffle on `clsCols`; everything downstream
    * (split, folds, offsets) reuses it.
    */
  def rankByPermutation(df: DataFrame, clsCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(clsCols.map(col): _*).orderBy(orderCols: _*)
    val wAll = Window.partitionBy(clsCols.map(col): _*)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pos", col("rn") - 1)
      .withColumn("n", count(lit(1)).over(wAll))
  }

  /** Scale-path variant of [[rankByPermutation]]. The plain version
    * windows over `partitionBy(clsCols)` — with few classes (lineitem
    * has 3 return flags) every row of a class lands on ONE task, which
    * is the classic low-cardinality window bottleneck at 100 TB.
    *
    * Two-phase distributed rank instead:
    *  1. `repartitionByRange(clsCols ++ orderCols)` — order-preserving
    *     even spread over [[adaptiveRangeParts]] tasks (no skew: the
    *     range partitioner samples the sort key);
    *  2. local `row_number` within (class, physical partition);
    *  3. per-(class, partition) counts — a TINY table (partitions ×
    *     classes rows) — turned into cumulative offsets and class sizes, then
    *     **broadcast** back; global rank = local rank + offset.
    *
    * Output contract identical to [[rankByPermutation]]: `rn`, `pos`,
    * `n`. Requires `orderCols` to be a total order (ties crossing a
    * range boundary would get arbitrary relative ranks otherwise) —
    * the same requirement oracle determinism already imposes.
    *
    * The range shuffle is sized from the input plan's size estimate
    * via [[adaptiveRangeParts]].
    *
    * The ranked rows are NOT frozen, although two consumers (the
    * offset aggregate and the final join) read them — MEASURED, not
    * assumed (r18/r19 TimeQ): the re-derivation the second consumer
    * pays is a column-pruned scan + range exchange, while an eager
    * checkpoint writes the FULL ranked table (medianCi 2.6s → 9.3s,
    * robustScale 2.8s → 9.3s frozen; generatorMulti's union rank at
    * sf10 98 s lazy vs 263 s frozen).
    */
  def rankByPermutationScalable(df: DataFrame, clsCols: Seq[String],
                                orderCols: Seq[Column]): DataFrame = {
    val parted = df
      .repartitionByRange(adaptiveRangeParts(df), clsCols.map(col) ++ orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy((clsCols :+ "__pid").map(col): _*).orderBy(orderCols: _*)
    val local = parted.withColumn("__lrn", row_number().over(localW).cast("long"))
    val counts = local.groupBy((clsCols :+ "__pid").map(col): _*).agg(count(lit(1)).as("__c"))
    val offW = Window.partitionBy(clsCols.map(col): _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nW = Window.partitionBy(clsCols.map(col): _*)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(offW), lit(0L)))
      .withColumn("n", sum(col("__c")).over(nW))
      .drop("__c")
    local.join(broadcast(offsets), clsCols :+ "__pid")
      .withColumn("rn", col("__lrn") + col("__off"))
      .withColumn("pos", col("rn") - 1)
      .drop("__pid", "__lrn", "__off")
  }

  /** Range-partition count from the input plan's optimizer size
    * estimate: one partition per ~2 MB of ESTIMATED input (estimates
    * are compressed, column-pruned file bytes — ~2 MB estimated is
    * roughly tens of MB of in-memory sort state per task), clamped to
    * [cores, 32×cores].
    *
    * Why not AQE-chosen (no explicit count)? The two-phase ops read
    * the `spark_partition_id()` map from two plan branches, and an
    * AQE-coalesced user repartition can diverge per branch — the
    * exact failure [[graft.dfw.WindowOps.orderedAnalyticsScalable]]'s
    * freeze note documents. A count computed once on the driver is
    * deterministic across branches with no materialization cost.
    *
    * Why not a fixed count? The sf10 second-decade proof: 120 M-row
    * sorts in 32 partitions spill, turning a 10× data step into a
    * ~29× time step (gen_pipeline_multi, BASELINE.md decade table).
    *
    * Base parallelism is `sparkContext.defaultParallelism` (cores
    * locally, total executor cores on a cluster), NOT
    * `conf.numShufflePartitions` — with AQE coalescing on, the latter
    * silently resolves to `initialPartitionNum` (8× cores), which the
    * r19 stats-guard probe measured as an 8×-inflated FLOOR (findings
    * in OPTIMIZATION_r19.md §6): every
    * small-input rank paid a 256-partition range exchange (2.0 s vs
    * 1.1 s per rank at sf0.1) while the ceiling ballooned to 8192 and
    * let a garbage post-join size estimate (size-only stats MULTIPLY
    * join sides: 211 TB estimated for 50 MB of data) cost 23 s vs 3 s
    * on identical rows. With cores as the base: sf0.1 → 32 parts
    * (measured 1.1 s), sf1 → 32 (wash vs 256), sf10 → ~250 (measured
    * faster than 64; the decade spill class stays partitioned), and
    * garbage estimates cap at 32×cores ~ms-scheduling tasks.
    *
    * KNOWN LIMIT (the r19 probe's `exploded*` scenarios,
    * OPTIMIZATION_r19.md): an
    * expansion ABOVE the scan (explode/Generate) keeps ~child-size
    * stats, so the estimate undershoots by the expansion factor and a
    * decade-scale exploded rank lands on the floor and spills
    * (gracefully). No declared query ranks post-explode. No
    * driver-side rule can see through stats that are wrong by
    * construction without materializing the input first, so the
    * limit stays: such a rank degrades by spilling, not by failing.
    *
    * The floor is never below 2: a local[1] session still spreads the
    * two-phase scalable operators over more than one range partition,
    * so their cross-partition fix-up runs at every core count.
    */
  def adaptiveRangeParts(df: DataFrame): Int = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = bytes / (2L * 1024 * 1024)
    target.max(BigInt(parallelism)).min(BigInt(parallelism) * 32).max(2).toInt
  }

  /** W1+W2: tag each ranked row `train` / `test`. Expects the columns
    * added by [[rankByPermutation]]. Adds `train_size` and `role`.
    * (reference `preprocess.py:176`).
    */
  def trainTestSplit(ranked: DataFrame, spec: TrainSpec, cv: Int): DataFrame = {
    val ts = trainSizeCol(col("n"), spec, cv)
    ranked
      .withColumn("train_size", ts)
      .withColumn("role", when(col("rn") <= col("train_size"), lit("train")).otherwise(lit("test")))
  }

  /** W3: linspace fold assignment for the train rows of each class,
    * matching `math.floor(np.linspace(0, n, cv+1))` exactly
    * (`preprocess.py:185-191`): boundary_i = floor(i * (n/cv)) computed
    * in IEEE double — except the last boundary, which numpy pins to
    * exactly n. Worked examples from the reference's own comments:
    * n=8,cv=5 → folds [[0],[1,2],[3],[4,5],[6,7]];
    * n=7,cv=5 → [[0],[1],[2,3],[4],[5,6]].
    *
    * Expects `pos` (0-based rank within class) and a `train_n` column
    * holding the per-class train size; adds `fold`. Implemented as a
    * broadcast nested-loop join against a cv-row literal table — the
    * fold table is tiny, so this never shuffles the data side.
    */
  def linspaceFolds(trainRows: DataFrame, cv: Int): DataFrame =
    linspaceFoldsDyn(trainRows, lit(cv), cv)

  /** [[linspaceFolds]] with a COLUMN cv (multi-database shape): the
    * fold table spans `maxCv` rows and each data row keeps only the
    * folds below its own `cvCol`. Scalar callers delegate here with
    * `cvCol = lit(cv), maxCv = cv` — identical join (the `fold < cv`
    * term is trivially true), one shared formula.
    */
  def linspaceFoldsDyn(trainRows: DataFrame, cvCol: Column, maxCv: Int): DataFrame = {
    val spark = trainRows.sparkSession
    val folds = spark.range(maxCv).select(col("id").cast("int").as("fold"))
    val step = col("train_n").cast("double") / cvCol.cast("double")
    val lo = floor(col("fold") * step)
    val hi = when(col("fold") === cvCol - 1, col("train_n"))
      .otherwise(floor((col("fold") + 1) * step))
    trainRows.join(broadcast(folds),
      col("fold") < cvCol && col("pos") >= lo && col("pos") < hi)
  }

  /** W4: rotation (leave-one-out round-robin) CV for classes whose
    * train size is smaller than cv (`preprocess.py:179-184`): fold i
    * tests the single sample at `pos == i mod n`, trains on the rest.
    * Produces one (fold, role) row per sample per fold.
    */
  def rotationFolds(trainRows: DataFrame, cv: Int): DataFrame =
    rotationFoldsDyn(trainRows, lit(cv), cv)

  /** [[rotationFolds]] with a COLUMN cv — see [[linspaceFoldsDyn]]. */
  def rotationFoldsDyn(trainRows: DataFrame, cvCol: Column, maxCv: Int): DataFrame = {
    val spark = trainRows.sparkSession
    val folds = spark.range(maxCv).select(col("id").cast("int").as("fold"))
    trainRows.join(broadcast(folds), col("fold") < cvCol)
      .withColumn("cv_role",
        when(col("pos") === pmod(col("fold").cast("long"), col("train_n")), lit("test"))
          .otherwise(lit("train")))
  }

  /** W6: CV data materialization — expand fold-assigned rows into one
    * row per (sample, cv_fold) pair: a sample is `test` in the fold
    * matching its own chunk and `train` everywhere else (the
    * complement slicing of `preprocess.py:68-74,91-96`). Broadcast
    * nested-loop against the cv-row fold table: the data side never
    * shuffles and its `(cls)` partitioning survives for the per-fold
    * centering aggregate that typically follows.
    */
  def cvAssign(foldedRows: DataFrame, cv: Int): DataFrame =
    cvAssignDyn(foldedRows, lit(cv), cv)

  /** [[cvAssign]] with a COLUMN cv — see [[linspaceFoldsDyn]]. */
  def cvAssignDyn(foldedRows: DataFrame, cvCol: Column, maxCv: Int): DataFrame = {
    val spark = foldedRows.sparkSession
    val folds = spark.range(maxCv).select(col("id").cast("int").as("cv_fold"))
    foldedRows.join(broadcast(folds), col("cv_fold") < cvCol)
      .withColumn("cv_role",
        when(col("fold") === col("cv_fold"), lit("test")).otherwise(lit("train")))
  }

  /** W5: cross-class offset accumulation — each class's CV indices are
    * shifted by the cumulative train sizes of preceding classes
    * (`preprocess.py:128-136`).
    *
    * With `partitionCols` this is a running-sum analytic window with an
    * explicit `rowsBetween(unboundedPreceding, -1)` frame — one window
    * partition per (db, descriptor) group.
    *
    * With no `partitionCols` the accumulation is GLOBAL and the single
    * window partition IS the semantics — safe only because `perClass`
    * is a one-row-per-class summary (#classes rows); callers
    * accumulating across many (db, descriptor) groups must pass
    * `partitionCols`. The partition key is a data-derived constant
    * zero rather than nothing or `lit(0)`: value-wise one partition,
    * but (a) not foldable, so Catalyst cannot strip it back to an
    * empty partition spec (which would make WindowExec warn about an
    * accidental `No Partition Defined` all-to-one move — here it is
    * deliberate), and (b) still ONE derivation of the input plan —
    * a triangular-join formulation was measured re-deriving the whole
    * upstream split pipeline twice, a disastrous trade at scale.
    */
  def classOffsets(perClass: DataFrame, orderCol: String, trainSizeCol: String,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    val base =
      if (partitionCols.isEmpty)
        Window.partitionBy(length(col(orderCol).cast("string")) * 0).orderBy(col(orderCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(Window.unboundedPreceding, -1)
    perClass.withColumn("offset", coalesce(sum(col(trainSizeCol)).over(w), lit(0L)))
  }

  /** Deterministic hash split — train/val/test membership as a pure
    * function of the row KEY, the industry default for dataset
    * splits: membership is STABLE under data growth, re-partitioning,
    * engine change, and re-runs (a rank split like [[splitByRank]]
    * reshuffles membership every time a row is added, silently
    * contaminating yesterday's test set into today's train set).
    * Cumulative fraction boundaries over a hash in [0, 1e6); rows
    * past the last boundary take the last label, so fractions that
    * sum to 1 partition exactly.
    *
    * Pure per-row expression — no shuffle, no state, codegen'd; the
    * hash is pluggable so an engine-neutral hash (md5) makes
    * membership externally reproducible.
    *
    * @return input plus `hash_val` (the row's hash in [0, 1e6) — a
    *         PUBLIC column: it certifies membership externally, feeds
    *         the w_hash_split checksum oracle, and lets an auditor
    *         recompute the boundary comparison; drop it downstream if
    *         the pipeline doesn't need the certificate) and `split`
    */
  def hashSplit(df: DataFrame, keyCol: Column,
                fractions: Seq[(String, Double)],
                hash: Column => Column): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0))
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val hv = pmod(hash(keyCol), lit(1000000L))
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val expr0: Column = lit(fractions.last._1)
    val split = fractions.init.zip(bounds.init).reverse
      .foldLeft(expr0) { case (els, ((label, _), cum)) =>
        when(hv < lit(math.round(cum * 1000000)), lit(label)).otherwise(els)
      }
    df.withColumn("hash_val", hv).withColumn("split", split)
  }

  /** Temporal leave-last-k-out split — the forecasting/evaluation
    * counterpart of the permutation splits: per entity, the k MOST
    * RECENT rows (by (time, tiebreak) total order) become test, the
    * rest train. Random splits leak the future into training on any
    * time-dependent target; this is the split shape time-series and
    * recommender evals require.
    *
    * One `row_number` window per entity (high-cardinality key — no
    * single-reducer sort anywhere); entities with ≤ k rows go entirely
    * to test, matching the "too short to train on" convention.
    */
  def temporalSplit(df: DataFrame, entityCol: String, tsCol: String,
                    tieCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rev", row_number().over(w))
      .withColumn("split", when(col("__rev") <= k, lit("test")).otherwise(lit("train")))
      .drop("__rev")
  }

  /** Neyman-allocation stratified sample (Neyman 1934): a fixed
    * budget of `totalN` rows split across strata proportional to
    * N_h·S_h — high-variance strata get MORE than their population
    * share, which minimizes the variance of the estimated mean at
    * fixed budget (proportional allocation is what
    * [[graft.dfw.TransformOps]]' plain stratified sample does; this
    * is the optimal-for-estimation variant an eval-set builder
    * wants).
    *
    * Determinism: S_h comes from exact integer moments of the
    * micro-quantized metric; allocation weights quantize to ppm
    * before the integer `n·w_h div Σw` split, so every n_h replays
    * in any engine. Row selection is the hash-rank rule: the
    * per-stratum limit n_h is a COLUMN, which WindowGroupLimit can't
    * push, so the filter carries a constant `rank ≤ totalN` conjunct
    * — n_h ≤ totalN always — letting each map task keep only its
    * local top-totalN per stratum before the shuffle.
    *
    * @param valueQ integer-quantized metric column (quantize doubles
    *               upstream — exact Σx² needs integers)
    * @param keyCol unique row key: hash-rank order and checksum
    * @return one row per stratum: `stratum, n_pop, sd_q` (std-dev on
    *         the input's quantized grid, 4 dp), `alloc_n, sampled_n,
    *         key_checksum`, ordered by stratum
    */
  def neymanAllocationSample(df: DataFrame, stratumCol: Column,
                             valueQ: Column, keyCol: Column,
                             totalN: Long): DataFrame = {
    require(totalN >= 1)
    val base = df.select(stratumCol.as("stratum"), valueQ.cast("long").as("xq"),
      keyCol.cast("long").as("k"))
    val stats = base.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_pop"), sum(col("xq")).as("__sx"),
        sum(col("xq").cast("decimal(38,0)") * col("xq").cast("decimal(38,0)"))
          .as("__sxx"))
      .withColumn("__sd", when(col("n_pop") > 1,
        sqrt((col("__sxx") * col("n_pop") - col("__sx").cast("decimal(38,0)")
          * col("__sx").cast("decimal(38,0)")).cast("double")
          / (col("n_pop").cast("double") * (col("n_pop") - 1).cast("double"))))
        .otherwise(lit(0.0)))
      // weight N_h·S_h on the integer ppm grid BEFORE the ratio split
      .withColumn("__wq", round(col("n_pop").cast("double") * col("__sd")).cast("long"))
    val totalW = stats.agg(sum(col("__wq")).as("__tw"))
    val alloc = stats.crossJoin(broadcast(totalW))
      .withColumn("alloc_n", least(col("n_pop"),
        when(col("__tw") > 0, expr("(__wq * " + totalN + "L) div __tw"))
          .otherwise(lit(0L))))
      .select(col("stratum").as("__st"), col("n_pop"), col("__sd"), col("alloc_n"))
    val ranked = base.join(broadcast(alloc), col("stratum") === col("__st"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("stratum"))
          .orderBy(md5(concat(lit("ns:"), col("k").cast("string"))), col("k"))))
      .where(col("__rn") <= lit(totalN) && col("__rn") <= col("alloc_n"))
    ranked.groupBy(col("stratum"))
      .agg(count(lit(1)).as("sampled_n"), sum(col("k")).as("key_checksum"))
      .join(alloc.withColumnRenamed("__st", "stratum"), Seq("stratum"), "right")
      .select(col("stratum"), col("n_pop"), round(col("__sd"), 4).as("sd_q"),
        col("alloc_n"), coalesce(col("sampled_n"), lit(0L)).as("sampled_n"),
        coalesce(col("key_checksum"), lit(0L)).as("key_checksum"))
      .orderBy(col("stratum"))
  }
}
