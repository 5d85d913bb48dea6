package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's user-facing facade — the reference's
  * `PreProcessTransfer` lifecycle (`/root/reference/DFW/preprocess.py:
  * 24-99`) re-expressed as lazy plan construction.
  *
  * The reference couples state: `__init__` eagerly loads + cuts
  * indices, `generator` materializes and caches CV slices, the `train`
  * setter recomputes everything (`preprocess.py:244-298`), and
  * `get_cv_data` silently depends on `generator` having run first
  * (`preprocess.py:69-74,91-96`). Here every accessor derives a fresh
  * `DataFrame` plan from immutable inputs — re-configuration is
  * [[withTrain]]/[[withCv]] returning a new facade (lazy evaluation
  * makes the reference's recompute free), and there is no hidden
  * ordering between calls.
  *
  * Expected input schemas (SURVEY.md §1.2):
  *  - samples: `(db STRING, descriptor STRING, cls INT/LONG,
  *    sample_id LONG, features ARRAY<DOUBLE>)`
  *  - permutations (optional): `(db, descriptor, cls, trial INT,
  *    pos LONG, sample_id LONG)` — pre-stored orderings; when absent,
  *    a deterministic hash ordering replaces them (same role: seed-free
  *    reproducible splits).
  */
final class PreProcess(
    samples: DataFrame,
    permutations: Option[DataFrame],
    val trainSpec: SplitOps.TrainSpec,
    val cv: Int,
    center: Boolean,
    extend: Boolean,
    classRange: (Int, Int)) {

  private val keys = Seq("db", "descriptor", "cls")

  /** T11: the reference's `train` setter — a new lazy facade, nothing
    * recomputed until an action (`preprocess.py:244-267,292-298`).
    */
  def withTrain(spec: SplitOps.TrainSpec): PreProcess =
    new PreProcess(samples, permutations, spec, cv, center, extend, classRange)

  def withCv(newCv: Int): PreProcess =
    new PreProcess(samples, permutations, trainSpec, newCv, center, extend, classRange)

  /** P1 applied at scan time — pushed into the Parquet read. */
  private def sliced: DataFrame = SliceOps.classRange(samples, "cls", classRange)

  /** J1/J2 + W1 ordering: rank every sample inside its class, by the
    * stored permutation when present (gather join), else by a
    * deterministic hash of the sample id.
    */
  def ranked(trial: Int): DataFrame = permutations match {
    case Some(perm) =>
      val p = PermOps.normalizeIndices(
        perm.filter(col("trial") === trial), keys, "pos")
      SplitOps.rankByPermutation(
        sliced.join(p.select((keys :+ "sample_id" :+ "pos").map(col): _*), keys :+ "sample_id"),
        keys, Seq(col("pos")))
    case None =>
      SplitOps.rankByPermutation(
        sliced.withColumn("pos", xxhash64(col("sample_id"), lit(trial))),
        keys, Seq(col("pos"), col("sample_id")))
  }

  /** The reference's `generator` (`preprocess.py:44-89`): gather →
    * extend → split → label → center, returned as one long DataFrame
    * with `role` ∈ {train, test} (labels are the carried `cls` column).
    *
    * Centering matches the reference exactly: the mean is taken over
    * the **concatenated train matrix per (db, descriptor) across ALL
    * classes** (`preprocess.py:76-79` — `train[descriptor]` is the
    * concatenation of every class's train slice), not per class.
    */
  def generator(trial: Int): DataFrame = {
    val split = SplitOps.trainTestSplit(ranked(trial), trainSpec, cv)
    val extended =
      if (extend) split.withColumn("features", TransformOps.extendBias(col("features")))
      else split
    if (center)
      TransformOps.centerFeatureArray(extended, Seq("db", "descriptor"), "role", "features")
    else extended
  }

  /** W3/W4 + W6 + T3: per-fold CV materialization over the train rows
    * of [[generator]]'s split, with per-fold centering when enabled
    * (`preprocess.py:68-74,81-84,91-96` without the hidden cache).
    *
    * Mirrors the reference's ordering: the bias column is appended to
    * `class_data` BEFORE the train cut (`preprocess.py:54-56`), so CV
    * slices include it; each fold is then centered by its own train
    * mean, taken per (db, descriptor, cv_fold) across all classes —
    * the CV slices are snapshots of the *uncentered* train matrix
    * (numpy fancy indexing copies at `preprocess.py:68-74`), which the
    * lazy re-derivation here reproduces.
    */
  def cvData(trial: Int): DataFrame = {
    val train = SplitOps.trainTestSplit(ranked(trial), trainSpec, cv)
      .filter(col("role") === "train")
      .withColumn("train_n", col("train_size"))
      // re-rank within the train prefix so fold positions are 0..train_n-1
      .withColumn("pos", col("rn") - 1)
    val extended =
      if (extend) train.withColumn("features", TransformOps.extendBias(col("features")))
      else train
    val folded = SplitOps.linspaceFolds(extended, cv)
    val assigned = SplitOps.cvAssign(folded, cv)
    if (center)
      TransformOps.centerFeatureArray(assigned, Seq("db", "descriptor", "cv_fold"),
        "cv_role", "features")
    else assigned
  }

  /** T5: `get_class_num` (`preprocess.py:280-281`). */
  def classNum: DataFrame =
    TransformOps.classCount(sliced, Seq("db", "descriptor"), "cls")

  /** W5: cross-class offsets into the concatenated train matrix
    * (`preprocess.py:128-136`).
    */
  def offsets(trial: Int): DataFrame = {
    val perClass = SplitOps.trainTestSplit(ranked(trial), trainSpec, cv)
      .groupBy(keys.map(col): _*).agg(max(col("train_size")).as("train_size"))
    SplitOps.classOffsets(perClass, "cls", "train_size", Seq("db", "descriptor"))
  }
}

object PreProcess {

  /** Per-DATABASE split configuration — the decoded unit of the
    * reference's `self._config[database]` (`preprocess.py:319-372`
    * outer loop; T10 `matchAndFill` distributes raw config entries to
    * databases the same way).
    */
  final case class DbConfig(db: String, train: SplitOps.TrainSpec, cv: Int)

  /** Multi-DATABASE generator (VERDICT r8 item 7): the reference
    * iterates databases, each cut under its OWN decoded train/cv
    * config (`preprocess.py:110-141,319-372`). Here N databases split
    * in ONE lazy plan: the per-db config is a broadcast literal table
    * and the W2 clamp is the column-parameterized
    * [[SplitOps.trainSizeColDyn]] — the same formula the scalar facade
    * delegates to (RefDiffSpec pins it against the executable
    * reference). The rank shuffle carries (db, descriptor, cls), so N
    * databases cost one wider shuffle, not N sequential plans — at
    * 100 TB the reference's per-database driver loop becomes a single
    * co-partitioned pass.
    *
    * `samples` must carry `db`, `descriptor`, `cls`, `sample_id`,
    * `features`, and the J1 gather order in `orderCols` (a TOTAL
    * order within each (db, descriptor, cls) group). Centering, when
    * enabled, is per (db, descriptor) over the concatenated train
    * matrix — the reference's `preprocess.py:76-79` semantics, per
    * database.
    */
  def generatorMulti(samples: DataFrame, configs: Seq[DbConfig],
                     orderCols: Seq[Column],
                     center: Boolean = false, extend: Boolean = false): DataFrame = {
    require(configs.nonEmpty, "generatorMulti needs at least one database config")
    require(configs.map(_.db).distinct.length == configs.length,
      "one config per database")
    val spark = samples.sparkSession
    import spark.implicits._
    val cfg = configs.map { c =>
      val (t, isInt) = c.train match {
        case SplitOps.All => (-1.0, false)
        case SplitOps.Frac(f) => (f, false)
        case SplitOps.Count(k) => (k.toDouble, true)
      }
      (c.db, t, isInt, c.cv)
    }.toDF("db", "__train", "__is_int", "__cv")
    // The union rank stays LAZY even with two consumers (centering
    // on): r19 re-measured the r18 "freeze wins at sf0.1" result after
    // the plan-stat partition sizing landed and it no longer holds at
    // ANY decade — warmed TimeQ medians, idle box,
    // gen_pipeline_multidb: sf0.1 lazy 5.6 s vs frozen 7.6 s, sf1
    // 13.2 vs 14.1, sf10 98 vs 263 (a localCheckpoint writes and
    // re-reads the FULL 75 M-row ranked table; the re-derivation the
    // second consumer pays is a pruned scan + range exchange, which
    // scales with the pruned columns instead).
    val ranked = SplitOps.rankByPermutationScalable(
      samples, Seq("db", "descriptor", "cls"), orderCols)
    val split = ranked.join(broadcast(cfg), "db")
      .withColumn("train_size",
        SplitOps.trainSizeColDyn(col("n"), col("__train"), col("__is_int"), col("__cv")))
      .withColumn("role",
        when(col("rn") <= col("train_size"), lit("train")).otherwise(lit("test")))
      .drop("__train", "__is_int", "__cv")
    val extended =
      if (extend) split.withColumn("features", TransformOps.extendBias(col("features")))
      else split
    if (center)
      TransformOps.centerFeatureArray(extended, Seq("db", "descriptor"), "role", "features")
    else extended
  }

  /** Build with the reference's defaults (`predefine.py:17-22`). */
  def apply(samples: DataFrame,
            permutations: Option[DataFrame] = None,
            config: Config.ProcessConfig = Config.ProcessConfig(),
            load: Config.LoadConfig = Config.LoadConfig()): PreProcess =
    new PreProcess(samples, permutations, config.train.head, config.cv,
      config.center, config.extend, load.range)

  /** Build straight from the reference's native `.mat` layout
    * (S1, `tools.py:58-79`): `x` feature cells become the samples,
    * `r` permutation cells the stored orderings — both through the
    * graft-mat DataSource V2.
    */
  def fromMat(spark: org.apache.spark.sql.SparkSession, path: String,
              db: String = "default", descriptor: String = "default",
              config: Config.ProcessConfig = Config.ProcessConfig(),
              load: Config.LoadConfig = Config.LoadConfig()): PreProcess =
    apply(graft.sources.Tables.matSamples(spark, path, db, descriptor),
      Some(graft.sources.Tables.matPermutations(spark, path, db, descriptor)),
      config, load)
}
