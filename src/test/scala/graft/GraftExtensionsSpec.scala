package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.functions.VectorFunctions
import graft.plans.GraftExtensions

/** The injected optimizer rule must fuse nested quantize+dot into the
  * single-pass expression without changing results; the AQE runtime
  * rule `SmallSortOnePartition` (installed by `GraftSession.tuned`, so
  * the suite session has it) must sort small inputs in one partition
  * and leave everything else range-partitioned.
  */
class GraftExtensionsSpec extends SparkSpec {

  private lazy val extSpark: SparkSession = {
    // getOrCreate returns the suite-shared default session (extensions
    // ignored) unless the default is cleared; the new session shares
    // the SparkContext, and the shared default is restored after.
    val shared = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master(shared.sparkContext.master)
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(GraftExtensions.install)
      .getOrCreate()
    SparkSession.setDefaultSession(shared)
    s
  }

  test("long_dot(quantize_vec, quantize_vec) is rewritten to quantized_dot") {
    import extSpark.implicits._
    // a non-foldable source so the optimizer can't collapse the whole
    // expression into a LocalRelation before we inspect the plan
    val df = extSpark.range(1)
      .select(
        expr("transform(sequence(1, 2), i -> CAST(i + id AS FLOAT))").as("a"),
        expr("transform(sequence(3, 4), i -> CAST(i + id AS FLOAT))").as("b"))
      .select(VectorFunctions.longDot(
        VectorFunctions.quantizeVec(col("a")), VectorFunctions.quantizeVec(col("b"))).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    optimized should include("quantized_dot")
    optimized should not include "long_dot"
    // id=0: a=[1,2], b=[3,4]
    df.as[Long].head() shouldBe (1000L * 3000L + 2000L * 4000L)
  }

  test("custom expressions are callable from pure SQL in an extended session") {
    val row = extSpark.sql(
      """SELECT quantized_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                     array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS qd,
        |       long_dot(quantize_vec(array(CAST(1.0 AS FLOAT))),
        |                quantize_vec(array(CAST(2.0 AS FLOAT)))) AS ld,
        |       quantized_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)), 10) AS scaled,
        |       pq_adc_dot(array(CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |                  array(array(CAST(10 AS BIGINT), CAST(20 AS BIGINT)),
        |                        array(CAST(30 AS BIGINT), CAST(40 AS BIGINT)))) AS adc
        |""".stripMargin).head()
    row.getLong(0) shouldBe (1000L * 3000L + 2000L * 4000L)
    row.getLong(1) shouldBe 1000L * 2000L
    row.getLong(2) shouldBe 10L * 10L
    row.getLong(3) shouldBe 20L + 30L // tbl[0][1] + tbl[1][0]
  }

  test("hoisted quantize columns are NOT un-hoisted (pattern must nest directly)") {
    import extSpark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .withColumn("qa", VectorFunctions.quantizeVec(col("a")))
      .withColumn("qb", VectorFunctions.quantizeVec(col("b")))
    // CollapseProject may inline the aliases and re-expose the nested
    // pattern — correctness must hold either way.
    val out = df.select(VectorFunctions.longDot(col("qa"), col("qb")).as("d"))
    out.as[Long].head() shouldBe (1000L * 3000L + 2000L * 4000L)
  }

  // ---- SmallSortOnePartition ----

  /** A documents table as the testdata ships it: one parquet file, one
    * row group, so its scan is a single task. */
  private lazy val docsDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("small-sort").toString
    (1 to 400).map(i => (i.toLong, s"the quick brown fox $i jumps over the lazy dog ${i % 7}",
        "en", "web", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def bpeEncode: DataFrame = SparkEntry.queries("x4_bpe_encode")(spark, docsDir)

  /** Runs `df` and returns its rows and its final (post-execution) AQE plan. */
  private def runFinal(df: DataFrame): (Seq[String], String) = {
    val rows = df.collect().map(_.toString).toSeq
    val plan = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    plan.isFinalPlan shouldBe true
    (rows, plan.executedPlan.treeString)
  }

  private def withAdvisory[T](bytes: String)(body: => T): T = {
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("small sort: x4_bpe_encode sorts in one partition, no range partitioning") {
    val (_, plan) = runFinal(bpeEncode)
    plan should include("Exchange SinglePartition")
    plan.toLowerCase should not include "rangepartitioning"
  }

  test("small sort: input above the advisory partition size keeps range partitioning") {
    val (_, plan) = withAdvisory("64")(runFinal(bpeEncode))
    plan should include("rangepartitioning")
    plan should not include "Exchange SinglePartition"
  }

  test("small sort: a Generate between the last stage and the sort keeps range partitioning") {
    val df = spark.range(0, 200, 1, 1).repartition(4)
      .select(col("id"), explode(sequence(lit(1), lit(3))).as("k"))
      .orderBy(col("id"), col("k"))
    val (rows, plan) = runFinal(df)
    plan should include("rangepartitioning")
    rows should have size 600
  }

  test("small sort: results are identical with and without the rewrite") {
    def aggSorted = spark.range(0, 5000, 1, 4)
      .groupBy((col("id") % 11).as("g")).agg(sum(col("id")).as("s"))
      .orderBy(col("g"))
    for (df <- Seq(() => bpeEncode, () => aggSorted)) {
      val (rewritten, p1) = runFinal(df())
      val (ranged, p2) = withAdvisory("64")(runFinal(df()))
      p1 should include("Exchange SinglePartition")
      p2 should include("rangepartitioning")
      rewritten shouldBe ranged
    }
  }

  /** Samples as j1_perm_gather reads its orders: one parquet file, so
    * the scan is one task; `sample_id` is unique. */
  private lazy val samplesDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("gather").toString
    (1 to 3000).map(i => (s"c${i % 5}", i.toLong, i * 0.5))
      .toDF("cls", "sample_id", "price").coalesce(1).write.parquet(s"$dir/samples.parquet")
    dir
  }

  /** j1_perm_gather's shape: a permutation numbered by a window over the
    * samples, joined to a broadcast side made from the samples by
    * `build`, sorted by class and position. */
  private def gather(build: DataFrame => DataFrame): DataFrame = {
    val samples = spark.read.parquet(s"$samplesDir/samples.parquet")
    val perm = samples.select(col("cls"), col("sample_id"),
      row_number().over(Window.partitionBy(col("cls"))
        .orderBy(hash(col("sample_id")), col("sample_id"))).as("pos"))
    perm.join(broadcast(build(samples)), Seq("cls", "sample_id"))
      .select(col("cls"), col("pos"), col("sample_id"), col("price"))
      .orderBy(col("cls"), col("pos"))
  }

  private def grid: DataFrame = SparkEntry.queries("j3_grid")(spark, docsDir)

  test("small sort: a join over a unique-key broadcast side is bounded by its other side") {
    val (rows, plan) = runFinal(gather(identity))
    plan should include("Exchange SinglePartition")
    plan.toLowerCase should not include "rangepartitioning"
    rows should have size 3000
  }

  test("small sort: a broadcast side with a repeated key keeps range partitioning") {
    val (rows, plan) = runFinal(gather(s => s.union(s)))
    plan should include("BroadcastHashJoin")
    plan should include("rangepartitioning")
    rows should have size 6000
  }

  test("small sort: a nested-loop broadcast keeps range partitioning") {
    val samples = spark.read.parquet(s"$samplesDir/samples.parquet")
    val perm = samples.select(col("cls"), col("sample_id"),
      row_number().over(Window.partitionBy(col("cls")).orderBy(col("sample_id"))).as("pos"))
    val build = samples.select(col("sample_id").as("b_id"), col("price"))
    // no equi-join key: the build side broadcasts as a row array
    val df = perm.join(broadcast(build), col("sample_id") - col("b_id") === 0)
      .select(col("cls"), col("pos"), col("sample_id"), col("price"))
      .orderBy(col("cls"), col("pos"))
    val (rows, plan) = runFinal(df)
    plan should include("BroadcastNestedLoopJoin")
    plan should include("rangepartitioning")
    rows should have size 3000
  }

  test("small sort: j3_grid over local relations sorts in one partition") {
    val (rows, plan) = runFinal(grid)
    plan should include("LocalTableScan")
    plan should include("Exchange SinglePartition")
    plan.toLowerCase should not include "rangepartitioning"
    rows should have size 6
  }

  test("small sort: the gather join and the grid give the same rows with and without the rewrite") {
    for (df <- Seq(() => gather(identity), () => grid)) {
      val (rewritten, p1) = runFinal(df())
      val (ranged, p2) = withAdvisory("64")(runFinal(df()))
      p1 should include("Exchange SinglePartition")
      p2 should include("rangepartitioning")
      rewritten shouldBe ranged
    }
  }
}
