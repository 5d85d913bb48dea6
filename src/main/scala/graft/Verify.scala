package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: a 3rd arg restricts the dump to comma-separated query
    // names (the driver always calls with exactly two)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuned(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.ui.enabled", "false"),
        cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only fault injection: SPARK_GRAFT_VERIFY_FAIL=name forces that
    // query to throw, exercising the error-row path below end-to-end
    val injectFail = sys.env.get("SPARK_GRAFT_VERIFY_FAIL")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        if (injectFail.contains(name))
          throw new IllegalStateException("injected failure (SPARK_GRAFT_VERIFY_FAIL)")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // A failed query must stay VISIBLE in the round artifact: write a
        // one-row parquet carrying the error so the driver's compare sees
        // an entry (guaranteed red: schema/hash mismatch) instead of the
        // query silently vanishing from the denominator — in round 11 ten
        // regressed queries left no trace and the artifact read as a
        // perfect 113/113.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        import spark.implicits._
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    // Resolve index-table placeholders: the ANN oracles replay the
    // SAME persisted parquet index the engine queries loaded (built
    // above during the query run), so the path must be the one THIS
    // process resolved (GRAFT_INDEX_DIR / java.io.tmpdir aware).
    def resolve(sql: String): String = {
      // corpus-ADAPTIVE index placeholders (x3_ann_ivf_indexed_scaled):
      // the list count is a function of the corpus, so the path is
      // resolved through the same helper the query body used
      lazy val na = Queries.adaptiveNlistFor(spark, sfDir)
      val a = sql
        .replace("__GRAFT_IVF_CA__", Queries.ivfIndexPath(sfDir, na))
        .replace("__GRAFT_IVF_BA__", Queries.ivfListsPath(sfDir, na))
      val c = "__GRAFT_IVF_C(\\d+)__".r.replaceAllIn(a,
        m => Queries.ivfIndexPath(sfDir, m.group(1).toInt))
      val b = "__GRAFT_IVF_B(\\d+)__".r.replaceAllIn(c,
        m => Queries.ivfListsPath(sfDir, m.group(1).toInt))
      val g = "__GRAFT_IVF_G(\\d+)__".r.replaceAllIn(b,
        m => Queries.ivfGateListsPath(sfDir, m.group(1).toInt))
      "__GRAFT_IVF_D(\\d+)__".r.replaceAllIn(g,
        m => Queries.ivfDeletedListsPath(sfDir, m.group(1).toInt))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(resolve(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
