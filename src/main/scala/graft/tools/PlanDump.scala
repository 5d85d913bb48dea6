package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev harness: dump `.explain("formatted")` for named queries to
  * files — the plan evidence the optimization rounds commit under
  * `plans/<round>/<query>_<suffix>.txt`.
  *
  * `tools/run.sh graft.tools.PlanDump <outDir> <suffix> <sfDir> <name>[,name...]`
  * (a `pfx*` glob selects a family, same as TimeQ).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cpus]")
          .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get(args(0)); val suffix = args(1); val dir = args(2)
    Files.createDirectories(outDir)
    val names: Seq[String] =
      if (args(3).endsWith("*")) graft.Queries.queryMap.keys.toSeq.sorted
        .filter(_.startsWith(args(3).dropRight(1)))
      else args(3).split(",").toSeq
    for (n <- names) {
      val df = graft.Queries.queryMap(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"WROTE $n")
    }
    spark.stop()
  }
}
