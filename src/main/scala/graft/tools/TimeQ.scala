package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: time one named query N times in a single JVM and dump
  * its formatted plan. `tools/run.sh graft.tools.TimeQ <name> <sfDir>`.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cpus]")
          .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val name = args(0); val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    // accept a single name, a comma list, or a `pfx*` prefix glob so a
    // whole query family can be timed in one warmed JVM
    val names: Seq[String] =
      if (name.endsWith("*")) graft.Queries.queryMap.keys.toSeq.sorted
        .filter(_.startsWith(name.dropRight(1)))
      else name.split(",").toSeq
    for (n <- names) {
      val fn = graft.Queries.queryMap(n)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"RUN$i $n%s $sec%.3f")
        sec
      }
      println(f"MEDIAN $n%s ${times.sorted.apply(times.size / 2)}%.3f")
      if (sys.env.contains("EXPLAIN")) fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
