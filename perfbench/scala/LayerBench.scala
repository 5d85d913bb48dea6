package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: set up, check every query's output
  * once, run untimed warm-up passes, then run shuffled passes over the
  * workload's queries until the time budget is spent. Prints one
  * `LAYERBENCH {json}` line with the raw records; `perfbench/run.py`
  * turns them into metrics.
  *
  * Arguments are `key=value`:
  *  - `queries`: comma list of registered query names;
  *  - `sf`: directory of the input tables;
  *  - `seed`: shuffles each pass's query order, nothing else;
  *  - `seconds`: the time budget of the timed passes; a new pass starts
  *    only while at least half a typical pass of it is left;
  *  - `warmup`: untimed warm-up passes run until this many seconds are
  *    spent (at least one pass);
  *  - `trace`: 1 alternates untraced and traced passes (at least three);
  *  - `cores`: local[cores];
  *  - `index_dir`: the directory `GRAFT_INDEX_DIR` names; emptied at start;
  *  - `index_queries`: comma list (may be empty) of queries that read a
  *    persisted index; each pass starts by emptying the index directory
  *    and calling their builders once, which rebuilds the indexes;
  *  - `mode`: `run`, or `record` to print the output digests of the live
  *    queries next to those of a `graft.Verify` dump in `verify_dir`.
  */
object LayerBench {

  // ---------------------------------------------------------------
  // Output check: row count plus an order-insensitive content digest
  // ---------------------------------------------------------------

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `rows:lo:hi` where lo/hi are the sums of the low and high 32 bits
    * of every row's xxhash64 — independent of row order and partitioning.
    * Map columns (which Spark refuses to hash) are hashed as their JSON.
    */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  // ---------------------------------------------------------------
  // Tracing: one SparkListener for jobs/stages/tasks, one
  // QueryExecutionListener for plan phases and final physical plans.
  // Both only append; the driver thread reads them after draining
  // the listener bus.
  // ---------------------------------------------------------------

  final class JobRec(val id: Int, val group: String, val site: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages, stageRetries, tasks, failedTasks = 0
    var taskMs, oneTaskStageMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  final class JobTracer extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[JobRec]
    private val byId = mutable.Map.empty[Int, JobRec]
    private val stageJob = mutable.Map.empty[Int, JobRec]
    private val oneTaskStages = mutable.Set.empty[(Int, Int)]
    private val sqlSites = mutable.Map.empty[Long, String]

    // A SQL action's jobs (AQE stages included, which are submitted from
    // pool threads) carry its execution id; the execution's description
    // is the action's call site in the calling code.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { sqlSites(s.executionId) = s.description }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSites.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val j = new JobRec(e.jobId, group, site, e.time)
      jobs += j; byId(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = e.stageInfo
      stageJob.get(s.stageId).foreach { j =>
        j.stages += 1
        if (s.attemptNumber() > 0) j.stageRetries += 1
      }
      if (s.numTasks == 1) oneTaskStages += ((s.stageId, s.attemptNumber()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          if (oneTaskStages.contains((e.stageId, e.stageAttemptId))) j.oneTaskStageMs += m.executorRunTime
        }
      }
    }
    /** Jobs seen since the last call (call only after draining the bus). */
    def take(): Seq[JobRec] = synchronized {
      val out = jobs.toList
      jobs.clear(); byId.clear(); stageJob.clear(); oneTaskStages.clear(); sqlSites.clear()
      out
    }
  }

  final class PlanTracer extends QueryExecutionListener {
    private val done = mutable.ArrayBuffer.empty[QueryExecution]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { done += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { done += qe }
    def take(): Seq[QueryExecution] = synchronized { val out = done.toList; done.clear(); out }
  }

  /** Operator totals of one final (post-AQE) physical plan. Stages are
    * entered through their wrappers; a reused exchange is skipped so its
    * work is counted once, where it ran.
    */
  def planMetrics(root: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def m(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => ()
      case node =>
        node match {
          case s: FileSourceScanExec =>
            acc("sources.scan_s") += m(s, "scanTime") / 1e3
            acc("sources.scan_rows") += m(s, "numOutputRows")
            acc("sources.scan_partitions") += s.inputRDD.getNumPartitions
          case s @ (_: InMemoryTableScanExec | _: RDDScanExec | _: LocalTableScanExec) =>
            acc("sources.scan_rows") += m(s, "numOutputRows")
          case s: SortExec => acc("op.sort_s") += m(s, "sortTime") / 1e3
          case a @ (_: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec) =>
            acc("op.agg_s") += m(a, "aggTime") / 1e3
          case j: ShuffledHashJoinExec => acc("op.join_build_s") += m(j, "buildTime") / 1e3
          case b: BroadcastExchangeExec => acc("op.join_build_s") += m(b, "buildTime") / 1e3
          case e: ShuffleExchangeExec => acc("op.exchange_mb") += m(e, "dataSize") / 1e6
          case w: WholeStageCodegenExec => acc("functions.codegen_s") += m(w, "pipelineTime") / 1e3
          case _ => ()
        }
        node.children.foreach(visit)
    }
    visit(root)
    acc.toMap
  }

  // ---------------------------------------------------------------
  // JSON output (no dependency beyond the JDK and Scala)
  // ---------------------------------------------------------------

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  // ---------------------------------------------------------------

  private def emptyDir(p: Path): Unit = {
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .filter(_ != p).foreach(Files.delete)
      finally all.close()
    }
    Files.createDirectories(p)
  }

  private def dirBytes(p: Path): Long = {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally all.close()
  }

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def errText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Job groups carry no description: a description would replace the
    * call site in the SQL execution events the module attribution reads.
    */
  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val queries = kv("queries").split(",").toSeq
    val sf = kv("sf")
    val cores = kv("cores").toInt
    val indexDir = Paths.get(kv("index_dir"))
    val mode = kv.getOrElse("mode", "run")
    val workload = kv.getOrElse("workload", "w")

    val originNs = System.nanoTime()
    val originMs = System.currentTimeMillis()
    def sinceOriginS(ns: Long): Double = (ns - originNs) / 1e9
    def epochToOriginS(ms: Long): Double = (ms - originMs) / 1e3

    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cores]")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", kv("work") + "/spark-local")
          .config("spark.sql.warehouse.dir", kv("work") + "/warehouse"),
        cores)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap
    emptyDir(indexDir)

    if (mode == "record") {
      val verifyDir = kv("verify_dir")
      val rows = queries.sorted.map { q =>
        val live = digest(fns(q)(spark, sf))
        val dumped = digest(spark.read.parquet(s"$verifyDir/$q"))
        q -> Map("live" -> live, "verify" -> dumped)
      }
      println("LAYERBENCH " + json(rows.toMap))
      spark.stop()
      return
    }

    val seed = kv("seed").toLong
    val budgetNs = (kv("seconds").toDouble * 1e9).toLong
    val traced = kv("trace") == "1"
    val indexQueries = kv.getOrElse("index_queries", "").split(",").toSeq.filter(_.nonEmpty)

    def buildIndexes(): Unit = indexQueries.foreach(q => fns(q)(spark, sf))

    // ----- set-up: the output check, which also builds the indexes and
    // warms every query's code paths at the measured scale
    val check = queries.sorted.map { q =>
      q -> (try digest(fns(q)(spark, sf)) catch { case e: Throwable => "error: " + errText(e) })
    }.toMap

    val jobTracer = new JobTracer
    val planTracer = new PlanTracer
    def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(jobTracer); spark.listenerManager.register(planTracer) }
      else { sc.removeSparkListener(jobTracer); spark.listenerManager.unregister(planTracer) }

    def jobJson(j: JobRec): Map[String, Any] = Map(
      "id" -> j.id, "group" -> j.group, "site" -> j.site,
      "start" -> epochToOriginS(j.startMs), "end" -> epochToOriginS(j.endMs),
      "stages" -> j.stages, "stage_retries" -> j.stageRetries, "tasks" -> j.tasks,
      "failed_tasks" -> j.failedTasks, "task_s" -> j.taskMs / 1e3,
      "one_task_stage_s" -> j.oneTaskStageMs / 1e3, "gc_s" -> j.gcMs / 1e3,
      "shuffle_read_mb" -> j.shuffleRead / 1e6, "shuffle_write_mb" -> j.shuffleWrite / 1e6,
      "spill_mb" -> j.spill / 1e6)

    /** Phases and plan totals of the QueryExecutions that finished since
      * the last call, each tagged with the job-group phase it started in. */
    def qeJson(writeStartS: Double): Seq[Map[String, Any]] = planTracer.take().map { qe =>
      val ph = qe.tracker.phases
      val opt = ph.get("optimization")
      val pl = ph.get("planning")
      val planS = (opt.map(_.durationMs).getOrElse(0L) + pl.map(_.durationMs).getOrElse(0L)) / 1e3
      val start = opt.orElse(pl).map(p => epochToOriginS(p.startTimeMs))
      val end = pl.orElse(opt).map(p => epochToOriginS(p.endTimeMs))
      val inWrite = start.exists(_ >= writeStartS - 0.001)
      Map("phase" -> (if (inWrite) "exec" else "build"), "plan_s" -> planS,
        "plan_start" -> start, "plan_end" -> end,
        "ops" -> (if (inWrite) planMetrics(qe.executedPlan) else Map.empty))
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int): Unit = {
      // traced runs alternate: odd passes traced, even ones untraced, so
      // one run yields the layer numbers and, against the untraced
      // passes on either side, the tracing overhead
      val tracing = traced && pass % 2 == 1
      attach(tracing)
      var stepS = 0.0
      var index: Map[String, Any] = Map.empty
      if (indexQueries.nonEmpty) {
        emptyDir(indexDir)
        if (tracing) sc.setJobGroup(s"bench:$workload:index:build", null, false)
        val t0 = System.nanoTime()
        val err = try { buildIndexes(); null } catch { case e: Throwable => errText(e) }
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        stepS += (t1 - t0) / 1e9
        index = Map("start" -> sinceOriginS(t0), "build_s" -> (t1 - t0) / 1e9,
          "bytes" -> dirBytes(indexDir), "error" -> err)
        if (tracing) {
          ListenerBusDrain(sc)
          index = index ++ Map("jobs" -> jobTracer.take().map(jobJson), "qes" -> qeJson(Double.MaxValue))
        }
      }
      // SplittableRandom mixes its seed, so neighbouring seeds give
      // unrelated orders (java.util.Random's first draws from seeds
      // that differ by little are alike)
      val order = new Random(new java.util.SplittableRandom(seed * 1000003L + pass).nextLong())
        .shuffle(queries)
      order.foreach { q =>
        if (tracing) sc.setJobGroup(s"bench:$workload:$q:build", null, false)
        val t0 = System.nanoTime()
        var t1 = t0
        val err = try {
          val df = fns(q)(spark, sf)
          t1 = System.nanoTime()
          if (tracing) sc.setJobGroup(s"bench:$workload:$q:exec", null, false)
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => errText(e) }
        val t2 = System.nanoTime()
        sc.clearJobGroup()
        if (t1 == t0) t1 = t2
        stepS += (t2 - t0) / 1e9
        var rec: Map[String, Any] = Map("pass" -> pass, "query" -> q, "traced" -> tracing,
          "t0" -> sinceOriginS(t0), "t1" -> sinceOriginS(t1), "t2" -> sinceOriginS(t2),
          "error" -> err)
        if (tracing) {
          ListenerBusDrain(sc)
          rec = rec ++ Map("jobs" -> jobTracer.take().map(jobJson), "qes" -> qeJson(sinceOriginS(t1)))
        }
        execs += rec
      }
      passes += Map("pass" -> pass, "traced" -> tracing, "seconds" -> stepS, "index" -> index)
    }

    // ----- set-up ends with untimed warm-up passes, run as the timed
    // passes run, for at least `warmup` seconds: the JIT keeps speeding
    // the passes up for about that long, and how fast it gets there
    // depends on the load of the host, so timing those passes would
    // measure the host more than the program
    val warmupNs = (kv("warmup").toDouble * 1e9).toLong
    val warmStartNs = System.nanoTime()
    var warm = -1
    while (warm == -1 || System.nanoTime() - warmStartNs < warmupNs) {
      runPass(warm)
      warm -= 1
    }
    passes.clear(); execs.clear()

    val loopStartNs = System.nanoTime()
    val firstPassEpochMs = System.currentTimeMillis()
    val minPasses = if (traced) 3 else 1
    // a pass starts only while the budget still holds at least half a
    // typical pass, so the timed passes end as near the budget as whole
    // passes allow, rather than up to one long pass beyond it
    val passNs = mutable.ArrayBuffer.empty[Long]
    def typicalPassNs: Long = if (passNs.isEmpty) 0L else passNs.sorted.apply(passNs.size / 2)
    var pass = 0
    while (pass < minPasses || System.nanoTime() - loopStartNs + typicalPassNs / 2 < budgetNs) {
      val t0 = System.nanoTime()
      runPass(pass)
      passNs += System.nanoTime() - t0
      pass += 1
    }
    attach(false)

    println("LAYERBENCH " + json(Map(
      "first_pass_epoch_ms" -> firstPassEpochMs,
      "check" -> check,
      "passes" -> passes,
      "execs" -> execs,
      "rss_peak_mb" -> peakRssKb() / 1024.0,
      "cores" -> cores)))
    spark.stop()
  }
}
