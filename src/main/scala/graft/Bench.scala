package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-round throughput benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink rather than `count()`:
  * count() lets Catalyst prune every projection, which would time the
  * scan instead of the query.
  *
  * Before its timed reps, every query runs ONE untimed pass at the
  * SAME sfDir. Warming at a smaller scale is not enough: AQE and the
  * broadcast threshold pick different physical plans at different
  * scales, so the generated whole-stage-codegen classes differ and the
  * first timed run at sfDir still paid plan-compile + javac + JIT —
  * ~6.5 s on the largest plan in the suite (x4_curation_pipeline_v2,
  * the round-6 driver-bench outlier: 13.7 s first-run vs 3.5 s steady
  * state). Warming at the target dir pre-registers exactly the classes
  * the timed run needs, so the numbers measure the query, not the JVM.
  * A GC between runs keeps one query's garbage from being charged to
  * the next.
  *
  * SPARK_GRAFT_BENCH_ONLY=name,name restricts the suite (dev loops).
  * Tokens are trimmed; names matching no registered query are warned
  * about loudly instead of silently shrinking the suite.
  *
  * Outlier forensics: the per-round driver artifact twice flagged one
  * query ~4× its steady-state cost while local repros show no outlier
  * — so each query's JSON row now carries the evidence needed to
  * attribute a spike without a repro: wall-clock start offset, GC-time
  * delta, peak heap, stage retries and failed tasks during the
  * measured rep. A genuine GC/compaction stall, a stage retry, or a
  * scheduling gap each leave a distinct signature in those fields.
  */
object Bench {

  /** Suite-wide counters for stage retries / task failures; snapshotted
    * around each timed rep so spikes attribute to a specific query.
    * Listener events post asynchronously, so a counter increment can
    * land a few ms after the rep's snapshot and attribute to the NEXT
    * query — retries/failures are rare enough that off-by-one
    * attribution still names the right neighborhood; gc_ms and
    * start_s (read synchronously) are the primary attribution fields.
    */
  private final class Forensics extends SparkListener {
    val stageRetries = new java.util.concurrent.atomic.AtomicLong
    val failedTasks = new java.util.concurrent.atomic.AtomicLong
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (s.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  private def heapPeakMb(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)

  /** JSON string literal for a key or value written by the engine (a query
    * name, an exception message, oracle SQL): escapes backslash, quote
    * and ALL control chars (< 0x20), so a tab or CR cannot corrupt the
    * artifact or make a `json.load` of it fail. Shared with [[Verify]].
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One timed rep's measurements (seconds + attribution fields). */
  private final case class Rep(sec: Double, err: Option[String], startMs: Long,
                               gcMs: Long, heapPeakMb: Long,
                               stageRetries: Long, failedTasks: Long)
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuned(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.ui.enabled", "false"),
        cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"BENCH WARNING: SPARK_GRAFT_BENCH_ONLY names match no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val forensics = new Forensics
    spark.sparkContext.addSparkListener(forensics)
    val suiteStartMs = System.currentTimeMillis()
    // shared ANN index construction happens once, outside the timed
    // windows (Queries.prepareIndexes scaladoc has the rationale)
    try Queries.prepareIndexes(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"BENCH INDEX PREP FAILED: ${e.getClass.getName}: ${e.getMessage}")
    }
    // warmup failures are reported too: a query that can't even warm up
    // would otherwise show up only as a suspiciously fast timed run
    names.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"BENCH WARMUP FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // (name, seconds, error) — error None on success; a failed query's
    // time is still recorded but flagged ok:false so a crash can never
    // masquerade as a fast run
    // SPARK_GRAFT_BENCH_REPS > 1 reports the per-query MEDIAN of that
    // many runs — this box shows ±10-50% single-run noise on
    // sub-second queries, and medians are the cheap way to see through
    // it. Default 3: round 11's single-rep artifact flagged two 2-3x
    // outliers on UNCHANGED query code (box noise), making the round's
    // recorded evidence weak — the extra bench wall time buys numbers
    // that can actually be compared across rounds. Set 1 for dev loops.
    val repsEnv = sys.env.get("SPARK_GRAFT_BENCH_REPS")
    val reps = repsEnv.getOrElse("3").toInt.max(1)
    // Sub-second rows get 5 reps: this box shows 1.3-2.7x day-to-day
    // drift on exactly those rows at 3 reps (round-16 driver artifact
    // vs same-binary idle-box medians — 45 queries, all sub-second, all
    // box noise), and extra reps are cheap by construction there (<1 s
    // each). The median of 5 pins the steady state; expensive rows keep
    // `reps`. When REPS is EXPLICITLY 1 (the documented dev-loop
    // setting) the sub-second boost is off too — a dev loop asking for
    // one rep gets one rep.
    val subSecReps = if (repsEnv.contains("1")) reps else 5.max(reps)
    // Timed-loop preamble (VERDICT r18 item 2): the first timed slot
    // sits right after the FULL warm-up pass — its own warm-up ran
    // ~270 queries earlier, so any warmup→timed phase-transition cost
    // (GC backlog from hundreds of plans, listener-queue drain,
    // code-cache churn from every other query's generated classes)
    // lands on whichever query is alphabetically first. The r18 driver
    // artifact showed exactly that signature: agg_salted 3.57 s at 32
    // cores in the driver's suite vs 0.45 s in this box's full-suite
    // run and ~0.4 s at 8 cores — repeatedly, with clean per-rep
    // forensics. One UNTIMED re-run of the first query absorbs the
    // transition; its duration is printed so the round artifact
    // records whether the slot was in fact pathological. Additions
    // only: no timed rep's methodology changes.
    names.headOption.foreach { case (name, fn) =>
      System.gc()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      System.err.println(
        f"BENCH PREAMBLE $name untimed phase-transition run ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val results = names.map { case (name, fn) =>
      def oneRep(): Rep = {
        System.gc()
        resetHeapPeaks()
        val gc0 = gcMillis()
        val retries0 = forensics.stageRetries.get()
        val failed0 = forensics.failedTasks.get()
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
            Some(e.getClass.getName)
          }
        Rep((System.nanoTime() - t0) / 1e9, err, startMs,
          gcMillis() - gc0, heapPeakMb(),
          forensics.stageRetries.get() - retries0,
          forensics.failedTasks.get() - failed0)
      }
      val base = (1 to reps).map(_ => oneRep())
      val baseMedian = base.map(_.sec).sorted.apply((base.length - 1) / 2)
      val runs =
        if (baseMedian < 1.0 && base.forall(_.err.isEmpty))
          base ++ (base.length until subSecReps).map(_ => oneRep())
        else base
      // report the rep whose time IS the reported median, so the
      // attribution fields describe the measurement, not a sibling run
      val medianRep = runs.sortBy(_.sec).apply((runs.length - 1) / 2)
      (name, medianRep.sec, runs.flatMap(_.err).headOption, medianRep)
    }
    // Unmeasured-cost guard: loudly flag any query whose time exceeds
    // 10x the per-query median across the suite. x5_phash_neardup
    // landed at 72 s against a 0.8 s median AFTER the last recorded
    // bench — this is the mechanism that would have caught it at
    // commit time. Flagged queries still count; the flag rides the
    // JSON so the round artifact carries the warning.
    val sortedTimes = results.map(_._2).sorted
    val medianQ = if (sortedTimes.isEmpty) 0.0 else sortedTimes((sortedTimes.length - 1) / 2)
    val outliers = results.filter { case (_, v, _, _) => medianQ > 0 && v > 10 * medianQ }
    outliers.foreach { case (k, v, _, m) =>
      System.err.println(
        f"BENCH OUTLIER $k: $v%.2f s > 10x suite median ($medianQ%.3f s) " +
          f"[start +${(m.startMs - suiteStartMs) / 1000.0}%.1f s, gc ${m.gcMs} ms, " +
          f"heap peak ${m.heapPeakMb} MB, stage retries ${m.stageRetries}, failed tasks ${m.failedTasks}]")
    }
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val qs = results.map { case (k, v, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val oks = results.map { case (k, _, e, _) => jstr(k) + ":" + e.isEmpty }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    // per-query attribution record for the median rep: wall-clock start
    // offset within the suite (sec), GC-time delta (ms), peak heap (MB),
    // stage retries and failed tasks — enough to tell a GC stall from a
    // stage retry from an external scheduling gap after the fact
    val meta = results.map { case (k, _, _, m) =>
      jstr(k) + ":{" +
        "\"start_s\":" + ((m.startMs - suiteStartMs) / 1000.0) +
        ",\"gc_ms\":" + m.gcMs +
        ",\"heap_peak_mb\":" + m.heapPeakMb +
        ",\"stage_retries\":" + m.stageRetries +
        ",\"failed_tasks\":" + m.failedTasks + "}"
    }.mkString("{", ",", "}")
    val failed = results.count(_._3.nonEmpty)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Output ordering matters: the round driver captures a bounded TAIL
    // of stdout (2000 chars, measured from BENCH_r10.json), so the LAST
    // line must be short enough to survive whole. Rounds 7-10 all ended
    // with a line carrying the full per-query map — at 123 queries that
    // line alone is ~4 KB, the tail starts mid-line, and the artifact
    // parses to null. Fix: fat records (forensics, full query map) go
    // FIRST; the final line is a bounded summary — total/failed/
    // outliers plus only the top-10 slowest queries (~700 chars worst
    // case), with n_queries + queries_truncated flagging the elision.
    // The full map stays one line up for human readers and local runs.
    println(s"""{"metric":"detail","ok":$oks,"errors":$errs,"meta":$meta,"suite_start_ms":$suiteStartMs}""")
    println(s"""{"metric":"queries","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"sf":"$sfDir"}""")
    // The summary line must be BOUNDED: every map on it is capped to a
    // fixed N with rounded values, so a pathological run (many
    // outliers, huge times) cannot push the line past the driver's
    // ~2000-char tail capture. Truncated maps use distinct key names
    // (top_queries, top_outliers) so a consumer of the old full-map
    // `queries` key fails loudly instead of silently comparing a
    // partial map; the full per-query map rides the metric:"queries"
    // line above.
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => jstr(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val topOutliers = outliers.sortBy(-_._2).take(5)
      .map { case (k, v, _, _) => jstr(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","top_queries":$top10,"queries_truncated":true,"n_queries":${results.length},"median_q":${r3(medianQ)},"failed":$failed,"top_outliers":$topOutliers,"n_outliers":${outliers.length},"reps":$reps,"sf":${jstr(sfDir)}}"""
    // Artifact self-check (the r7-r10 defect class: a final line too
    // long for the driver's tail capture, or malformed, parses to null
    // and silently zeroes the round's bench evidence). Both checks are
    // warnings on stderr — the measurement is still printed.
    try new com.fasterxml.jackson.databind.ObjectMapper().readTree(summary)
    catch { case e: Exception =>
      System.err.println(s"BENCH SELF-CHECK: summary line is not valid JSON: ${e.getMessage}")
    }
    if (summary.length > 1800)
      System.err.println(s"BENCH SELF-CHECK: summary line is ${summary.length} chars — may exceed the driver's tail capture")
    println(summary)
    spark.stop()
    // exit 0 even on query failures: the JSON's ok/errors/failed fields
    // are the failure channel — a nonzero exit could make a harness
    // discard the whole (still valid) measurement artifact
  }
}
