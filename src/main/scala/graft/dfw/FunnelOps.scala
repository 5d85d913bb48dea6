package graft.dfw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequential funnel analysis over an event log: how many users
  * performed step 1, then step 2 AFTER step 1, then step 3 after
  * step 2, … — the conversion query every event pipeline runs.
  *
  * Shape chosen for scale: NO sessionize/window formulation (a
  * per-user ordered window would shuffle and sort the whole event log
  * per step). Instead each step k keeps one row per user still in the
  * funnel — `(user, t_k)` where `t_k` is the FIRST qualifying time —
  * and step k+1 joins that per-user state against the scan-filtered
  * event log followed by a min-aggregate. A k-step funnel is k
  * filtered passes over events (type predicates push to the parquet
  * scan) with only user-cardinality state ever crossing the network.
  *
  * The per-user state is always broadcast into each step's join, so
  * the events never shuffle — the same replicated-state posture as
  * [[graft.llm.GraphOps.pageRankInt]]'s rank table. A user table past
  * Spark's broadcast limit fails with Spark's own broadcast-size
  * error.
  */
object FunnelOps {

  /** Per-step reach of the funnel `steps` (first-occurrence, strictly
    * increasing timestamps across steps).
    *
    * @param withinSeconds optional per-transition conversion windows:
    *        when non-empty it must have `steps.size - 1` entries and
    *        step k+1 counts only if it happens within
    *        `withinSeconds(k)` seconds of the user's step-k time
    *        ("click ≤ 7 days after view" = `Seq(604800L, …)`). Empty
    *        (default) = unbounded, the classic funnel.
    * @return (step INT, stage STRING, n_users LONG, conv_pct LONG) —
    *         conv_pct = integer percent of step-1 users (exact in any
    *         summation order)
    */
  def sequentialFunnel(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, steps: Seq[String],
                       withinSeconds: Seq[Long] = Nil): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(withinSeconds.isEmpty || withinSeconds.size == steps.size - 1,
      s"withinSeconds needs one entry per transition (${steps.size - 1}), " +
        s"got ${withinSeconds.size}")
    val bounds: Seq[Option[Long]] =
      if (withinSeconds.isEmpty) Seq.fill(steps.size - 1)(None)
      else withinSeconds.map(Some(_))
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val reached = scala.collection.mutable.ListBuffer(steps.head -> cur)
    for ((st, bound) <- steps.tail.zip(bounds)) {
      val within = bound match {
        case Some(w) => col(tsCol) <= col("__prev") + expr(s"INTERVAL $w SECOND")
        case None    => lit(true)
      }
      cur = events.filter(col(typeCol) === st)
        .join(broadcast(cur.withColumnRenamed("__t", "__prev")), userCol)
        .filter(col(tsCol) > col("__prev") && within)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
      reached += st -> cur
    }
    val counts = reached.toSeq.zipWithIndex.map { case ((st, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(st).as("stage"), col("n_users"))
    }.reduce(_ unionByName _)
    val first = counts.filter(col("step") === 1).select(col("n_users").as("__n0"))
    // the one-row step-1 count, broadcast to every step row
    counts.crossJoin(broadcast(first))
      .select(col("step"), col("stage"), col("n_users"),
        // guarded: a funnel whose first step has no actors reports 0%
        // reach instead of dividing by zero (which throws under ANSI)
        expr("CASE WHEN __n0 = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_users * 100) div __n0 END").as("conv_pct"))
      .orderBy(col("step"))
  }

  /** Time-to-convert distribution per funnel transition: for every
    * user completing step k→k+1, the latency between their
    * first-qualifying times — the "how long does a click take after
    * the view" readout that prices conversion windows (the
    * `withinSeconds` bounds of [[sequentialFunnel]] are chosen FROM
    * this distribution in practice).
    *
    * Same per-user-state chain as [[sequentialFunnel]] (each stage one
    * scan-filtered pass + min-aggregate, per-user state broadcast);
    * consecutive stages join per user and one hash aggregate per
    * transition emits exact integer seconds stats plus interpolated
    * p50/p90 (`percentile` — IEEE-matched to DuckDB's quantile_cont,
    * pinned by the q_percentiles family).
    *
    * @return one row per transition: (step INT — 1-based transition,
    *         from_stage, to_stage, n_users LONG, min_us/max_us/sum_us
    *         LONG — integer MICROseconds (`unix_micros`, exactly
    *         DuckDB's `epoch_us`; whole seconds would truncate
    *         differently across engines on fractional timestamps) —
    *         p50_s/p90_s DOUBLE: interpolated percentiles in SECONDS
    *         rounded to 4. The percentile interpolates over
    *         `us / 1e6` doubles deliberately: at raw-micros magnitude
    *         (~1e12) the two engines' algebraically-equal interpolation
    *         forms differ in the last ulp, which round(…, 4) cannot
    *         absorb — at seconds magnitude the ulp sits ~1e-10 below
    *         the rounding grain)
    */
  def funnelTransitionStats(events: DataFrame, userCol: String, typeCol: String,
                            tsCol: String, steps: Seq[String],
                            withinSeconds: Seq[Long] = Nil): DataFrame = {
    require(steps.size >= 2, "transition stats need at least two steps")
    require(withinSeconds.isEmpty || withinSeconds.size == steps.size - 1,
      s"withinSeconds needs one entry per transition (${steps.size - 1}), " +
        s"got ${withinSeconds.size}")
    val bounds: Seq[Option[Long]] =
      if (withinSeconds.isEmpty) Seq.fill(steps.size - 1)(None)
      else withinSeconds.map(Some(_))
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val stages = scala.collection.mutable.ListBuffer(cur)
    for ((st, bound) <- steps.tail.zip(bounds)) {
      val within = bound match {
        case Some(w) => col(tsCol) <= col("__prev") + expr(s"INTERVAL $w SECOND")
        case None    => lit(true)
      }
      cur = events.filter(col(typeCol) === st)
        .join(broadcast(cur.withColumnRenamed("__t", "__prev")), userCol)
        .filter(col(tsCol) > col("__prev") && within)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
      stages += cur
    }
    stages.toSeq.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      val lat = a.withColumnRenamed("__t", "__ta")
        .join(b.withColumnRenamed("__t", "__tb"), userCol)
        .select((unix_micros(col("__tb")) - unix_micros(col("__ta"))).as("__us"))
      lat.agg(
          count(lit(1)).as("n_users"),
          min(col("__us")).as("min_us"), max(col("__us")).as("max_us"),
          sum(col("__us")).as("sum_us"),
          percentile(col("__us").cast("double") / 1000000.0,
            array(lit(0.5), lit(0.9))).as("__p"))
        .select(lit(i + 1).as("step"),
          lit(steps(i)).as("from_stage"), lit(steps(i + 1)).as("to_stage"),
          col("n_users"), col("min_us"), col("max_us"), col("sum_us"),
          round(col("__p").getItem(0), 4).as("p50_s"),
          round(col("__p").getItem(1), 4).as("p90_s"))
    }.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Last-touch attribution: credit every conversion event to the
    * most recent preceding touch (same user, `touch.ts <= conv.ts`)
    * and roll up per-channel conversions, value, and share — the
    * default attribution model of every marketing/product analytics
    * stack, and the canonical CONSUMER of an as-of join.
    *
    * Built on [[AsofOps.asofJoin]]'s union-and-carry-forward shape:
    * ONE shuffle on the user key, linear in events, no per-pair range
    * join (a naive touch×conversion range join is quadratic per user).
    * Equal-timestamp semantics are the as-of join's: the touch sorts
    * before the conversion (inclusive), ties within a side break by
    * `tieCol`. Conversions with no preceding touch land in the
    * 'unattributed' channel — reported, never dropped.
    *
    * Value sums quantize to integer cents before aggregation
    * (order-free); the share is integer ppm of conversion COUNT.
    *
    * @return one row per channel: `channel, n_conv, sum_value_cents,
    *         share_ppm`, ordered by channel
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
                           typeCol: String, tsCol: String, tieCol: String,
                           valueCol: String, convType: String,
                           touchTypes: Seq[String],
                           channel: Column): DataFrame = {
    require(touchTypes.nonEmpty, "at least one touch type")
    val touches = events.filter(col(typeCol).isInCollection(touchTypes))
      .select(col(userCol), col(tsCol), col(tieCol), channel.as("channel"))
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol), col(tsCol), col(tieCol), col(valueCol))
    val attributed = AsofOps.asofJoin(convs, touches, Seq(userCol),
      tsCol, tieCol, Seq("channel"))
    val perChannel = attributed
      .groupBy(coalesce(col("channel_asof"), lit("unattributed")).as("channel"))
      .agg(count(lit(1)).as("n_conv"),
        sum(round(col(valueCol) * 100).cast("long")).as("sum_value_cents"))
    val total = perChannel.agg(sum(col("n_conv")).as("__t"))
    perChannel.join(broadcast(total))
      .withColumn("share_ppm", expr("n_conv * 1000000 div __t"))
      .drop("__t")
      .orderBy(col("channel"))
  }

  /** Cohort retention matrix: users grouped by first-seen day, and for
    * each (cohort, day-offset) the count and integer percent of the
    * cohort active that day — the activation/churn table behind every
    * "day-N retention" readout.
    *
    * Shape: activity collapses to distinct (day, user) pairs first
    * (user-day cardinality, ≪ events), the per-user first-seen table
    * joins back as a broadcast (see the object doc), and one hash
    * aggregate per (cohort, offset) finishes — no window, no self-join
    * over events. The cohort-SIZE side is broadcast too: its
    * cardinality is distinct DAYS, bounded by the calendar, not by
    * users. Integer percents (`div`); a cohort's own day 0 is always
    * 100.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val act = events.select(to_date(col(tsCol)).as("day"), col(userCol).as("__u")).distinct()
    val first = act.groupBy(col("__u")).agg(min(col("day")).as("cohort_day"))
    val sizes = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_n"))
    act.join(broadcast(first), "__u")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active")) // (cohort, offset, user) unique by construction
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        expr("(n_active * 100) div cohort_n").as("retention_pct"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }
}
