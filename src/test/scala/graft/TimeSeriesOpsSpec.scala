package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.dfw.TimeSeriesOps

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // one series, one hour bucket, a tie on the 10:00:05 timestamp
  private val bars = Seq(
    (1L, ts("2024-01-01 10:00:05"), "m", 3.0),
    (2L, ts("2024-01-01 10:00:05"), "m", 9.0),
    (3L, ts("2024-01-01 10:30:00"), "m", 1.0),
    (4L, ts("2024-01-01 10:59:59"), "m", 5.0),
    (5L, ts("2024-01-01 11:00:00"), "m", 7.0),
    (6L, ts("2024-01-01 10:15:00"), "x", 2.0)
  ).toDF("event_id", "ts", "event_type", "value")

  test("ohlcBars: open/close obey the (ts, tiebreak) total order") {
    val got = TimeSeriesOps.ohlcBars(bars, "event_type", "ts", "value", "event_id")
      .orderBy("event_type", "bucket_ts").collect()
    got.length shouldBe 3
    val m10 = got(0)
    m10.getAs[String]("event_type") shouldBe "m"
    m10.getAs[Double]("open") shouldBe 3.0  // id 1 beats id 2 on the tie
    m10.getAs[Double]("close") shouldBe 5.0 // 10:59:59
    m10.getAs[Double]("high") shouldBe 9.0
    m10.getAs[Double]("low") shouldBe 1.0
    m10.getAs[Long]("volume") shouldBe 4L
    m10.getAs[Long]("sum_q") shouldBe 18000000L
    m10.getAs[Long]("mean_q") shouldBe 4500000L
    got(1).getAs[Double]("open") shouldBe 7.0 // the 11:00 bucket
    got(2).getAs[String]("event_type") shouldBe "x"
  }

  test("ohlcBars: result is shuffle-order invariant") {
    val a = TimeSeriesOps.ohlcBars(bars, "event_type", "ts", "value", "event_id")
      .orderBy("event_type", "bucket_ts").collect().toSeq
    val b = TimeSeriesOps.ohlcBars(bars.repartition(7, col("value")),
        "event_type", "ts", "value", "event_id")
      .orderBy("event_type", "bucket_ts").collect().toSeq
    a shouldBe b
  }

  private val seqEvents = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
    (2L, ts("2024-01-01 10:01:00"), 1L, "b"),
    (3L, ts("2024-01-01 10:02:00"), 1L, "a"),
    (4L, ts("2024-01-01 10:00:00"), 2L, "a"),
    (5L, ts("2024-01-01 10:01:00"), 2L, "b"),
    (6L, ts("2024-01-01 10:00:30"), 3L, "c") // single event: no transition
  ).toDF("event_id", "ts", "user_id", "event_type")

  test("transitionCounts: consecutive pairs per entity, ppm rows per source") {
    val got = TimeSeriesOps.transitionCounts(seqEvents, "user_id", "event_type", "ts", "event_id")
      .orderBy("from_state", "to_state").collect()
    got.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq shouldBe Seq(
      ("a", "b", 2L, 1000000L), // a always goes to b
      ("b", "a", 1L, 1000000L))
  }

  test("ohlcBarsAgg: pure-aggregate form equals the window form exactly") {
    val w = TimeSeriesOps.ohlcBars(bars, "event_type", "ts", "value", "event_id")
      .orderBy("event_type", "bucket_ts").collect().toSeq
    val a = TimeSeriesOps.ohlcBarsAgg(bars, "event_type", "ts", "value", "event_id")
      .select(w.head.schema.fieldNames.map(col): _*)
      .orderBy("event_type", "bucket_ts").collect().toSeq
    a shouldBe w
  }

  test("ohlcBarsAgg: plan has no window and no sort before the aggregate") {
    val plan = TimeSeriesOps.ohlcBarsAgg(bars, "event_type", "ts", "value", "event_id")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should not include "Window"
    plan should include("partial_min_by")
  }

  test("ohlcStream: streaming bars on a real stream equal the batch twin") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:05"), "m", 3.0),
      (2L, Timestamp.valueOf("2024-01-01 10:00:05"), "m", 9.0),
      (3L, Timestamp.valueOf("2024-01-01 10:30:00"), "m", 1.0),
      (4L, Timestamp.valueOf("2024-01-01 11:00:00"), "m", 7.0),
      (5L, Timestamp.valueOf("2024-01-01 10:15:00"), "x", 2.0))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = graft.streaming.StreamOps.ohlcStream(streamDf, "event_type", watermark = "2 hours")
      .writeStream.format("memory").queryName("ohlc_stream_test").outputMode("complete").start()
    try {
      // two micro-batches split across a bucket: open/close must see
      // the cross-batch total order, not arrival order
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("ohlc_stream_test")
        .orderBy("event_type", "bucket_ts").collect().toSeq
      val batch = TimeSeriesOps.ohlcBarsAgg(
          rows.toDF("event_id", "ts", "event_type", "value"),
          "event_type", "ts", "value", "event_id")
        .select(got.head.schema.fieldNames.map(col): _*)
        .orderBy("event_type", "bucket_ts").collect().toSeq
      got shouldBe batch
    } finally q.stop()
  }

  test("transitionCounts: a tie in ts is ordered by the tiebreak column") {
    val tied = Seq(
      (2L, ts("2024-01-01 10:00:00"), 1L, "y"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "x")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = TimeSeriesOps.transitionCounts(tied, "user_id", "event_type", "ts", "event_id")
      .collect()
    got.map(r => (r.getString(0), r.getString(1))).toSeq shouldBe Seq(("x", "y"))
  }

  test("rollingActiveUsers: trailing window counts distinct users, stickiness exact") {
    // day 1: users {a,b}; day 2: {a}; day 5: {c} — window 3 days
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00")), (2L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 11:00:00")), // same user same day: collapses
      (1L, ts("2024-01-02 09:00:00")),
      (3L, ts("2024-01-05 09:00:00"))
    ).toDF("user_id", "ts")
    val got = TimeSeriesOps.rollingActiveUsers(ev, "ts", "user_id", windowDays = 3)
      .collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    got.keySet shouldBe Set("2024-01-01", "2024-01-02", "2024-01-05")
    got("2024-01-01") shouldBe ((2L, 2L, 1000000L)) // window = day 1 alone
    got("2024-01-02") shouldBe ((1L, 2L, 500000L)) // users {1,2} over days 1-2
    got("2024-01-05") shouldBe ((1L, 1L, 1000000L)) // days 3-5: only user 3
  }

  // series a: perfect line y = 10 + 2x; b: constant; c: singleton
  private val trendPts = Seq(
    ("a", 0L, 10L), ("a", 1L, 12L), ("a", 2L, 14L),
    ("b", 0L, 5L), ("b", 1L, 5L),
    ("c", 0L, 7L)
  ).toDF("series", "x", "y")

  test("trendOls: exact slope/intercept/r2 on a perfect line; degenerate guards") {
    val got = TimeSeriesOps.trendOls(trendPts, "series", col("x"), col("y"))
      .orderBy("series").collect()
    got.length shouldBe 3
    got(0).getAs[Long]("n_points") shouldBe 3L
    got(0).getAs[Double]("slope") shouldBe 2.0
    got(0).getAs[Double]("intercept") shouldBe 10.0
    got(0).getAs[Double]("r2") shouldBe 1.0
    got(1).getAs[Double]("slope") shouldBe 0.0 // constant y: slope 0...
    got(1).isNullAt(got(1).fieldIndex("r2")) shouldBe true // ...but r2 undefined
    got(2).isNullAt(got(2).fieldIndex("slope")) shouldBe true // singleton: dxx=0
  }

  test("trendOls: shuffle-order invariant (exact integer sums)") {
    val a = TimeSeriesOps.trendOls(trendPts, "series", col("x"), col("y"))
      .orderBy("series").collect().toSeq
    val b = TimeSeriesOps.trendOls(trendPts.repartition(7, col("y")),
      "series", col("x"), col("y")).orderBy("series").collect().toSeq
    a shouldBe b
  }

  test("lagAutocorr: perfect lag-1 correlation on a ramp; gaps drop pairs; constant is null") {
    val pts = Seq(
      ("r", 0L, 1L), ("r", 1L, 2L), ("r", 2L, 3L), ("r", 3L, 4L),
      ("g", 0L, 1L), ("g", 1L, 5L), ("g", 3L, 9L), // gap at t=2: only (0,1) pairs
      ("k", 0L, 5L), ("k", 1L, 5L) // constant: dxx=dyy=0
    ).toDF("series", "t", "v")
    val got = TimeSeriesOps.lagAutocorr(pts, "series", col("t"), col("v"))
      .orderBy("series").collect()
    got.map(_.getAs[String]("series")).toSeq shouldBe Seq("g", "k", "r")
    got(0).getAs[Long]("n_pairs") shouldBe 1L
    got(1).isNullAt(got(1).fieldIndex("r_lag")) shouldBe true
    got(2).getAs[Long]("n_pairs") shouldBe 3L
    got(2).getAs[Double]("r_lag") shouldBe 1.0
  }

  test("cusumChangepoint: locates a clean mean shift with exact integer argmax") {
    // [10,10,10,20,20,20]: the scan stat peaks at tick 2 (last of the
    // low regime); G = T·run − t·total = [-30,-60,-90,-60,-30,0]
    val d = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 20L))
      .toDF("t", "v")
    val got = withDefaultParallelism(spark.sparkContext, 3) {
      TimeSeriesOps.cusumChangepoint(d, col("t"), col("v")).collect()
    }
    got.length shouldBe 1
    val r = got(0)
    r.getAs[Long]("n_ticks") shouldBe 6L
    r.getAs[Long]("total") shouldBe 90L
    r.getAs[Long]("cp_tick") shouldBe 2L
    r.getAs[Long]("g_abs_max") shouldBe 90L
    r.getAs[Double]("mean_before") shouldBe 10.0
    r.getAs[Double]("mean_after") shouldBe 20.0
  }

  test("kaplanMeier: the textbook 4-subject curve, exact at-risk counts") {
    // events at t=1,2,3; one censor at t=2:
    // S(1)=3/4, S(2)=3/4·2/3=1/2, S(3)=0 (everyone at risk exits)
    val subjects = Seq((1L, 1L), (2L, 1L), (2L, 0L), (3L, 1L)).toDF("dur", "ev")
    val got = withDefaultParallelism(spark.sparkContext, 2) {
      TimeSeriesOps.kaplanMeier(subjects, col("dur"), col("ev"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    got.toSeq shouldBe Seq(
      (1L, 4L, 1L, 0L, 750000L),
      (2L, 3L, 1L, 1L, 500000L),
      (3L, 1L, 1L, 0L, 0L))
  }

  test("kaplanMeier: a censor-only duration leaves survival unchanged") {
    val subjects = Seq((1L, 0L), (2L, 1L)).toDF("dur", "ev")
    val got = withDefaultParallelism(spark.sparkContext, 2) {
      TimeSeriesOps.kaplanMeier(subjects, col("dur"), col("ev"))
        .collect().map(r => (r.getLong(0), r.getLong(4)))
    }
    got.toSeq shouldBe Seq((1L, 1000000L), (2L, 0L)) // d=0 at t=1; d=n=1 at t=2
  }

  test("weekdaySeasonality: a weekday-determined metric has eta2 = 1; constant is null") {
    import java.sql.Date
    // 2024-01-01 is a Monday; value = weekday·100 over two full weeks
    val rows = (0 until 14).map { i =>
      ("m", Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        (i % 7) * 100L)
    } ++ (0 until 14).map { i =>
      ("k", Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), 42L)
    }
    val got = TimeSeriesOps.weekdaySeasonality(rows.toDF("s", "day", "v"),
        "s", col("day"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getAs[java.lang.Double]("eta2"))))).toMap
    got("m") shouldBe ((14L, 7L, Some(1.0))) // within-group variance is zero
    got("k")._3 shouldBe None                // constant series: SST = 0
  }

  test("firFilter: identity kernel reproduces the input; EWMA taps convolve exactly") {
    val d = Seq(("m", 0L, 1000L), ("m", 1L, 2000L), ("m", 2L, 3000L)).toDF("s", "t", "v")
    val ident = TimeSeriesOps.firFilter(d, "s", col("t"), col("v"), Seq(1000000L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    ident.toSeq shouldBe Seq((0L, 1000L, 1L), (1L, 2000L, 1L), (2L, 3000L, 1L))
    // two-tap kernel [700000, 300000]: out_t = (0.7·x_t + 0.3·x_{t−1})
    val two = TimeSeriesOps.firFilter(d, "s", col("t"), col("v"),
        Seq(700000L, 300000L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    two.toSeq shouldBe Seq(
      (0L, 700L, 1L),            // partial kernel at the head
      (1L, 1700L, 2L),           // .7·2000 + .3·1000
      (2L, 2700L, 2L),           // .7·3000 + .3·2000
      (3L, 900L, 1L))            // decay tail past the last tick
  }

  test("firFilter: gaps contribute nothing; result is shuffle-order invariant") {
    val d = Seq(("m", 0L, 1000L), ("m", 5L, 1000L)).toDF("s", "t", "v")
    val got = TimeSeriesOps.firFilter(d, "s", col("t"), col("v"),
        Seq(500000L, 500000L))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    got.toSeq shouldBe Seq((0L, 500L), (1L, 500L), (5L, 500L), (6L, 500L))
    val re = TimeSeriesOps.firFilter(d.repartition(7, col("v")), "s",
        col("t"), col("v"), Seq(500000L, 500000L))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    re.toSeq shouldBe got.toSeq
  }

  test("ewmaKernelPpm: geometric decay taps, quantized once") {
    val k = TimeSeriesOps.ewmaKernelPpm(0.5, 4)
    k shouldBe Seq(500000L, 250000L, 125000L, 62500L)
    TimeSeriesOps.ewmaKernelPpm(0.3, 2) shouldBe
      Seq(300000L, math.round(0.3 * 0.7 * 1e6))
  }

  test("cusumChangepoint: all-constant series ties break to the earliest tick") {
    val d = Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("t", "v")
    val r = withDefaultParallelism(spark.sparkContext, 2) {
      TimeSeriesOps.cusumChangepoint(d, col("t"), col("v")).collect()(0)
    }
    r.getAs[Long]("g_abs_max") shouldBe 0L
    r.getAs[Long]("cp_tick") shouldBe 0L
    r.getAs[Double]("mean_before") shouldBe 5.0
    r.getAs[Double]("mean_after") shouldBe 5.0
  }
}
