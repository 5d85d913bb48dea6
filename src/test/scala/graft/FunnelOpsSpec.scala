package graft

import java.sql.Timestamp

import graft.dfw.FunnelOps

class FunnelOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  // user 1: full ordered funnel; user 2: click BEFORE view (click must
  // not count until after the first view; a later click rescues them);
  // user 3: view only; user 4: reaches click but their purchase
  // happened BEFORE that click (drops at purchase); user 5: no view at
  // all (never enters despite clicking and purchasing).
  private val events = Seq(
    (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
    (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "click", ts(3)), (2L, "purchase", ts(4)),
    (3L, "view", ts(5)),
    (4L, "view", ts(1)), (4L, "purchase", ts(2)), (4L, "click", ts(3)),
    (5L, "click", ts(1)), (5L, "purchase", ts(2))
  ).toDF("user_id", "event_type", "ts")

  test("sequentialFunnel: order-sensitive reach with strict after semantics") {
    val out = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      (1, "view", 4L, 100L),     // users 1, 2, 3, 4
      (2, "click", 3L, 75L),     // 1, 2 (post-view click only), 4
      (3, "purchase", 2L, 50L))  // 1, 2 — user 4 purchased before clicking
  }

  test("sequentialFunnel: single-step funnel degenerates to distinct actors") {
    val out = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts", Seq("purchase"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(("purchase", 4L, 100L)) // users 1, 2, 4, 5 ever purchased
  }

  test("sequentialFunnel: absent first step yields 0% rows, not a divide-by-zero") {
    val out = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
        Seq("install", "view"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(("install", 0L, 0L), ("view", 0L, 0L))
  }

  test("sequentialFunnel plan: no Window, events join via broadcast") {
    val plan = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")).queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("BroadcastHashJoin")
  }

  test("sequentialFunnel: conversion windows bound each transition") {
    // user 1 converts within minutes; user 6 clicks 2h after view and
    // purchases 10m after the click — a 1h click-window drops user 6 at
    // step 2, while the unbounded funnel keeps them throughout.
    def h(hh: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $hh%02d:$m%02d:00")
    val ev = events.union(Seq(
      (6L, "view", h(10, 0)), (6L, "click", h(12, 0)), (6L, "purchase", h(12, 10))
    ).toDF("user_id", "event_type", "ts"))
    val unbounded = FunnelOps.sequentialFunnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    unbounded shouldBe Array((1, 5L), (2, 4L), (3, 3L))
    val windowed = FunnelOps.sequentialFunnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSeconds = Seq(3600L, 3600L))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    windowed shouldBe Array((1, 5L), (2, 3L), (3, 2L))
  }

  test("sequentialFunnel: window bound is inclusive and per-transition") {
    // qualifying clicks sit exactly 60 s after the first view (user 1:
    // 10:01→10:02; user 2: 10:02→10:03) — a 60 s window keeps both
    // (inclusive <=), 59 s drops both; user 4's 120 s click drops either way
    val keep = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click"), withinSeconds = Seq(60L))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    keep shouldBe Array((1, 4L), (2, 2L))
    val drop = FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click"), withinSeconds = Seq(59L))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    drop shouldBe Array((1, 4L), (2, 0L))
  }

  test("sequentialFunnel: withinSeconds arity must match transitions") {
    an[IllegalArgumentException] should be thrownBy
      FunnelOps.sequentialFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSeconds = Seq(60L))
  }

  test("funnelTransitionStats: exact per-transition latency from first-qualifying times") {
    // view→click completers: user 1 (60 s: 10:01→10:02), user 2
    // (60 s: first view 10:02 → rescuing click 10:03), user 4 (120 s:
    // 10:01→10:03); click→purchase completers: 1 (60 s), 2 (60 s)
    val out = FunnelOps.funnelTransitionStats(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7), r.getDouble(8)))
    val M = 60000000L // one minute in micros; percentiles emit seconds
    out shouldBe Array(
      (1, "view", "click", 3L, M, 2 * M, 4 * M, 60.0, 120.0 * 0.8 + 60.0 * 0.2),
      (2, "click", "purchase", 2L, M, M, 2 * M, 60.0, 60.0))
  }

  test("cohortRetention: day-0 always 100%, returning users counted once per day") {
    def d(day: Int, m: Int) = Timestamp.valueOf(f"2024-02-$day%02d 0$m:00:00")
    // cohort Feb-1: users 10, 11 (10 twice on day 0 — must not double);
    // day1 only 10 returns (50%); day2 both (100%).
    // cohort Feb-2: user 12 alone, returns day 1.
    val ev = Seq(
      (10L, d(1, 1)), (10L, d(1, 2)), (11L, d(1, 1)),
      (10L, d(2, 1)), (12L, d(2, 1)),
      (10L, d(3, 1)), (11L, d(3, 1)), (12L, d(3, 2))
    ).toDF("user_id", "ts")
    val out = FunnelOps.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      ("2024-02-01", 0, 2L, 100L),
      ("2024-02-01", 1, 1L, 50L),
      ("2024-02-01", 2, 2L, 100L),
      ("2024-02-02", 0, 1L, 100L),
      ("2024-02-02", 1, 1L, 100L))
  }

  test("lastTouchAttribution: most recent preceding touch wins; no touch → unattributed") {
    import org.apache.spark.sql.functions._
    // user 1: touch A @1, purchase @2 (→A), touch B @3, purchase @4 (→B);
    // user 2: purchase @1 with no touch (→unattributed);
    // user 3: touch A @5 AFTER their purchase @4 (→unattributed)
    val ev = Seq(
      (1L, 1L, "click", 10.0, ts(1)), (2L, 1L, "purchase", 100.0, ts(2)),
      (3L, 1L, "view", 0.0, ts(3)), (4L, 1L, "purchase", 50.0, ts(4)),
      (5L, 2L, "purchase", 7.5, ts(1)),
      (6L, 3L, "purchase", 20.0, ts(4)), (7L, 3L, "click", 0.0, ts(5))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    // channel = the touch's own type, so credit is readable
    val got = FunnelOps.lastTouchAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", convType = "purchase",
        touchTypes = Seq("click", "view"), channel = col("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    got.keySet shouldBe Set("click", "view", "unattributed")
    got("click") shouldBe ((1L, 10000L, 250000L))        // purchase @2: 100.00
    got("view") shouldBe ((1L, 5000L, 250000L))          // purchase @4: 50.00
    got("unattributed") shouldBe ((2L, 2750L, 500000L))  // 7.50 + 20.00
  }

  test("lastTouchAttribution: an equal-timestamp touch is inclusive (as-of semantics)") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      (1L, 1L, "click", 0.0, ts(2)), (2L, 1L, "purchase", 30.0, ts(2))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val got = FunnelOps.lastTouchAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", "purchase", Seq("click"), col("event_type"))
      .collect()
    got.length shouldBe 1
    got(0).getString(0) shouldBe "click"
  }
}
