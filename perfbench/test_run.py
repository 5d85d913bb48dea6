"""Self-tests of the benchmark's metric rules; no JVM needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def exec_rec(pass_, query, t0, dur, error=None):
    return {"pass": pass_, "query": query, "traced": False, "t0": t0, "t1": t0 + dur / 4,
            "t2": t0 + dur, "error": error}


def raw_run(execs, passes, check):
    return {"first_pass_epoch_ms": 10_000, "check": check, "execs": execs,
            "passes": passes, "rss_peak_mb": 900.0, "cores": 4}


class FailureRules(unittest.TestCase):
    def setUp(self):
        self.expected = {"a": "1:2:3", "b": "4:5:6"}

    def test_throwing_query_counts_failed_and_leaves_pass_s(self):
        execs = [exec_rec(0, "a", 0.0, 2.0), exec_rec(0, "b", 2.0, 0.1, error="boom"),
                 exec_rec(1, "a", 3.0, 2.0), exec_rec(1, "b", 5.0, 3.0)]
        passes = [{"pass": 0, "seconds": 2.1}, {"pass": 1, "seconds": 5.0}]
        m, attempted, failed, info = run.summarize(
            raw_run(execs, passes, dict(self.expected)), self.expected, ["a", "b"], 0.0)
        self.assertEqual((attempted, failed), (4, 1))
        # the fast pass holding the failure is not a pass_s sample
        self.assertEqual(m["pass_s"], 5.0)
        self.assertAlmostEqual(m["query_s_gmean"], (2.0 * 3.0) ** 0.5)
        self.assertEqual(info["clean_passes"], 1)
        self.assertNotIn(0.1, [e["t2"] - e["t0"] for e in execs if e["error"] is None])

    def test_output_mismatch_fails_the_query_in_every_pass(self):
        execs = [exec_rec(p, q, 3.0 * p + i, 1.0) for p in range(3) for i, q in enumerate("ab")]
        passes = [{"pass": p, "seconds": 2.0} for p in range(3)]
        check = {"a": "1:2:3", "b": "4:5:7"}
        m, attempted, failed, info = run.summarize(
            raw_run(execs, passes, check), self.expected, ["a", "b"], 0.0)
        self.assertEqual(info["mismatched"], ["b"])
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(info["clean_passes"], 0)
        # no pass is clean, so no time of the failing query is reported
        self.assertIsNone(m["pass_s"])
        self.assertIsNone(m["query_s_gmean"])

    def test_query_failing_in_every_pass_never_times_into_pass_s(self):
        execs = [exec_rec(p, q, 3.0 * p + i, 1.0 if q == "a" else 0.01,
                          error="boom" if q == "b" else None)
                 for p in range(3) for i, q in enumerate("ab")]
        passes = [{"pass": p, "seconds": 1.01} for p in range(3)]
        m, attempted, failed, info = run.summarize(
            raw_run(execs, passes, dict(self.expected)), self.expected, ["a", "b"], 0.0)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertIsNone(m["pass_s"])
        self.assertIsNone(m["query_s_gmean"])
        self.assertEqual(info["query_s_p50"]["value"], 1.0)

    def test_setup_runs_from_launch_to_first_timed_pass(self):
        execs = [exec_rec(0, "a", 0.0, 1.0), exec_rec(0, "b", 1.0, 1.0)]
        m, *_ = run.summarize(raw_run(execs, [{"pass": 0, "seconds": 2.0}], self.expected),
                              self.expected, ["a", "b"], 4.0)
        self.assertAlmostEqual(m["setup_s"], 6.0)


class TailRule(unittest.TestCase):
    def check(self, n, want_p):
        samples = [float(i) for i in range(1, n + 1)]
        p, v, count = run.tail(samples)
        self.assertEqual((p, count), (want_p, n))
        beyond = sum(1 for s in samples if s > v)
        self.assertGreaterEqual(beyond, 10)
        # one percentile higher would leave fewer than ten beyond
        if p < 100:
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10)

    def test_percentile_and_count(self):
        self.check(15, 33)
        self.check(20, 50)
        self.check(40, 75)
        self.check(100, 90)
        self.check(1000, 99)

    def test_ten_or_fewer_samples_give_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (100, 3.0, 3))
        self.assertEqual(run.tail([]), (None, None, 0))


class LayerRules(unittest.TestCase):
    def traced_exec(self):
        jobs = [dict(id=1, group="bench:w:q:build", site="count at GraphOps.scala:10",
                     start=0.1, end=0.3, task_s=0.5),
                dict(id=2, group="bench:w:q:build", site="localCheckpoint at Materializer.scala:5",
                     start=0.3, end=0.4, task_s=0.2),
                dict(id=3, group="bench:w:q:exec", site="save at LayerBench.scala:1",
                     start=0.6, end=0.9, task_s=2.0, stages=2, tasks=5, one_task_stage_s=0.4,
                     gc_s=0.0, shuffle_read_mb=1.0, shuffle_write_mb=1.0, spill_mb=0.0,
                     failed_tasks=0, stage_retries=0)]
        qes = [dict(phase="exec", plan_s=0.05, plan_start=0.5, plan_end=0.55,
                    ops={"op.sort_s": 0.1})]
        return dict(exec_rec(0, "q", 0.0, 1.0), traced=True, t1=0.5, jobs=jobs, qes=qes)

    def test_phases_account_for_query_time_and_jobs_land_in_modules(self):
        e = self.traced_exec()
        b, pl, ex = run.exec_phase_times(e)
        self.assertAlmostEqual(b + pl + ex, 1.0)
        raw = raw_run([e], [{"pass": 0, "seconds": 1.0, "traced": True},
                            {"pass": 1, "seconds": 0.8, "traced": False}], {})
        mods = {"GraphOps.scala": "llm", "Materializer.scala": "sources"}
        m = run.layer_metrics(raw, mods, [], 1.0)
        self.assertEqual((m["build.jobs"], m["llm.jobs"], m["sources.checkpoint_jobs"]), (2, 1, 1))
        self.assertEqual((m["exec.jobs"], m["exec.tasks"]), (1, 5))
        self.assertAlmostEqual(m["exec.util"], 2.0 / (4 * 0.45))
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertLess(m["trace.unattributed_frac"], 0.05)
        self.assertEqual(set(m), set(run.PER_LAYER_UNITS))
        self.assertEqual(m["llm.index_probe_s"], 0.0)

    def test_index_probe_counts_only_index_queries(self):
        probe = dict(exec_rec(0, "probe", 2.0, 0.5), traced=True, jobs=[], qes=[])
        other = dict(exec_rec(0, "other", 3.0, 4.0), traced=True, jobs=[], qes=[])
        index = {"start": 0.0, "build_s": 1.5, "bytes": 3e6, "jobs": []}
        raw = raw_run([probe, other], [{"pass": 0, "seconds": 6.0, "traced": True,
                                        "index": index}], {})
        m = run.layer_metrics(raw, {}, ["probe"], 1.5)
        self.assertAlmostEqual(m["llm.index_probe_s"], 0.5)
        self.assertAlmostEqual(m["llm.index_build_s"], 1.5)
        self.assertAlmostEqual(m["llm.index_mb"], 3.0)
        self.assertAlmostEqual(m["llm.index_mb_per_input_mb"], 2.0)

    def test_span_self_time_excludes_children(self):
        raw = raw_run([self.traced_exec()], [{"pass": 0, "seconds": 1.0, "traced": True}], {})
        by_name = {}
        for s in run.spans(raw):
            by_name.setdefault(s["name"], []).append(s)
        self.assertAlmostEqual(by_name["query"][0]["self_s"], 0.0)
        self.assertAlmostEqual(by_name["build"][0]["self_s"], 0.5 - 0.3)
        self.assertAlmostEqual(by_name["exec"][0]["self_s"], 0.45 - 0.3)


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        names = list(run.END_TO_END_UNITS) + list(run.PER_LAYER_UNITS) + list(run.WORKLOADS)
        for n in names:
            self.assertRegex(n, re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$"))

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER_UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
