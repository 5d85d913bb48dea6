#!/usr/bin/env python3
"""Layer benchmark of the engine at local[nproc].

    python3 perfbench/run.py --workload prep --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds the engine from source (see
build.py), starts one JVM running `perfbench.LayerBench`, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (the traced run also writes its spans to
`.bench_build/trace/`). `--record-from DIR` instead records the expected
output digests from a `graft.Verify` dump in DIR. README.md has the
workloads and metrics.
"""
import argparse
import glob
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 170
# untimed warm-up passes before the timed ones, part of setup_s (README.md)
WARMUP_S = 15

WORKLOADS = {
    "prep": {
        "queries": ["j1_perm_gather", "mat_roundtrip", "q1_agg", "j3_grid"],
        "why": "the paper's data-prep lifecycle on lineitem: gather join, sort, aggregate, .mat I/O",
    },
    "curate": {
        "queries": ["x6_decontam_gate_prod", "x4_bpe_encode", "x1_dedup_exact_scalable",
                    "x4_bpe_train", "x3_ann_rhp_indexed"],
        "index_queries": ["x3_ann_rhp_indexed"],
        "why": "text kernels after one-task scans, eager BPE rounds, and a vector index rebuilt per pass",
    },
}

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "query_s_gmean": "s"}

PER_LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "build.task_s": "s",
    "dfw.jobs": "count", "dfw.task_s": "s",
    "llm.jobs": "count", "llm.task_s": "s",
    "streaming.jobs": "count", "streaming.task_s": "s",
    "sources.checkpoint_jobs": "count", "sources.checkpoint_task_s": "s",
    "plan.ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.util": "ratio", "exec.one_task_stage_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count", "exec.stage_retries": "count",
    "sources.scan_s": "s", "sources.scan_rows": "count", "sources.scan_partitions": "count",
    "op.sort_s": "s", "op.agg_s": "s", "op.join_build_s": "s", "op.exchange_mb": "MB",
    "functions.codegen_s": "s",
    "llm.index_build_s": "s", "llm.index_mb": "MB", "llm.index_mb_per_input_mb": "ratio",
    "llm.index_probe_s": "s",
    "trace.overhead_frac": "ratio", "trace.unattributed_frac": "ratio",
}

# per-layer job fields summed over exec-phase jobs
EXEC_JOB_FIELDS = {"exec.stages": "stages", "exec.tasks": "tasks", "exec.task_s": "task_s",
                   "exec.one_task_stage_s": "one_task_stage_s", "exec.gc_s": "gc_s",
                   "exec.shuffle_read_mb": "shuffle_read_mb",
                   "exec.shuffle_write_mb": "shuffle_write_mb", "exec.spill_mb": "spill_mb",
                   "exec.failed_tasks": "failed_tasks", "exec.stage_retries": "stage_retries"}
MODULES = ["dfw", "llm", "streaming"]


# ---------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------

def tail(samples):
    """The highest whole percentile with at least ten samples beyond it.

    Nearest rank: the p-th percentile of n sorted samples is the one at
    rank ceil(p*n/100), which leaves n - rank samples beyond it. Returns
    (percentile, value, n); with ten samples or fewer no percentile
    qualifies and the maximum is returned as percentile 100.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return None, None, 0
    if n <= 10:
        return 100, s[-1], n
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1], n


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------
# end-to-end metrics
# ---------------------------------------------------------------------

def check_outputs(check, expected, queries):
    """Queries whose output digest differs from the recorded one."""
    return sorted(q for q in queries if expected.get(q) is None or check.get(q) != expected[q])


def summarize(raw, expected, queries, launch_epoch_s):
    """End-to-end metrics and counts of one untraced run.

    A query whose output check failed counts as failed in every pass. A
    pass holding any failed step is left out of pass_s, so a failure can
    never read as a faster pass. pass_s adds up, over the steps of a pass
    (index rebuild, each query), each step's median over the clean
    passes: the time of a typical pass, robust to a slow spell of the
    machine that hits one step of one pass. query_s_gmean is the
    geometric mean of those per-query medians. Without a clean pass both
    are None: no failing execution is ever timed into them.
    """
    mismatched = set(check_outputs(raw["check"], expected, queries))
    execs = raw["execs"]
    bad = [e for e in execs if e["error"] is not None or e["query"] in mismatched]
    bad_passes = {e["pass"] for e in bad}
    bad_passes |= {p["pass"] for p in raw["passes"] if (p.get("index") or {}).get("error")}
    clean = [p for p in raw["passes"] if p["pass"] not in bad_passes]
    clean_ids = {p["pass"] for p in clean}
    steps = {}
    for p in clean:
        if p.get("index"):
            steps.setdefault("index", []).append(p["index"]["build_s"])
    for e in execs:
        if e["pass"] in clean_ids:
            steps.setdefault(e["query"], []).append(e["t2"] - e["t0"])
    times = [e["t2"] - e["t0"] for e in execs if e not in bad]
    per_query = [median(v) for q, v in steps.items() if q != "index"]
    tail_p, tail_v, tail_n = tail(times)
    metrics = {
        "setup_s": raw["first_pass_epoch_ms"] / 1000.0 - launch_epoch_s,
        "pass_s": sum(median(v) for v in steps.values()) if clean else None,
        "query_s_gmean": (math.exp(statistics.fmean(math.log(t) for t in per_query))
                          if per_query else None),
    }
    info = {"mismatched": sorted(mismatched), "passes": len(raw["passes"]),
            "clean_passes": len(clean_ids),
            "failed_frac": len(bad) / len(execs) if execs else 0.0,
            "query_s_p50": {"value": median(times), "unit": "s", "samples": len(times)},
            "query_s_tail": {"value": tail_v, "unit": "s", "percentile": tail_p,
                             "samples": tail_n},
            "rss_peak_mb": {"value": raw["rss_peak_mb"], "unit": "MB"}}
    return metrics, len(execs), len(bad), info


# ---------------------------------------------------------------------
# per-layer metrics and spans (traced run)
# ---------------------------------------------------------------------

def module_of(site, file_modules):
    """Module of a job from its call site `<action> at <File>.scala:<line>`."""
    m = re.search(r" at ([A-Za-z0-9_$]+\.scala):\d+", site or "")
    if not m:
        return None
    if m.group(1) == "Materializer.scala":
        return "sources.checkpoint"
    return file_modules.get(m.group(1))


def source_modules(root):
    """`File.scala` -> engine module (its directory under src/main/scala/graft)."""
    out = {}
    base = os.path.join(root, "src/main/scala/graft")
    for p in glob.glob(os.path.join(base, "**/*.scala"), recursive=True):
        rel = os.path.relpath(p, base).split(os.sep)
        out[os.path.basename(p)] = rel[0] if len(rel) > 1 else "graft"
    return out


def exec_phase_times(e):
    """(build_s, plan_s, exec_s) of one traced query execution.

    plan_s is the optimize + plan time of the write; exec_s runs from the
    end of planning to the end of the write.
    """
    build_s = e["t1"] - e["t0"]
    qes = [q for q in e.get("qes", []) if q["phase"] == "exec"]
    plan_s = sum(q["plan_s"] for q in qes)
    ends = [q["plan_end"] for q in qes if q["plan_end"] is not None]
    exec_start = max([e["t1"]] + ends)
    return build_s, plan_s, max(0.0, e["t2"] - exec_start)


def layer_metrics(raw, file_modules, index_queries, index_input_mb):
    """Per-pass means over the traced passes, plus the tracing overhead.

    llm.index_probe_s is the time of the queries that read the persisted
    index; llm.index_mb_per_input_mb relates the index to the size of the
    table it is built over.
    """
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    n = max(1, len(traced))
    tot = {k: 0.0 for k in PER_LAYER_UNITS}
    unattributed = 0.0
    for e in raw["execs"]:
        if not e["traced"]:
            continue
        b, pl, ex = exec_phase_times(e)
        q = e["t2"] - e["t0"]
        if q > 0:
            unattributed = max(unattributed, abs(q - (b + pl + ex)) / q)
        tot["build.s"] += b
        tot["plan.ms"] += pl * 1000
        tot["exec.s"] += ex
        if e["query"] in index_queries:
            tot["llm.index_probe_s"] += q
        for j in e.get("jobs", []):
            phase = (j["group"] or "").rsplit(":", 1)[-1]
            if phase == "exec":
                tot["exec.jobs"] += 1
                for k, f in EXEC_JOB_FIELDS.items():
                    tot[k] += j[f]
            else:
                tot["build.jobs"] += 1
                tot["build.task_s"] += j["task_s"]
        for qe in e.get("qes", []):
            for k, v in qe["ops"].items():
                tot[k] += v
    for p in traced:
        idx = p.get("index") or {}
        if idx:
            tot["llm.index_build_s"] += idx["build_s"]
            tot["llm.index_mb"] += idx["bytes"] / 1e6
    eager = [j for e in raw["execs"] if e["traced"] for j in e.get("jobs", [])
             if not (j["group"] or "").endswith(":exec")]
    eager += [j for p in traced for j in (p.get("index") or {}).get("jobs", [])]
    for j in eager:
        mod = module_of(j["site"], file_modules)
        if mod == "sources.checkpoint":
            tot["sources.checkpoint_jobs"] += 1
            tot["sources.checkpoint_task_s"] += j["task_s"]
        elif mod in MODULES:
            tot[mod + ".jobs"] += 1
            tot[mod + ".task_s"] += j["task_s"]
    out = {k: v / n for k, v in tot.items()}
    out["exec.util"] = tot["exec.task_s"] / (raw["cores"] * tot["exec.s"]) if tot["exec.s"] else 0.0
    out["llm.index_mb_per_input_mb"] = (out["llm.index_mb"] / index_input_mb
                                        if index_input_mb else 0.0)
    tr, un = median([p["seconds"] for p in traced]), median([p["seconds"] for p in untraced])
    out["trace.overhead_frac"] = tr / un - 1 if tr and un else 0.0
    out["trace.unattributed_frac"] = unattributed
    return out


def spans(raw):
    """Spans query -> build/plan/exec -> job, each with its self time."""
    out = []

    def add(name, start, end, parent, **attrs):
        sid = len(out)
        out.append(dict(id=sid, name=name, parent=parent, start=start, end=end, **attrs))
        return sid

    for p in raw["passes"]:
        idx = p.get("index") or {}
        if p["traced"] and idx:
            sid = add("index", idx["start"], idx["start"] + idx["build_s"], None, pass_=p["pass"])
            for j in idx.get("jobs", []):
                add("job", j["start"], j["end"], sid, site=j["site"], job=j["id"])
    for e in raw["execs"]:
        if not e["traced"]:
            continue
        qid = add("query", e["t0"], e["t2"], None, query=e["query"], pass_=e["pass"])
        bid = add("build", e["t0"], e["t1"], qid)
        b, pl, ex = exec_phase_times(e)
        add("plan", e["t2"] - ex - pl, e["t2"] - ex, qid)
        xid = add("exec", e["t2"] - ex, e["t2"], qid)
        for j in e.get("jobs", []):
            parent = xid if (j["group"] or "").endswith(":exec") else bid
            add("job", j["start"], j["end"], parent, site=j["site"], job=j["id"])
    for s in out:
        kids = sorted((c["start"], c["end"]) for c in out if c["parent"] == s["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        s["self_s"] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


# ---------------------------------------------------------------------
# running the JVM
# ---------------------------------------------------------------------

def driver_memory():
    """The Tier-1 driver-memory formula: half of RAM, clamped to 2..8 GiB.

    Used as -Xmx only, with the JVM's default collector, as the Tier-1
    tests and graft.Bench run the engine.
    """
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(classpath, work, args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return (["java"] + opens +
            ["-Xmx" + driver_memory(), "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.LayerBench"] + ["%s=%s" % kv for kv in args.items()])


def run_jvm(classpath, work, args):
    """Run LayerBench; returns its raw record and the JVM's launch time."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_INDEX_DIR=args["index_dir"])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launch = time.time()
        proc = subprocess.Popen(java_cmd(classpath, work, args), stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("benchmark JVM exceeded %d s" % JVM_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("LAYERBENCH ")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError("benchmark JVM failed (exit %d); see %s"
                           % (proc.returncode, os.path.join(work, "jvm.log")))
    with open(os.path.join(work, "raw.json"), "w") as f:
        f.write(lines[-1][len("LAYERBENCH "):])
    return json.loads(lines[-1][len("LAYERBENCH "):]), launch


def record(root, classpath, verify_dir):
    """Write expected.json from the digests of an oracle-checked Verify dump."""
    queries = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
    work = os.path.join(root, ".bench_build", "work", "record")
    raw, _ = run_jvm(classpath, work, {
        "mode": "record", "queries": ",".join(queries), "sf": SF_DIR,
        "cores": os.cpu_count(), "work": work, "index_dir": os.path.join(work, "index"),
        "verify_dir": os.path.abspath(verify_dir)})
    diff = sorted(q for q, d in raw.items() if d["live"] != d["verify"])
    if diff:
        sys.exit("live output differs from the Verify dump for: " + ", ".join(diff))
    with open(EXPECTED, "w") as f:
        json.dump({q: raw[q]["verify"] for q in queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d digests in %s" % (len(queries), EXPECTED))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-from", metavar="VERIFY_DIR")
    a = ap.parse_args()
    if not a.record_from and (not a.workload or a.seconds is None):
        ap.error("--workload and --seconds are required")
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        sys.exit("build failed: %s" % e)
    if not os.path.isdir(SF_DIR):
        sys.exit("input tables not found at " + SF_DIR)
    if a.record_from:
        return record(root, classpath, a.record_from)

    w = WORKLOADS[a.workload]
    work = os.path.join(root, ".bench_build", "work", a.workload)
    try:
        raw, launch = run_jvm(classpath, work, {
            "workload": a.workload, "queries": ",".join(w["queries"]), "sf": SF_DIR,
            "seed": a.seed, "seconds": a.seconds, "warmup": WARMUP_S, "trace": a.trace,
            "cores": os.cpu_count(),
            "work": work, "index_dir": os.path.join(work, "index"),
            "index_queries": ",".join(w.get("index_queries", []))})
    except RuntimeError as e:
        sys.exit(str(e))
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    e2e, attempted, failed, info = summarize(raw, expected, w["queries"], launch)
    if info["mismatched"]:
        print("output check failed for: " + ", ".join(info["mismatched"]), file=sys.stderr)
    if a.trace:
        index_queries = w.get("index_queries", [])
        index_input_mb = (os.path.getsize(os.path.join(SF_DIR, "embeddings.parquet")) / 1e6
                          if index_queries else 0.0)
        values = layer_metrics(raw, source_modules(root), index_queries, index_input_mb)
        units = PER_LAYER_UNITS
        trace_dir = os.path.join(root, ".bench_build", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": values,
                       "spans": spans(raw)}, f)
        print("trace written to " + path, file=sys.stderr)
    else:
        values, units = e2e, END_TO_END_UNITS
    info.update(workload=a.workload, seed=a.seed)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not info["mismatched"] and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
