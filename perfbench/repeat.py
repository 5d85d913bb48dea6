#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise each metric.

    python3 perfbench/repeat.py --workload prep --seeds 1-10 [--out FILE]

Run from the repository root. Each run is untraced and measures
BENCHMARK.json's run_seconds. For every end-to-end metric prints the
median, the first and third quartiles (statistics.quantiles, n=4) and
their spread as a share of the median; with --out also writes them as
JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = str(json.load(f)["run_seconds"])
    runs = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", seconds, "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit("seed %d failed with exit %d" % (s, out.returncode))
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit("seed %d: outputs incorrect or queries failed: %s" % (s, res))
        runs.append(res)
        print("seed %d: %s" % (s, {k: round(v["value"], 4) for k, v in res["metrics"].items()}),
              flush=True)
    result = {"workload": a.workload, "seconds": float(seconds), "seeds": seeds(a.seeds),
              "metrics": {k: summary([r["metrics"][k]["value"] for r in runs])
                          for k in runs[0]["metrics"]}}
    for k, m in result["metrics"].items():
        print("%-28s median %10.4f  q1 %10.4f  q3 %10.4f  spread %s" % (
            k, m["median"], m["q1"], m["q3"],
            "n/a" if m["spread"] is None else "%.4f" % m["spread"]))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
