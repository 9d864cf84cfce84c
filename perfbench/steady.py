#!/usr/bin/env python3
"""Steadiness check for the benchmark: repeat workloads over seeds and
report, for every end-to-end metric, the median, the quartiles and the
spread (quartile distance / median) against the metric's bound.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                [--out runs.json] [--against earlier.json]

Run from the repository root. Quartiles are `statistics.quantiles(v, n=4)`.
With --against, each median is also compared with the median of an earlier
set of runs: a metric is flagged when it got worse by more than its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: incorrect output\n{p.stdout[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def worse_by(first, second, better):
    """Relative worsening of second against first (positive = worse)."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--against")
    a = ap.parse_args()

    earlier = {}
    if a.against:
        with open(a.against) as f:
            earlier = json.load(f)
    runs = {}
    ok = True
    for w in a.workloads.split(","):
        runs[w] = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            runs[w].append(run_once(w, seed, bench["run_seconds"]))
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in sorted(runs[w][-1].items())), flush=True)
        print(f"\n{w}: {len(runs[w])} runs")
        print(f"  {'metric':24} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} "
              f"{'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            v = [r[m["name"]] for r in runs[w]]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            checked = m["name"] != "setup_s"
            verdict = "" if not checked else (
                "ok" if spread <= m["bound"] / 3 else
                "within bound" if spread <= m["bound"] else "TOO WIDE")
            if checked and spread > m["bound"]:
                ok = False
            if w in earlier:
                e = statistics.median([r[m["name"]] for r in earlier[w]])
                d = worse_by(e, med, m["better"])
                verdict += f"; vs earlier {d:+.3f}" + (" WORSE" if d > m["bound"] else "")
                if d > m["bound"]:
                    ok = False
            print(f"  {m['name']:24} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
                  f"{m['bound']:6.2f}  {verdict}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
