#!/usr/bin/env python3
"""Adjudicate a bench "regression" as HOST-BAND vs CODE before reading plans.

Day-over-day quiet-host walls on this box swing at the HOST level (r18:
the same tree read 334-364 s across three quiet runs vs 299 s the day
before; untouched streaming controls rose 25-73% on identical code). So a
riser in BENCH_LOCAL.json or a driver BENCH_r{N}.json means nothing by
itself. The protocol this tool automates:

  1. run the TOUCHED queries and a pair of UNTOUCHED CONTROL queries as
     dedicated repeats (same sbt Bench main the driver uses, via
     SPARK_GRAFT_ONLY), N times each;
  2. compare each query's best-of-N against a committed reference bench
     (default: BENCH_LOCAL.json at the given git rev);
  3. verdict: if the controls rose by a similar-or-larger factor than the
     touched queries, the host is slow today — stop; if the touched
     queries rose while the controls held, suspect the code and go read
     plans (tools/colhash_diff.py localizes correctness; .explain the
     touched queries for shape).

Usage:
  python3 tools/bench_control.py --sf /root/testdata/sf0.1 \
      --touched q377_streaming_semdedup_pairs,q383_streaming_semdedup_approx \
      [--controls q343_rocksdb_state_dedup,q103_streaming_sessions] \
      [--runs 3] [--ref-rev HEAD]

Never run while another sbt command is active (a compile in one kills the
other's runMain). The run leaves BENCH_LOCAL.json untouched (restored
from the index afterwards, same as the manual protocol).
"""
import argparse
import json
import re
import subprocess
import sys

DEFAULT_CONTROLS = "q343_rocksdb_state_dedup,q103_streaming_sessions"


def bench_once(sf, names):
    env = {"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_ONLY": ",".join(names),
           "SPARK_GRAFT_SF_DIR": sf}
    import os
    full = dict(os.environ, **env)
    out = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                         capture_output=True, text=True, env=full,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__))))
    m = re.search(r'\{"metric":"total".*\}', out.stdout)
    if not m:
        sys.exit(f"bench run produced no JSON line; stderr tail:\n"
                 f"{out.stderr[-2000:]}")
    return json.loads(m.group(0))["queries"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--touched", required=True)
    ap.add_argument("--controls", default=DEFAULT_CONTROLS)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--ref-rev", default="HEAD",
                    help="git rev whose BENCH_LOCAL.json is the reference")
    args = ap.parse_args()

    touched = [q for q in args.touched.split(",") if q]
    controls = [q for q in args.controls.split(",") if q and q not in touched]
    ref_doc = json.loads(subprocess.check_output(
        ["git", "show", f"{args.ref_rev}:BENCH_LOCAL.json"]))
    ref = ref_doc["queries"]
    if ref_doc.get("sf") and ref_doc["sf"] != args.sf:
        sys.exit(f"reference bench is {ref_doc['sf']} but --sf is "
                 f"{args.sf}: the ratios would be meaningless — "
                 "use the reference's scale factor")
    for q in touched + controls:
        if q not in ref:
            sys.exit(f"{q} not in {args.ref_rev}:BENCH_LOCAL.json — "
                     "pick a reference rev that benched it")

    walls = {q: [] for q in touched + controls}
    for i in range(args.runs):
        got = bench_once(args.sf, touched + controls)
        for q in walls:
            if q in got:
                walls[q].append(got[q])
        print(f"[run {i + 1}/{args.runs}] " +
              "  ".join(f"{q}={got.get(q, float('nan')):.2f}s"
                        for q in touched + controls))
    # the manual protocol ends with `git checkout BENCH_LOCAL.json`
    subprocess.run(["git", "checkout", "--", "BENCH_LOCAL.json"], check=False)

    def ratio(qs):
        rs = [min(walls[q]) / ref[q] for q in qs if walls[q]]
        return sum(rs) / len(rs) if rs else float("nan")

    rt, rc = ratio(touched), ratio(controls)
    print(f"\nbest-of-{args.runs} vs {args.ref_rev}: "
          f"touched x{rt:.2f}, controls x{rc:.2f}")
    for q in touched + controls:
        tag = "touched" if q in touched else "control"
        print(f"  [{tag}] {q}: ref {ref[q]:.2f}s -> best "
              f"{min(walls[q]):.2f}s (x{min(walls[q]) / ref[q]:.2f}), "
              f"runs {['%.2f' % w for w in walls[q]]}")
    if rt <= 1.15 or rt <= rc * 1.15:
        print("\nverdict: HOST-BAND — the controls moved with the touched "
              "queries (or nothing moved). Do not read plans; re-bench on "
              "a quieter day and commit best-of-N.")
    else:
        print("\nverdict: SUSPECT CODE — the touched queries rose beyond "
              "the controls' band. Diff the per-job breakdowns and the "
              "AQE-final plans (runMain graft.Inspect profile <sf> <out> "
              "<touched>) and the _colhash artifacts before/after.")


if __name__ == "__main__":
    main()
