#!/usr/bin/env python3
"""Runs the benchmark over several seeds and prints, per workload and
end-to-end metric, the median, the quartiles and their distance as a share
of the median (the spread BENCHMARK.json's bounds are held against).

Usage, from the root of a checkout:

    python3 steadybench/steadiness.py --seeds 101-110 [--workloads a,b] [--out FILE]

Seeds run in turn; each seed runs every workload, so slow phases of a
shared machine fall on all workloads alike. --out keeps one JSON line per
run, and --report FILE prints the table from such a file without running.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

BENCHMARK = json.loads(pathlib.Path("BENCHMARK.json").read_text())


def run(workload, seed):
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "steadybench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(BENCHMARK["run_seconds"]), "--trace", "0"],
        stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
    return dict(result, workload=workload, seed=seed, wall_s=time.time() - t0,
                exit_code=out.returncode)


def report(runs):
    for w in dict.fromkeys(r["workload"] for r in runs):
        rs = [r for r in runs if r["workload"] == w]
        ok = [r for r in rs if "metrics" in r]
        print(f"{w}: {len(rs)} runs, {sum(not r.get('correct') for r in rs)} not correct, "
              f"{sum(r.get('failed', 0) for r in rs)} failed of "
              f"{sum(r.get('attempted', 0) for r in rs)} ops, "
              f"mean run wall {statistics.mean(r['wall_s'] for r in rs):.1f} s")
        for m in BENCHMARK["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"  {m['name']:14} median {med:11.4f}  q1 {q1:11.4f}  q3 {q3:11.4f}  "
                  f"spread {(q3 - q1) / med:6.1%}  bound {m['bound']:.0%}")
    print(f"total run wall {sum(r['wall_s'] for r in runs):.0f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110", help="a range a-b or a comma list")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCHMARK["workloads"]))
    ap.add_argument("--out")
    ap.add_argument("--report", help="print the table from a file written by --out")
    a = ap.parse_args()
    if a.report:
        report([json.loads(line) for line in open(a.report)])
        return
    if "-" in a.seeds:
        lo, hi = map(int, a.seeds.split("-"))
        seeds = range(lo, hi + 1)
    else:
        seeds = [int(s) for s in a.seeds.split(",")]
    runs = []
    out = open(a.out, "w") if a.out else None
    for seed in seeds:
        for w in a.workloads.split(","):
            r = run(w, seed)
            runs.append(r)
            if out:
                out.write(json.dumps(r) + "\n")
                out.flush()
    report(runs)


if __name__ == "__main__":
    main()
