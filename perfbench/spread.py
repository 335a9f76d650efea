#!/usr/bin/env python3
"""Runs two sets of runs of the same checkout, each set seeds 1-10 on every
workload in BENCHMARK.json, and prints for every end-to-end metric each set's
median and spread (interquartile range over median, as
statistics.quantiles(n=4) gives it) against the metric's bound, how far the
second set's median moved from the first's, and whether the failed share of
operations is identical in both sets.

    python3 perfbench/spread.py

Run from the root of a checkout; each run is one `perfbench/run.py` call.
Exits 0 only if every figure is within its bound.
"""
import json
import statistics
import subprocess
import sys
import time

SETS = 2
SEEDS = range(1, 11)


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: incorrect:\n{p.stderr[-2000:]}")
    return res, wall


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    spec = json.load(open("BENCHMARK.json"))
    workloads = [w["name"] for w in spec["workloads"]]
    sets = []
    for s in range(SETS):
        runs = {w: [] for w in workloads}
        for w in workloads:
            for seed in SEEDS:
                res, wall = run_once(spec, w, seed)
                runs[w].append(res)
                print(f"set {s + 1} {w} seed {seed}: {wall:.1f} s wall, "
                      + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
        sets.append(runs)
    ok = True
    for w in workloads:
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = []
            meds = []
            for runs in sets:
                xs = [r["metrics"][name]["value"] for r in runs[w]]
                sp = spread(xs)
                meds.append(statistics.median(xs))
                good = sp <= bound
                ok &= good
                cols.append(f"median {meds[-1]:.4g} spread {sp:.3f}{'' if good else ' OVER'}")
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            good = worse <= bound
            ok &= good
            print(f"  {name:12s} bound {bound:.2f}: " + " | ".join(cols)
                  + f" | second set worse by {worse:+.3f}{'' if good else ' OVER'}")
        shares = {round(sum(r["failed"] for r in runs[w]) / sum(r["attempted"] for r in runs[w]), 9)
                  for runs in sets}
        ok &= len(shares) == 1
        print(f"  failed share per set: {sorted(shares)}")
    print("ALL WITHIN BOUNDS" if ok else "SOME METRIC OUT OF BOUNDS")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
