#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload and prints, for each
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median, next to the metric's bound from BENCHMARK.json.
With --overhead it runs each seed untraced and traced and prints the
tracing overhead: the traced run's trace.X minus the untraced run's X.

    python3 perfbench/spread.py --seeds 10 [--workloads relay-serve,index-cdc]
    python3 perfbench/spread.py --seeds 3 --overhead
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        print(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
        return None
    return json.loads(r.stdout.strip().splitlines()[-1])


def overhead(bench, a):
    for w in a.workloads.split(","):
        shares = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            plain, traced = run(bench, w, seed, 0), run(bench, w, seed, 1)
            if plain is None or traced is None:
                continue
            for k, m in traced["metrics"].items():
                base = k.replace("trace.", "", 1)
                if k.startswith("trace.") and base in plain["metrics"]:
                    v0 = plain["metrics"][base]["value"]
                    shares.setdefault(base, []).append((m["value"] - v0) / v0)
        for k, vs in sorted(shares.items()):
            print(f"{w:12s} {k:14s} traced - untraced: median {statistics.median(vs):+.3f} "
                  f"of untraced  n={len(vs)}", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--raw", help="also write every run's result to this JSON file")
    ap.add_argument("--overhead", action="store_true",
                    help="measure the tracing overhead instead of the spread")
    a = ap.parse_args()
    if a.overhead:
        return overhead(bench, a)
    raw = []
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for w in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            res = run(bench, w, seed, 0)
            if res is None:
                continue
            raw.append({"workload": w, "seed": seed, "result": res})
            if not res["correct"]:
                print(f"{w} seed {seed}: incorrect ({res['failed']} of {res['attempted']} failed)")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            if k != "setup_s":
                worst = max(worst, spread / bounds[k])
            print(f"{w:12s} {k:14s} median {med:12.3f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.2f}  n={len(vs)}  "
                  f"[{' '.join(f'{v:.4g}' for v in sorted(vs))}]", flush=True)
    if a.raw:
        with open(a.raw, "w") as f:
            json.dump(raw, f)
    print(f"largest spread / bound (setup_s excluded): {worst:.2f}")


if __name__ == "__main__":
    sys.exit(main())
