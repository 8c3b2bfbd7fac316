#!/usr/bin/env python3
"""Paired benchmark runs: a base revision against the working tree.

Extracts <rev> with `git archive` into a temporary directory, then runs
`perfbench/run.py` once per seed in each tree, alternating which side
runs first (the base leads on the first seed, the working tree on the
next, and so on). Each tree builds its own classes from its own sources.
Prints, per metric, each side's median and quartiles, the change's wins
(ties count for neither side), the base's quartile spread (Q3 - Q1) and
a verdict, then the failed/attempted totals of each side. A gain holds
when, over at least ten pairs, the change wins at least 9/10 of them
and the medians differ by more than the base's quartile spread. A
metric with a bound in BENCHMARK.json is flagged when the change's
median is worse than the base's by more than that bound. `--named` adds
a second table, built the same way, over the `named` readings of each
run's report line (per-op latencies such as `takedown_p50_ms`,
`compact_p50_ms`, `search_p90_ms`), so an untraced pair shows which op
moved.

    python3 tools/bench_pairs.py --base HEAD --workload relay-tail --seeds 401-410
    python3 tools/bench_pairs.py --base HEAD~1 --workload index-cdc --seeds 1-3 \\
        --trace 1 --raw /tmp/pairs.json
    python3 tools/bench_pairs.py --base HEAD --workload index-cdc --seeds 1-10 --named
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def extract(rev, dest):
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(tree, command, workload, seed, seconds, trace):
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        return None
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    # run.py echoes the PERFBENCH_REPORT line as `report {...}`
    reports = [l.split(" ", 1)[1] for l in lines if l.startswith("report ")]
    result["named"] = json.loads(reports[-1]).get("named", {}) if reports else {}
    return result


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return q1, med, q3


def report(bench, runs, section="metrics"):
    """runs: [(seed, base_result, change_result)] with both results present;
    section: "metrics" (the result line) or "named" (the report line)."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]} if section == "metrics" else {}
    names = sorted({k for _, b, c in runs for k in b[section]} &
                   {k for _, b, c in runs for k in c[section]})
    print(f"{'metric':34s} {'base median [Q1, Q3]':>34s} {'change median [Q1, Q3]':>34s}"
          f" {'delta':>8s} {'wins':>6s} {'base IQR':>10s}  verdict")
    for k in names:
        pairs = [(b[section][k]["value"], c[section][k]["value"]) for _, b, c in runs
                 if k in b[section] and k in c[section]]
        if not any(b or c for b, c in pairs):
            continue  # a layer this workload never runs
        # a named reading is a rate when its unit says so, else a cost
        unit = runs[0][1][section][k].get("unit")
        default = "higher" if unit == "1/s" else "lower"
        lower = better.get(k.replace("trace.", "", 1), better.get(k, default)) == "lower"
        bq1, bmed, bq3 = quartiles([b for b, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
        iqr = bq3 - bq1
        delta = (cmed - bmed) / bmed if bmed else float("nan")
        gain = wins >= 0.9 * len(pairs) and abs(cmed - bmed) > iqr and \
            (cmed < bmed if lower else cmed > bmed)
        worse = delta if lower else -delta
        # the rule needs at least ten pairs
        verdict = ("gain" if len(pairs) >= 10 else "gain (n<10)") if gain else "-"
        if k in bounds and worse > bounds[k]:
            verdict = f"WORSE than bound {bounds[k]}"
        print(f"{k:34s} {bmed:12.4g} [{bq1:9.4g}, {bq3:9.4g}] {cmed:12.4g} [{cq1:9.4g}, {cq3:9.4g}]"
              f" {delta:+8.1%} {wins:2d}/{len(pairs):<3d} {iqr:10.4g}  {verdict}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B or a single seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also write every run's result to this JSON file")
    ap.add_argument("--named", action="store_true",
                    help="also tabulate each run's named per-op readings")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="bench-pairs-")
    try:
        extract(a.base, tmp)
        trees = {"base": tmp, "change": ROOT}
        runs, raw, failed, attempted, errors = [], [], {}, {}, {}
        for i, seed in enumerate(seed_range(a.seeds)):
            res = {}
            for side in (("base", "change") if i % 2 == 0 else ("change", "base")):
                res[side] = run(trees[side], bench["command"], a.workload, seed,
                                seconds, a.trace)
                r = res[side]
                raw.append({"seed": seed, "side": side, "result": r})
                if r is None:
                    errors[side] = errors.get(side, 0) + 1
                    print(f"seed {seed} {side}: run failed", flush=True)
                    continue
                failed[side] = failed.get(side, 0) + r["failed"]
                attempted[side] = attempted.get(side, 0) + r["attempted"]
                brief = " ".join(f"{k}={m['value']:.4g}" for k, m in sorted(r["metrics"].items())
                                 if not a.trace or k.startswith("trace."))
                print(f"seed {seed} {side}: failed {r['failed']}/{r['attempted']} {brief}",
                      flush=True)
            if res["base"] is not None and res["change"] is not None:
                runs.append((seed, res["base"], res["change"]))
        if a.raw:
            with open(a.raw, "w") as f:
                json.dump(raw, f)
        if runs:
            print(f"\n{a.workload}, {len(runs)} pairs, base {a.base} vs working tree, "
                  f"{seconds}-s runs, trace {a.trace}")
            report(bench, runs)
            if a.named:
                print(f"\nnamed readings (report line), {len(runs)} pairs")
                report(bench, runs, "named")
        for side in ("base", "change"):
            print(f"{side}: failed {failed.get(side, 0)} of {attempted.get(side, 0)} ops, "
                  f"{errors.get(side, 0)} runs that exited non-zero")
        return 0 if runs else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
