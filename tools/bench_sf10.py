#!/usr/bin/env python3
"""Assemble BENCH_sf10_r{N}.json from a `runMain graft.Probe scale sf10`
log.

Usage: python3 tools/bench_sf10.py <scaleprobe-sf10-log> <out-json>

Parses the per-family `name  sf1  sf10  ratio` lines (min-of-2 per
scale) the second-decade probe prints for the heaviest families.
FAILED families are carried into a `failed` map — a broken fixture is
a visible finding, never a silent hole in the artifact.
"""
import json
import re
import sys


def main():
    log, out = sys.argv[1], sys.argv[2]
    q1, q10, failed = {}, {}, {}
    line_re = re.compile(r"^(q[\w]+)\s+(\d+\.\d+)\s+(\d+\.\d+)")
    fail_re = re.compile(r"^(q[\w]+)\s+FAILED\s*(.*)")
    for line in open(log, errors="replace"):
        line = line.strip()
        m = line_re.match(line)
        if m:
            q1[m.group(1)] = float(m.group(2))
            q10[m.group(1)] = float(m.group(3))
            continue
        m = fail_re.match(line)
        if m:
            failed[m.group(1)] = m.group(2)[:160]
    doc = {
        "metric": "sf10_total",
        "value": round(sum(q10.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in sorted(q10.items())},
        "qn": len(q10),
        "sf": "sf10 (derived 10x from sf1, /tmp/graft_sf10f; heavy tail)",
        "sf1_queries": {k: round(v, 3) for k, v in sorted(q1.items())},
    }
    if failed:
        doc["failed"] = failed
    json.dump(doc, open(out, "w"), indent=1)
    ratios = sorted(q10[k] / q1[k] for k in q10 if q1.get(k, 0) > 0.2)
    med = ratios[len(ratios) // 2] if ratios else float("nan")
    print(f"families: {len(q10)}  failed: {len(failed)}  "
          f"sf10 total: {doc['value']:.1f}s  "
          f"median ratio (sf1>0.2s): {med:.2f}x")
    for k in failed:
        print(f"  FAILED {k}: {failed[k]}")


if __name__ == "__main__":
    main()
