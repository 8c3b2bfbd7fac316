#!/usr/bin/env python3
"""Assemble BENCH_sf1_r{N}.json from a `runMain graft.Probe scale` log.

Usage: python3 tools/bench_sf1.py <scaleprobe-log> <out-json> \
           [relay-probe-log]

Parses the per-family `name  sf01  sf1  ratio` lines (min-of-2 per
scale, printed by the exhaustive `Probe scale` sweep), the cc/pr distributed
legs, and — when a `Probe scale relay` log is supplied — the sf1 relay
throughput legs. FAILED families are carried into a `failed` map so a
broken fixture is a visible finding, never a silent hole in the
artifact.
"""
import json
import re
import sys


def parse(path):
    q01, q1, failed = {}, {}, {}
    relay = {}
    # the row names: every query family plus the two distributed legs
    name = r"^(q[\w]+|cc_distributed|pagerank_distributed)"
    line_re = re.compile(name + r"\s+(\d+\.\d+)\s+(\d+\.\d+)")
    fail_re = re.compile(name + r"\s+FAILED\s*(.*)")
    relay_re = re.compile(
        r"^relay\s+(\S+)\s+events=\s*(\d+)\s+pipeline=\s*(\d+)/s"
        r"\s+binary=\s*(\d+)/s\s+wire=\s*(\d+)/s")
    for line in open(path, errors="replace"):
        line = line.strip()
        m = line_re.match(line)
        if m:
            q01[m.group(1)] = float(m.group(2))
            q1[m.group(1)] = float(m.group(3))
            continue
        m = fail_re.match(line)
        if m:
            failed[m.group(1)] = m.group(2)[:160]
            continue
        m = relay_re.match(line)
        if m and "sf1" in m.group(1):
            relay = {
                "relay_sf1_events": int(m.group(2)),
                "relay_sf1_events_per_sec": int(m.group(3)),
                "relay_sf1_binary_events_per_sec": int(m.group(4)),
                "relay_sf1_wire_events_per_sec": int(m.group(5)),
            }
    return q01, q1, failed, relay


def main():
    log, out = sys.argv[1], sys.argv[2]
    q01, q1, failed, relay = parse(log)
    if len(sys.argv) > 3:
        _, _, _, relay2 = parse(sys.argv[3])
        relay = relay2 or relay
    doc = {
        "metric": "sf1_total",
        "value": round(sum(q1.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in sorted(q1.items())},
        "qn": len(q1),
        "sf": "sf1 (derived 10x from sf0.1, /tmp/graft_sf1f)",
        "sf01_queries": {k: round(v, 3) for k, v in sorted(q01.items())},
    }
    if failed:
        doc["failed"] = failed
    doc.update(relay)
    json.dump(doc, open(out, "w"), indent=1)
    ratios = sorted(q1[k] / q01[k] for k in q1 if q01.get(k, 0) > 0.2)
    med = ratios[len(ratios) // 2] if ratios else float("nan")
    print(f"families: {len(q1)}  failed: {len(failed)}  "
          f"sf1 total: {doc['value']:.1f}s  "
          f"median ratio (sf0.1>0.2s): {med:.2f}x")
    for k in failed:
        print(f"  FAILED {k}: {failed[k]}")


if __name__ == "__main__":
    main()
