#!/usr/bin/env python3
"""Seeded CDC benchmark of the engine: builds it from source, runs one
workload in a fresh JVM and prints, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}. The line before it
is the run's report: seed, sizes, core count, the named latencies with
their sample counts, and any failures.

    python3 perfbench/run.py --workload relay-serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Workloads: relay-serve, relay-tail, index-cdc (see perfbench/README.md).
--trace 1 reports the per-layer metrics instead of the end-to-end ones
and writes the run's spans under .bench_build/perfbench/traces/.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# whole-run limit, build included once classes exist
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def java_cmd(classes, main, args, work):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # a fixed, pre-touched heap: otherwise the resident size depends on
    # how far the collector happened to grow the young generation
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, main] + args)


def run_jvm(cmd, work, deadline):
    """Runs the JVM in its own process group; returns (code, stdout)."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 124, ""
    if p.returncode != 0 or os.environ.get("PERFBENCH_SHOW_LOG"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    start = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classes, "perfbench.SelfTest", [work], work),
                                work, start + 600)
            sys.stdout.write(out)
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        if a.trace:
            args += ["--spans", os.path.join(
                build.BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        # the first run in a checkout also pays for the build
        code, out = run_jvm(java_cmd(classes, "perfbench.Main", args, work),
                            work, time.time() + RUN_LIMIT_S)
        lines = out.splitlines()
        report = [l for l in lines if l.startswith("PERFBENCH_REPORT ")]
        result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not result:
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return code or 1
        parsed = json.loads(result[-1].split(" ", 1)[1])
        if set(parsed) != RESULT_KEYS:
            print(f"perfbench: malformed result {sorted(parsed)}", file=sys.stderr)
            return 1
        for l in report:
            print("report " + l.split(" ", 1)[1])
        print(json.dumps(parsed, separators=(",", ":")))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
