"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) into one class directory, using the Scala
compiler and Spark jars of the local Spark installation ($SPARK_HOME,
else /opt/spark). The output is keyed by a hash of every source file, so
an unchanged tree is built once per checkout.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def build():
    """Returns the class directory, compiling first when sources changed."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    sources = _files(engine_src, ".scala")
    if not sources:
        raise BuildError(f"engine sources not found under {engine_src}")
    sources += _files(os.path.join(BENCH_DIR, "src"), ".scala")
    res = _files(resources) if os.path.isdir(resources) else []
    h = hashlib.sha256()
    for f in sources + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # keep only the build of the current tree
    for d in os.listdir(BUILD_DIR):
        if d.startswith("classes-") and os.path.join(BUILD_DIR, d) != out:
            shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
