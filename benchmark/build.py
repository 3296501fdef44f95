"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (`benchmark/src`) into one class directory.

It calls the Scala compiler that ships with Spark directly, so a build
needs only `java` and the Spark jars that build.sbt compiles against (its
`unmanagedBase`). The output lives in `.bench_build/classes-<hash>` under
the checkout, keyed by a hash of every source file, so an unchanged tree
is never recompiled and a changed one never reuses stale classes.

    python3 benchmark/build.py        # prints the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCALAC_OPTS = ["-usejavacp", "-nowarn", "-encoding", "UTF-8"]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: source directory {os.path.relpath(r, ROOT)} is missing")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files if f.endswith((".scala", ".java")))
    return sorted(out)


def spark_jars():
    """The jar directory build.sbt's `unmanagedBase` names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt sets no unmanagedBase")
    return m.group(1)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, f"classes-{stamp}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", tmp, "@" + argfile],
        stdout=log, stderr=log)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, stamp


if __name__ == "__main__":
    print(build()[0])
