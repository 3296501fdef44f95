"""Repo benchmark: runs one workload and prints its metrics.

    python3 benchmark/run.py --workload wiki_extract --seed 1 --seconds 6 --trace 0

Workloads, metrics and bounds are declared in BENCHMARK.json; README.md in
this directory documents the inputs, the metrics and the layer map. The
program is built from this checkout's sources (build.py); inputs are
generated from the seed (gen.py) and cached under .bench_build/inputs.
Everything a run writes stays under .bench_build in the checkout, and its
per-run work directory (warehouse, outputs, Spark scratch) is removed
when the run ends.

The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is a JSON detail record: the host (nproc, local[N],
heap, CPU steal and load around the run, with a load flag), the sample
counts and every value the run measured.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = build.BUILD_DIR
FIXTURES = os.path.join(ROOT, "src", "test", "resources")

# input size per workload at --scale 1 (wiki: dump MB; others: documents)
SIZES = {"wiki_extract": 1.6, "curate_corpus": 1500, "serve_mixed": 600}
# per-layer metric families owned by one workload; on the others the
# layer does no work and reads 0
OWNED = {"wiki.": "wiki_extract", "pipeline.": "curate_corpus", "text.": "serve_mixed"}
SETUPS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test runs tiny sizes)")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="damage each output before its check (negative test)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    classes, stamp = build.build()

    nproc = len(os.sched_getaffinity(0))
    size = SIZES[args.workload] * args.scale
    size = round(size, 3) if args.workload == "wiki_extract" else max(200, int(size))
    inputs = gen.ensure(args.workload, args.seed, size, os.path.join(BUILD_DIR, "inputs"))

    for d in ("tmp", "logs", "traces"):
        os.makedirs(os.path.join(BUILD_DIR, d), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BUILD_DIR, "tmp"))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log_path = os.path.join(BUILD_DIR, "logs", tag + ".log")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jvm_tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jvm_tmp)
    # a fixed heap (-Xms = -Xmx), so peak RSS does not hinge on when the
    # collector chose to grow it
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={jvm_tmp}", f"-Dderby.system.home={work}",
           "-cp", build.classpath(classes), "graftbench.Main",
           "--workload", args.workload, "--input", inputs, "--work", work,
           "--state", os.path.join(BUILD_DIR, "state-" + stamp),
           "--fixtures", FIXTURES, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(nproc), "--setups", str(SETUPS),
           "--corrupt", str(args.corrupt),
           "--spans", os.path.join(BUILD_DIR, "traces", tag + ".jsonl")]

    # a SIGTERM unwinds through the finally blocks below, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    steal0, total0 = cpu_times()
    load0 = loadavg()
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                    cwd=work, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"run exceeded {RUN_LIMIT_S} s; log: {log_path}")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    steal1, total1 = cpu_times()
    load1 = loadavg()

    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed with code {proc.returncode}; log: {log_path}")
    res = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])

    metrics = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        got = res["metrics"].get(name)
        if got is None:
            owner = next((w for p, w in OWNED.items() if name.startswith(p)), None)
            if owner is None or owner == args.workload:
                sys.exit(f"metric {name} was not measured on {args.workload}")
            got = {"value": 0.0, "unit": unit}
        if got["unit"] != unit or got["value"] is None:
            sys.exit(f"metric {name}: got {got}, declared unit {unit}")
        metrics[name] = {"value": got["value"], "unit": unit}

    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    host = {
        "nproc": nproc, "local": f"local[{nproc}]", "jvm_heap": JVM_HEAP,
        "steal_frac": round(steal_frac, 4), "loadavg_before": load0, "loadavg_after": load1,
        # steal is the other tenants' load; loadavg also counts this run's
        # own threads, so only a backlog well beyond nproc flags the run
        "loaded": steal_frac > 0.05 or load0 > 2 * nproc,
        "run_wall_s": round(wall, 2),
    }
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "input_size": size, "host": host,
                                 "run": res["detail"], "measured": res["metrics"]}}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
