"""Smoke test of the benchmark at tiny input sizes.

    python3 benchmark/smoke_test.py

For every workload it checks that
  * an untraced run prints every end-to-end metric of BENCHMARK.json, and a
    traced run every per-layer metric, each with its declared unit, and both
    pass their output checks;
  * with `--corrupt 1` (each output damaged before its check) the run is
    rejected, and every one of the workload's output checks is among the
    failed ones (CHECKS below);
and that the benchmark refuses to run, printing no result, from a copy that
holds only BENCHMARK.json and the benchmark directory.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# the output checks of each workload, as named in a run's failed_checks
CHECKS = {
    "wiki_extract": ["parity wiki_e2e_expected.txt", "parity wiki_incub_expected.txt",
                     "split-boundary pages", "extract"],
    "curate_corpus": ["curate"],
    "serve_mixed": ["bm25", "phrase", "spot-check bm25", "spot-check phrase"],
}
SCALE = "0.1"
SECONDS = "1"


def run(workload, trace, corrupt=0, cwd=ROOT):
    res = subprocess.run(
        [sys.executable, os.path.join("benchmark", "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", SECONDS, "--trace", str(trace),
         "--scale", SCALE, "--corrupt", str(corrupt)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return res


def last_json(res, line=-1):
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[line])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            failures.append(msg)

    for w in [w["name"] for w in spec["workloads"]]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            out = last_json(run(w, trace))
            expect(set(out) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result keys")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{w} trace={trace}: checks pass ({out['attempted']} attempted)")
            got = out["metrics"]
            missing = [m["name"] for m in declared
                       if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
            expect(not missing, f"{w} trace={trace}: every metric with its unit {missing}")
            expect(set(got) == {m["name"] for m in declared},
                   f"{w} trace={trace}: no undeclared metrics")
        res = run(w, 0, corrupt=1)
        bad, detail = last_json(res), last_json(res, -2)["detail"]
        failed = detail["run"]["failed_checks"]
        missed = [c for c in CHECKS[w] if c not in failed]
        expect(not bad["correct"] and bad["failed"] > 0 and not missed,
               f"{w}: every check rejects its corrupted output (failed: {failed}; "
               f"not failed: {missed})")

    # a tree with only the benchmark in it has no program to build
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "benchmark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        res = run(spec["workloads"][0]["name"], 0, cwd=bare)
        expect(res.returncode != 0 and "correct" not in res.stdout,
               "bare tree: non-zero exit, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
