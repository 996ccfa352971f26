"""Self-test of the benchmark harness at tiny size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload untraced and traced on the tiny shapes and checks
that each run passes its correctness gate, emits exactly the metrics
BENCHMARK.json names (with numeric values), prints its per-round lines
with a non-negative flush phase, and that the gate rejects a digest
mismatch. Also checks that the benchmark refuses to run, without a
result line, from a directory holding only BENCHMARK.json and
``perfbench``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "tiny")
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    fails = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fails.append(f"{tag}: result keys {sorted(result)}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fails.append(f"{tag}: metrics differ: {sorted(set(got) ^ set(want))}")
    if not all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values()):
        fails.append(f"{tag}: non-numeric metric value")
    if not result["correct"] or "# checks: passed" not in p.stdout:
        fails.append(f"{tag}: correctness gate did not pass")
    if trace:
        rounds = [json.loads(line.split(" ", 2)[2]) for line in lines
                  if line.startswith("# round ")]
        flush = [r["phase.flush_s"] for r in rounds
                 if "phase.flush_s" in r]
        if workload != "extract_bulk" and not flush:
            fails.append(f"{tag}: no per-round lines with a flush phase")
        if any(f < 0 for f in flush):
            fails.append(f"{tag}: negative flush phase {flush}")
    return fails


def check_gate() -> list[str]:
    """The gate must reject calls whose digests disagree or differ from
    the pinned one, without running Spark."""
    import run
    from workloads import CallResult

    class Fake:
        name = "fake"

        def check(self, spark, res):
            return []

    def window(*digests):
        win = run.Window()
        win.calls = [CallResult(1.0, d, 1, 1, 0, 0.0, 1.0)
                     for d in digests]
        return win

    fails = []
    if run.gate(Fake(), None, window("1:5", "1:5"), "1:5"):
        fails.append("gate rejected matching digests")
    if not run.gate(Fake(), None, window("1:5", "1:6"), None):
        fails.append("gate accepted differing digests")
    if not run.gate(Fake(), None, window("1:5"), "1:7"):
        fails.append("gate accepted a digest that differs from the pin")
    return fails


def check_bare_dir() -> list[str]:
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench("--workload", "extract_bulk", "--seed", "1", "--seconds",
                  "1", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return ["bare directory: the benchmark ran or printed a result"]
    return []


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    fails = check_gate() + check_bare_dir()
    for w in spec["workloads"]:
        for trace in (0, 1):
            fails += check_run(w["name"], trace, spec)
    for f in fails:
        print("FAIL:", f)
    print("selftest:", "FAILED" if fails else "passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
