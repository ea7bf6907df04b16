"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

At tiny input sizes, every workload runs with tracing off and on; each
run must print a result whose metrics are exactly the ones
``BENCHMARK.json`` names, with no failed operation.  A copy holding only
``BENCHMARK.json`` and ``perfbench/`` must exit non-zero without a
result.  Afterwards ``git status`` must show nothing the runs left.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    before = subprocess.run(["git", "status", "--short"], cwd=ROOT, capture_output=True, text=True).stdout
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = run(ROOT, workload, trace)
            label = f"{workload} --trace {trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            names = {m["name"] for m in spec[key]}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(result)}")
            elif set(result["metrics"]) != names:
                problems.append(f"{label}: metrics differ by {sorted(names ^ set(result['metrics']))}")
            elif not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{label}: correct={result['correct']} failed={result['failed']}\n"
                                f"{proc.stderr[-2000:]}")
            print(f"{label}: {'ok' if not problems else 'FAILED'}", flush=True)

    bare = ROOT / ".perfbench_work" / f"bare-{os.getpid()}"
    shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    proc = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    if not any((ROOT / ".perfbench_work").iterdir()):
        (ROOT / ".perfbench_work").rmdir()
    if proc.returncode == 0 or proc.stdout.strip():
        problems.append(f"bare copy: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}")
    print(f"bare copy exits {proc.returncode}", flush=True)

    after = subprocess.run(["git", "status", "--short"], cwd=ROOT, capture_output=True, text=True).stdout
    if after != before:
        problems.append(f"git status changed:\n{after}")
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
