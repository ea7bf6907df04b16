"""Benchmark of renkodf_spark: Renko batch and streaming workloads,
measured end to end and per layer (traced runs add the hot-symbol
chunked path and the registry's query DAGs).

Run from the repository root:

    python3 perfbench/run.py --workload renko_batch --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the workload again with spans and status-store reads
and prints the per-layer metrics.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` (removed
at exit); Spark's scratch space is kept there too.  Traced runs write
their spans to ``.perfbench_traces/``.  ``--scale`` shrinks every input
and is meant for the smoke test (``perfbench/smoke.py``) only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

from probes import log

ROOT = Path(__file__).resolve().parent.parent
CORES = 4


class Bench:
    """What one run measures, and the helpers workloads call."""

    def __init__(self, args, spec: dict, work: Path):
        import numpy as np

        import probes

        self.workload = args.workload
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scale = args.scale
        self.spec = spec
        self.work = work
        self.rng = np.random.default_rng(args.seed)
        self.meter = probes.UnitMeter(probes.ProcTree())
        self.tracer = probes.Tracer(self.traced, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.setup_s = 0.0
        self.units: list[dict] = []
        self.requests: list[float] = []
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- inputs and set-up ------------------------------------------

    def sized(self, n: int) -> int:
        return max(1, int(n * self.scale))

    def path(self, *parts: str) -> str:
        return str(self.work.joinpath(*parts))

    @contextmanager
    def setup_phase(self):
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            yield
        self.setup_s += time.perf_counter() - t0

    def start_session(self) -> None:
        from renkodf_spark.session import build_session

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = build_session(
                # a small heap fills early, so resident memory is steady run to run
                "perfbench", cores=CORES, shuffle_partitions=CORES, driver_memory="1g",
                extra_conf={
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.execution.arrow.pyspark.enabled": "true",
                    # keep every job of a run in the status store
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_s += time.perf_counter() - t0

    # -- outcomes -----------------------------------------------------

    def attempt(self, fn, label: str):
        """Run one operation; a raise counts as a failure, not a crash."""
        self.attempted += 1
        try:
            return fn(label)
        except Exception:  # the run reports the failure and goes on
            self.failed += 1
            log(f"{label} failed:\n{traceback.format_exc()}")
            return None

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")

    # -- results ------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        """Every workload reports every metric; what a unit and a request
        are depends on the workload (see ``workloads.py``).  On
        renko_batch a unit and a request are both one job, so latency is
        job wall; on renko_stream a unit is one backlog drain and a
        request one live micro-batch."""
        med = statistics.median
        lat = sorted(self.requests)
        return {
            "setup_s": self.setup_s,
            "wall_s": med(u["wall_s"] for u in self.units),
            "ticks_per_s": med(u["ticks"] / u["wall_s"] for u in self.units),
            "latency_p50_ms": med(lat) * 1e3,
            # inclusive: with few samples the default method extrapolates past the largest
            "latency_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8] * 1e3
            if len(lat) > 1 else lat[0] * 1e3,
            "cpu_s": med(u["cpu_s"] for u in self.units),
            "peak_rss_mb": max(u["rss_mb"] for u in self.units),
        }

    def per_layer(self) -> dict[str, float]:
        values = dict(self.layer)
        values["trace.wall_s"] = statistics.median(u["wall_s"] for u in self.units)
        # a layer this workload does not drive did no work: its count is 0
        idle = [m["name"] for m in self.spec["per_layer"] if m["name"] not in values]
        if idle:
            log(f"{self.workload} does not drive {len(idle)} per-layer metrics; reported as 0: "
                + ", ".join(idle))
        return {m["name"]: float(values.get(m["name"], 0.0)) for m in self.spec["per_layer"]}


def stop_spark(bench: Bench) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started (the JVM, the Python worker daemon and its workers)."""
    if bench.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    bench.spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    tree = bench.meter.tree
    deadline = time.monotonic() + 15
    while len(tree.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree.pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", type=float, default=1.0)
    args = parser.parse_args(argv)

    if not (ROOT / "renkodf_spark" / "__init__.py").is_file():
        log(f"no renkodf_spark package under {ROOT}: run from a full checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # Python workers and the JVM inherit it
    # the launcher JVM would otherwise write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    bench = Bench(args, spec, work)
    try:
        bench.start_session()
        workloads.WORKLOADS[args.workload](bench)
        if not bench.units:
            log("no unit completed")
            return 1
        log(f"{len(bench.units)} units, {len(bench.requests)} latency samples; unit walls (s): "
            + " ".join(f"{u['wall_s']:.2f}" for u in bench.units))
        metrics = bench.per_layer() if bench.traced else bench.end_to_end()
        units = {m["name"]: m["unit"] for m in spec["per_layer" if bench.traced else "end_to_end"]}
        if bench.traced:
            trace = ROOT / ".perfbench_traces" / f"{bench.tracer.run_id}.json"
            bench.tracer.dump(str(trace))
            log(f"spans written to {trace}")
    finally:
        stop_spark(bench)
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".perfbench_work").iterdir()):
            (ROOT / ".perfbench_work").rmdir()

    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
