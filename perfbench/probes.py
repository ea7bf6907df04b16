"""Readers the benchmark uses to look at the program from outside.

- ``ProcTree`` reads CPU time and resident memory of this process and
  all its descendants (the JVM and its Python workers) from ``/proc``.
- ``stage_table`` and ``group_stages`` read Spark's status store for
  the jobs of one job group.
- ``Tracer`` keeps spans in memory and writes them out at the end.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU and RSS of ``root`` and every process below it."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat(int(name))
                if fields:
                    parent[int(name)] = int(fields[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def cpu_s(self, pids: list[int] | None = None) -> float:
        """utime + stime of the live tree plus what its reaped children used."""
        total = 0
        for pid in pids or self.pids():
            fields = _stat(pid)
            if fields:
                total += sum(int(v) for v in fields[11:15])
        return total / _TICK

    def rss_mb(self, pids: list[int]) -> float:
        total = 0
        for pid in pids:
            fields = _stat(pid)
            if fields:
                total += int(fields[21])
        return total * _PAGE_MB


class UnitMeter:
    """Wall, tree CPU and peak tree RSS of one unit of work.  A sampler
    thread reads RSS every ``interval`` seconds and refreshes the
    process list once a second, so workers started mid-unit count."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval

    @contextmanager
    def measure(self):
        result = {}
        pids = self.tree.pids()
        peak = [self.tree.rss_mb(pids)]
        stop = threading.Event()

        def sample():
            nonlocal pids
            refreshed = time.monotonic()
            while not stop.wait(self.interval):
                if time.monotonic() - refreshed > 1.0:
                    pids, refreshed = self.tree.pids(), time.monotonic()
                peak[0] = max(peak[0], self.tree.rss_mb(pids))

        thread = threading.Thread(target=sample, daemon=True)
        cpu0 = self.tree.cpu_s(pids)
        thread.start()
        t0 = time.perf_counter()
        try:
            yield result
        finally:
            result["wall_s"] = time.perf_counter() - t0
            stop.set()
            thread.join()
            pids = self.tree.pids()
            result["cpu_s"] = self.tree.cpu_s(pids) - cpu0
            result["rss_mb"] = max(peak[0], self.tree.rss_mb(pids))


# ---------------------------------------------------------------- Spark status

def stage_table(spark) -> dict[int, dict]:
    """Every retained stage attempt's metrics, keyed by stage id (the
    latest attempt wins).  Works with ``spark.ui.enabled=false``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    out = {}
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages)
    for s in stages:
        if s.stageId() in out and out[s.stageId()]["attempt"] > s.attemptId():
            continue
        out[s.stageId()] = {
            "attempt": s.attemptId(),
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "jvm_cpu_s": s.executorCpuTime() / 1e9,
            "write_mb": s.shuffleWriteBytes() / 2**20,
            "read_mb": s.shuffleReadBytes() / 2**20,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
        }
    return out


def group_stages(spark, group: str, table: dict[int, dict]) -> tuple[int, list[dict]]:
    """(jobs, stages that ran) for every job run under ``group``;
    ``table`` is a ``stage_table`` read after those jobs ended."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    ran = [table[s] for s in sorted(stage_ids) if s in table and table[s]["status"] != "SKIPPED"]
    return len(jobs), ran


def host_metrics(jobs: int, stages: list[dict]) -> dict[str, float]:
    """Job, stage and shuffle totals of one unit.  Map stages read the
    input and write shuffle; UDF stages read shuffle (where grouped-map
    kernels run), summed over the unit like the kernel time set against
    them (a stream drain runs one per trigger)."""
    readers = [s for s in stages if s["read_mb"] > 0]
    return {
        "host.jobs": jobs,
        "host.stages": len(stages),
        "host.tasks": sum(s["tasks"] for s in stages),
        "shuffle.write_mb": sum(s["write_mb"] for s in stages),
        "shuffle.read_mb": sum(s["read_mb"] for s in stages),
        "shuffle.spill_mb": sum(s["spill_mb"] for s in stages),
        "map_stage.run_s": sum(s["run_s"] for s in stages if s["write_mb"] > 0 and s["read_mb"] == 0),
        "udf_stage.run_s": sum(s["run_s"] for s in readers),
        "udf_stage.jvm_cpu_s": sum(s["jvm_cpu_s"] for s in readers),
        "executor.run_s": sum(s["run_s"] for s in stages),
    }


# ---------------------------------------------------------------- tracing

class Tracer:
    """Spans around the benchmark's calls into each layer.  Disabled, it
    records nothing and ``span`` costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        span = {
            "run": self.run_id, "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "attrs": attrs,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus what its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "self_s": self.self_times()}, f)
