"""Benchmark harness: Spark session lifecycle, timed operations with their
job counts, in-memory spans, and host stamps.

Nothing here reaches into the engine: operations are timed around calls
to its public functions, jobs are counted per job group through the
status tracker, and stored bytes come from the block manager's RDD
storage report, which launches no job.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    """One timed interval. ``parent`` is the index of the enclosing span
    in ``Tracer.spans`` (None for the run span)."""

    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory: run -> workload -> operation, with job and
    stage spans attached after the run from the Spark event log."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, kind: str, parent: int | None) -> int:
        self.spans.append(Span(name, kind, time.time(), parent=parent))
        return len(self.spans) - 1

    def close(self, idx: int, **attrs: Any) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        return span

    def add(self, span: Span) -> int:
        self.spans.append(span)
        return len(self.spans) - 1

    def children(self, idx: int, kind: str) -> list[Span]:
        return [s for s in self.spans if s.parent == idx and s.kind == kind]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "kind": s.kind,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, s in enumerate(self.spans)
        ]


@dataclass
class OpResult:
    name: str
    layer: str
    seconds: float
    jobs: int
    cached_mb: float
    group: str
    value: Any = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


def storage_mb(spark) -> float:
    """Bytes held by persisted and checkpointed RDD blocks, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class Session:
    """Starts and stops the engine's Spark session for the benchmark,
    through the engine's session factory, unchanged. The Spark event log
    is set for the whole process at submit time (see ``submit_args``)."""

    def __init__(self, work_dir: str) -> None:
        self.event_dir = os.path.join(work_dir, "eventlog")
        self.spark = None

    def start(self):
        from pyspark_graph_spark.session import get_spark

        self.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop the session, then end the JVM and wait until it has."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def submit_args(work_dir: str, event_log: bool) -> str:
    """PYSPARK_SUBMIT_ARGS keeping every file Spark writes in ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    return " ".join(
        [
            f"--conf spark.eventLog.enabled={str(event_log).lower()}",
            f"--conf spark.eventLog.dir=file://{work_dir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.sql.warehouse.dir=file://{work_dir}/warehouse",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


class Runner:
    """Runs operations of one measured pass, each in its own job group."""

    def __init__(self, spark, tracer: Tracer, parent: int, tag: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.parent = parent
        self.tag = tag
        self.results: list[OpResult] = []
        self._extra: dict = {}

    def note(self, **extra: Any) -> None:
        """Attach public counters (e.g. ``rounds_run``) to the running op."""
        self._extra.update(extra)

    def op(self, name: str, layer: str, fn: Callable[[], Any]) -> OpResult:
        sc = self.spark.sparkContext
        group = f"{self.tag}:{len(self.results)}:{name}"
        idx = self.tracer.open(name, "operation", self.parent)
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        value, error = None, None
        self._extra = {}
        try:
            value = fn()
        except Exception:  # an operation failure is counted, not fatal
            error = traceback.format_exc(limit=3)
            print(f"# {name}: FAILED\n{error}", file=sys.stderr)
        finally:
            seconds = time.perf_counter() - t0
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        cached = storage_mb(self.spark)
        res = OpResult(
            name, layer, seconds, jobs, cached, group, value, error, self._extra
        )
        self.tracer.close(
            idx, layer=layer, group=group, jobs=jobs, ok=error is None,
            cached_mb=round(res.cached_mb, 3),
        )
        self.results.append(res)
        return res


# --------------------------------------------------------------- host stamps


def read_loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def read_proc_stat() -> dict[str, int] | None:
    fields = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return dict(zip(fields, (int(x) for x in parts[1:9])))
    except (OSError, ValueError):
        return None


def host_conditions(stat0, stat1, load0, load1) -> dict:
    """Load average and busy/steal share over the run (same fields as
    bench.py), so runs on a noisy host can be told apart."""
    cond: dict = {"ncpu": os.cpu_count()}
    if load0:
        cond["loadavg_start"] = load0
    if load1:
        cond["loadavg_end"] = load1
    if stat0 and stat1:
        delta = {k: stat1[k] - stat0[k] for k in stat0}
        total = sum(delta.values())
        busy = total - delta.get("idle", 0) - delta.get("iowait", 0)
        if total > 0:
            cond["cpu_busy_frac"] = round(busy / total, 4)
            cond["cpu_steal_frac"] = round(delta.get("steal", 0) / total, 4)
    return cond


def calibration(spark) -> dict:
    """bench.py's fixed xxhash64 probe: a 1-partition fold (single-core
    speed) and an ncpu-partition fold (parallel throughput), pure JVM
    codegen over spark.range, so it moves only with the host."""
    ncpu = os.cpu_count() or 8
    out: dict = {}
    for label, parts, n in (
        ("serial", 1, 20_000_000),
        ("parallel", ncpu, 20_000_000 * ncpu),
    ):
        spark.range(0, 1000, 1, parts).selectExpr(
            "sum(pmod(xxhash64(id), 1000000)) AS h"
        ).collect()
        t0 = time.time()
        spark.range(0, n, 1, parts).selectExpr(
            "sum(pmod(xxhash64(id), 1000000)) AS h"
        ).collect()
        out[f"xxhash64_{label}_sec"] = round(time.time() - t0, 3)
    return out

