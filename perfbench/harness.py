"""Shared measurement machinery: the session, spans, Spark counters.

Spans are recorded around calls into the engine's public functions, from
outside the engine. With tracing on, each span also carries the counters
of the Spark jobs its call started. Jobs are attributed to a span by job-id
high-water mark read from the in-process status store
(``sc._jsc.sc().statusStore()``, populated with the UI off), not by job
group: jobs submitted from the engine's own thread pools carry no group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: Spark conf keys recorded in every run's output. The engine mutates some
#: of them session-wide (ingest's scan sizing, the dedup stage's IN-filter
#: threshold), which is why every workload runs in a process of its own.
CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.parquet.pushdown.inFilterThreshold",
    "spark.sql.autoBroadcastJoinThreshold",
)

#: Per-stage counters summed over a span's jobs.
_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("run_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("input_bytes", "inputBytes"),
    ("input_records", "inputRecords"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("spill_bytes", "diskBytesSpilled"),
    ("output_bytes", "outputBytes"),
)


def start_session(local_dir: str):
    """``get_spark(master="local[4]", shuffle_partitions=4)`` with scratch
    space kept under ``local_dir``; returns ``(spark, seconds)``."""
    from wd2duckdb_spark import get_spark

    os.makedirs(local_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context, then end the driver JVM and wait for it: the JVM
    exits when the Python side closes its stdin pipe."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def session_conf(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in CONF_KEYS}


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM: the peak resident set over its life."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def plan_phases_ms(df) -> dict[str, int]:
    """Catalyst phase times recorded on the frame's own QueryExecution
    (filled by an action on that frame, or by forcing its plan)."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {k: ph.apply(k).durationMs()
            for k in ("analysis", "optimization", "planning") if ph.contains(k)}


class StatusStore:
    """Reads jobs and stages from the context's in-process status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every queued event."""
        self._sc.listenerBus().waitUntilEmpty()

    def job_high_water(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, lo: int, hi: int) -> list[dict]:
        """Jobs with ``lo < jobId <= hi``, oldest first."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= lo:
                break
            if jid > hi:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            seq = j.stageIds()
            group = j.jobGroup()
            out.append({
                "job_id": jid,
                "group": group.get() if group.isDefined() else None,
                "stage_ids": [seq.apply(k) for k in range(seq.size())],
                "submitted_ms": sub.get().getTime() if sub.isDefined() else None,
                "completed_ms": end.get().getTime() if end.isDefined() else None,
            })
        out.reverse()
        return out

    def stage_counters(self, stage_ids: list[int]) -> dict[str, float]:
        tot = {name: 0 for name, _ in _STAGE_FIELDS}
        tot["stages"] = 0
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never run
                continue
            if str(s.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            for name, getter in _STAGE_FIELDS:
                tot[name] += getattr(s, getter)()
        return tot


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Untraced, a span is two clock reads; traced, it also
    drains the listener bus at both ends and attributes the Spark jobs
    submitted in between (and their stages' counters) to the span. Spans
    stay in memory until :meth:`write`."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.store = StatusStore(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a call; a top-level span starts a new operation id and its
        descendants share it."""
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        op = self._next_op
        hw = self._mark() if self.enabled else None
        s = Span(name, time.perf_counter(), parent, op, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t0 = time.perf_counter()
                self.store.drain()
                s.jobs = self.store.jobs_after(hw, self.store.job_high_water())
                stage_ids = sorted({i for j in s.jobs for i in j["stage_ids"]})
                s.counters = self.store.stage_counters(stage_ids)
                s.counters["jobs"] = len(s.jobs)
                self.overhead_s += time.perf_counter() - t0

    def _mark(self) -> int:
        t0 = time.perf_counter()
        self.store.drain()
        hw = self.store.job_high_water()
        self.overhead_s += time.perf_counter() - t0
        return hw

    # -- queries over recorded spans ----------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.seconds - covered

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t_base = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_s": s.start - t_base,
                "end_s": s.end - t_base,
                "self_s": self.self_seconds(i),
                "attrs": s.attrs,
                "counters": s.counters,
                "jobs": [j["job_id"] for j in s.jobs],
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1, default=str)


def cpu_ratio(counters: dict) -> float:
    """executorCpuTime / executorRunTime (both as seconds)."""
    run = counters.get("run_ms", 0) / 1e3
    return (counters.get("cpu_ns", 0) / 1e9) / run if run else 0.0


def sum_counters(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        for k, v in s.counters.items():
            out[k] = out.get(k, 0) + v
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``, hidden and ``_`` entries skipped."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
