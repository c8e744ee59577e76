"""Shared pieces of the benchmark: run context, spans, statistics, the
Spark event-log reader, and process memory."""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def pct(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with open(path) as f:
            out.extend(int(p) for p in f.read().split())
    return out


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """(driver, JVM) peak resident set size in MB, from ``VmHWM``."""
    me = _status_kb(os.getpid(), "VmHWM") / 1024.0
    jvm = _status_kb(jvm_pid, "VmHWM") / 1024.0 if jvm_pid else 0.0
    return me, jvm


def find_jvm_pid() -> int | None:
    """The Spark driver JVM: the ``java`` child of this Python process."""
    for pid in child_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except FileNotFoundError:
            continue
    return None


class Tracer:
    """In-memory spans: name, start, end, parent span id, operation id.

    Spans of one operation (one micro-batch feed, one lookup, one query
    execution) share ``op``. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        rec = {"id": sid, "parent": parent, "name": name, "op": op, "start": time.time()}
        rec.update(attrs)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)


@dataclass
class Ctx:
    """What a workload gets: its inputs' seed, run length, mode, and the
    directories it may use."""

    work: str
    seed: int
    seconds: float
    trace: bool
    size: str
    tracer: Tracer
    spark: object = None
    # filled by the workload
    e2e: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)  # name -> bool
    window: tuple[float, float] | None = None  # timed interval, epoch s
    info: dict = field(default_factory=dict)

    def layer(self, name: str, value, unit: str) -> None:
        self.layers[name] = (value, unit)

    def metric(self, name: str, value, unit: str, samples: int) -> None:
        self.e2e[name] = (value, unit, samples)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class EventLog:
    """The parts of a Spark event log the per-layer metrics use."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.bcast_accums: set[int] = set()
        self.bcast_bytes: dict[int, int] = {}  # execution id -> bytes
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan_nodes(self, info: dict):
        yield info
        for c in info.get("children", []):
            yield from self._plan_nodes(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "desc": props.get("spark.job.description") or "",
                "query_id": props.get("sql.streaming.queryId"),
                "batch_id": props.get("streaming.sql.batchId"),
                "exec_id": props.get("spark.sql.execution.id"),
            }
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self._note_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._note_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e.get("accumUpdates", []):
                if acc in self.bcast_accums:
                    ex = e["executionId"]
                    self.bcast_bytes[ex] = self.bcast_bytes.get(ex, 0) + int(value)

    def _note_plan(self, info: dict) -> None:
        for node in self._plan_nodes(info):
            if node.get("nodeName") == "BroadcastExchange":
                for m in node.get("metrics", []):
                    if m.get("name") == "data size":
                        self.bcast_accums.add(m["accumulatorId"])

    def select(self, pred) -> list[int]:
        return [j for j, job in self.jobs.items() if pred(job)]

    def task_totals(self, job_ids) -> dict:
        ids = set(job_ids)
        keys = ("run_ms", "cpu_ns", "gc_ms", "input", "shuffle_write", "shuffle_read")
        t = dict.fromkeys(("tasks", *keys), 0)
        for task in self.tasks:
            if self.stage_job.get(task["stage"]) in ids:
                t["tasks"] += 1
                for k in keys:
                    t[k] += task[k]
        return t

    def broadcast_bytes(self, job_ids) -> int:
        execs = {self.jobs[j]["exec_id"] for j in job_ids}
        return sum(v for ex, v in self.bcast_bytes.items() if str(ex) in execs)

    def busy_s(self, t0: float, t1: float) -> float:
        """Wall time within [t0, t1] during which at least one job ran."""
        spans = sorted(
            (max(j["start"], t0), min(j["end"] or t1, t1))
            for j in self.jobs.values()
            if j["start"] < t1 and (j["end"] or t1) > t0
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def spark_layers(ctx: Ctx, log: EventLog, job_ids, n_ops: int) -> None:
    """Per-layer Spark execution metrics for the jobs of the timed
    operations; ``n_ops`` is the number of operations they served."""
    t = log.task_totals(job_ids)
    t0, t1 = ctx.window
    busy = log.busy_s(t0, t1)
    ctx.layer("spark.jobs_per_op", len(job_ids) / max(1, n_ops), "count")
    ctx.layer("spark.tasks_per_op", t["tasks"] / max(1, n_ops), "count")
    ctx.layer("spark.job_s", busy, "s")
    ctx.layer("spark.no_job_s", (t1 - t0) - busy, "s")
    ctx.layer("spark.executor_run_s", t["run_ms"] / 1000.0, "s")
    ctx.layer("spark.executor_cpu_s", t["cpu_ns"] / 1e9, "s")
    ctx.layer("spark.gc_s", t["gc_ms"] / 1000.0, "s")
    ctx.layer("spark.input_bytes", t["input"], "bytes")
    ctx.layer("spark.shuffle_write_bytes", t["shuffle_write"], "bytes")
    ctx.layer("spark.shuffle_read_bytes", t["shuffle_read"], "bytes")
    ctx.layer("spark.broadcast_bytes", log.broadcast_bytes(job_ids), "bytes")
