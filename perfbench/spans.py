"""Traced-run instrumentation, kept in the benchmark's own files.

``Tracer`` wraps public calls into the engine's layers and records one
span (name, start, end, parent) per call. While a span is open it sets
``spark.job.description`` in the calling thread to the span path, so each
job in the Spark event log can be attributed to the layer that submitted
it. Spans stay in memory; ``fold_event_log`` reads the event log once the
session has stopped.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "bench:"


@dataclass
class Span:
    name: str
    parent: int | None  # index of the enclosing span in the same thread
    t0: float  # epoch seconds, comparable with event-log timestamps
    t1: float = 0.0
    dur_s: float = 0.0  # monotonic duration


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.monotonic()
        stack = self._local.__dict__.setdefault("stack", [])
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, stack[-1] if stack else None, time.time())
            self.spans.append(sp)
        stack.append(idx)
        path = "/".join(self.spans[i].name for i in stack)
        self.sc.setLocalProperty("spark.job.description", DESC_PREFIX + path)
        m0 = time.monotonic()
        try:
            yield
        finally:
            m1 = time.monotonic()
            sp.dur_s = m1 - m0
            sp.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.self_s += (m0 - b0) + (time.monotonic() - m1)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> "Tracer":
        """Wrap the layer boundaries a CDC replay crosses. ``merge_into`` is
        patched where the engine module looks it up."""
        from debezium_connector_spanner_spark.sources.lake import LakeTable
        from debezium_connector_spanner_spark.streaming import engine

        self.wrap(engine.CdcReplayEngine, "__init__", "engine.init")
        self.wrap(engine.CdcReplayEngine, "run", "engine.run")
        self.wrap(engine, "merge_into", "merge.merge_into")
        for attr, name in (
            ("commit_delta", "lake.commit_delta"),
            ("compact_prepare", "lake.compact_prepare"),
            ("compact_apply", "lake.compact_apply"),
            ("expire_snapshots", "lake.expire"),
            ("rollback", "lake.rollback"),
        ):
            self.wrap(LakeTable, attr, name)
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -------------------------------------------------------------- queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur_s for s in self.named(name))


# ------------------------------------------------------------- event log
@dataclass
class Job:
    job_id: int
    tag: str  # span path, or "ingest"/"maint"/"" from the scheduler pool
    t0: float
    t1: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_metrics: dict[int, dict[str, float]]
    exec_nodes: dict[int, dict[str, int]]  # execution id -> node counts
    exec_time: dict[int, float]

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.t0 <= t1]

    def metrics(self, jobs) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for j in jobs:
            for s in j.stages:
                for k, v in self.stage_metrics.get(s, {}).items():
                    out[k] += v
        return out

    def node_counts(self, t0: float, t1: float) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for eid, counts in self.exec_nodes.items():
            if t0 <= self.exec_time.get(eid, -1) <= t1:
                for k, v in counts.items():
                    out[k] += v
        return out


PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


def _count_nodes(plan: dict, log_paths: tuple[str, ...], out: dict, size_ids: set) -> None:
    name = plan.get("nodeName", "")
    if "MapInArrow" in name:
        out["map_in_arrow"] += 1
    if name.startswith("Scan"):
        meta = json.dumps(plan.get("metadata", {}))
        if any(d in meta for d in log_paths):
            out["log_scans"] += 1
            size_ids.update(
                m["accumulatorId"]
                for m in plan.get("metrics", [])
                if m.get("name") == "size of files read"
            )
    for c in plan.get("children", []):
        _count_nodes(c, log_paths, out, size_ids)


def fold_event_log(log_dir: str, log_paths: tuple[str, ...] = ()) -> EventLog:
    """Read the (single, uncompressed) event log under ``log_dir``; scans
    of any of ``log_paths`` count as change-log scans, and their "size of
    files read" as log bytes (task input metrics miss the Parquet reads)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs: dict[int, Job] = {}
    stage_metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    exec_nodes: dict[int, dict[str, int]] = {}
    exec_time: dict[int, float] = {}
    size_ids: set[int] = set()
    for fn in files:
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    tag = (
                        desc[len(DESC_PREFIX):]
                        if desc.startswith(DESC_PREFIX)
                        else props.get("spark.scheduler.pool", "")
                    )
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        tag,
                        e["Submission Time"] / 1000.0,
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif ev == "SparkListenerJobEnd":
                    j = jobs.get(e["Job ID"])
                    if j is not None:
                        j.t1 = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sm = stage_metrics[e["Stage ID"]]
                    sm["run_ms"] += m.get("Executor Run Time", 0)
                    sm["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sm["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key and acc.get("Update") is not None:
                            sm[key] += float(acc["Update"])
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    counts: dict[str, int] = defaultdict(int)
                    _count_nodes(e.get("sparkPlanInfo") or {}, log_paths, counts, size_ids)
                    exec_nodes[e["executionId"]] = counts
                    exec_time[e["executionId"]] = e.get("time", 0) / 1000.0
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    # a re-planned scan reports under new metric ids
                    _count_nodes(e.get("sparkPlanInfo") or {}, log_paths, defaultdict(int), size_ids)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    counts = exec_nodes.get(e["executionId"])
                    for acc_id, value in e.get("accumUpdates", []):
                        if counts is not None and acc_id in size_ids:
                            counts["log_bytes"] += value
    return EventLog(jobs, stage_metrics, exec_nodes, exec_time)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM (which hosts the executors
    in local mode)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
