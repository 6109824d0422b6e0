"""Spans around the calls into each engine module, and their task metrics.

The traced run sets one Spark job group per span, so every job the span
launches is attributed to it.  Task metrics come from Spark's own event log
(uncompressed, non-rolling, enabled only in the traced run) and are read
after the session stops, when the log is complete.

Per span: ``wall_s`` (measured here), ``task_s`` (Σ executor run time),
``util`` = task_s ÷ (wall_s × slots), ``jobs``, ``shuffle_write_mb``,
``spill_mb`` (memory + disk), ``straggler`` (max ÷ median task run time) and
``python_mb`` (Arrow bytes sent to plus returned from Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    parent: str | None
    run_id: str
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    #: job groups whose jobs belong to this span: its own, plus any a
    #: streaming query's thread ran under (streaming sets its run id)
    groups: set = field(default_factory=set)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``report`` joins them with the event log."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            parent=parent.name if parent else None,
            run_id=self.run_id,
            group=f"{self.run_id}:{len(self.spans)}:{name}",
            start=time.perf_counter(),
        )
        sp.groups.add(sp.group)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            raise RuntimeError(f"event log {path} is still open: stop the session first")
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class GroupStats:
    jobs: int = 0
    task_ms: list = field(default_factory=list)
    shuffle_write: int = 0
    spill: int = 0
    python_bytes: int = 0


def stats_by(events: list[dict], key) -> dict[object, GroupStats]:
    """Task metrics rolled up per job key; ``key(job_properties)`` names the
    bucket a job belongs to (None drops it)."""
    stage_key: dict[int, object] = {}
    out: dict[object, GroupStats] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            k = key(e.get("Properties") or {})
            if k is None:
                continue
            out.setdefault(k, GroupStats()).jobs += 1
            for sid in e["Stage IDs"]:
                stage_key.setdefault(sid, k)
        elif ev == "SparkListenerTaskEnd":
            k = stage_key.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if k is None or not tm:
                continue
            g = out[k]
            g.task_ms.append(tm.get("Executor Run Time", 0))
            g.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RETURNED):
                    g.python_bytes += int(acc.get("Update") or 0)
    return out


def _merge(stats) -> GroupStats:
    out = GroupStats()
    for g in stats:
        if g is None:
            continue
        out.jobs += g.jobs
        out.task_ms += g.task_ms
        out.shuffle_write += g.shuffle_write
        out.spill += g.spill
        out.python_bytes += g.python_bytes
    return out


def span_metrics(sp: Span, g: GroupStats, slots: int) -> dict:
    task_s = sum(g.task_ms) / 1000.0
    med = statistics.median(g.task_ms) if g.task_ms else 0
    return {
        "wall_s": sp.wall_s,
        "task_s": task_s,
        "util": task_s / (sp.wall_s * slots) if sp.wall_s > 0 else 0.0,
        "jobs": g.jobs,
        "shuffle_write_mb": g.shuffle_write / 1e6,
        "spill_mb": g.spill / 1e6,
        "straggler": max(g.task_ms) / med if med else 0.0,
        "python_mb": g.python_bytes / 1e6,
    }


def report(tracer: Tracer, events: list[dict], slots: int) -> list[dict]:
    """Every span with its task metrics, in the order the spans started."""
    by_group = stats_by(events, lambda p: p.get("spark.jobGroup.id"))
    return [
        {
            "name": sp.name,
            "parent": sp.parent,
            "run_id": sp.run_id,
            "start": sp.start,
            "end": sp.end,
            **span_metrics(sp, _merge(by_group.get(g) for g in sp.groups), slots),
            **sp.counts,
        }
        for sp in tracer.spans
    ]


def stream_jobs_per_batch(events: list[dict], run_id: str) -> dict[int, int]:
    """Jobs each micro-batch of one streaming query launched: streaming runs
    its jobs under the query's run id as job group and tags each with the
    batch id."""
    def key(p):
        bid = p.get("streaming.sql.batchId")
        return int(bid) if p.get("spark.jobGroup.id") == run_id and bid is not None else None

    return {k: g.jobs for k, g in stats_by(events, key).items()}
