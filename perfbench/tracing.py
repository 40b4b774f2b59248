"""Spans recorded from outside the program, and the Spark counters that
go with them.

A span wraps one call into a tokseq module. While it is open, every
Spark job the call starts runs under a job group named after the span,
so Spark's own REST stage metrics (the Spark driver's UI on ``localhost``)
attribute to it. Spans stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str             # the operation this span belongs to
    parent_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; when not, ``span`` only yields, so
    an untraced run executes exactly the calls a traced run does."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            trace_id=trace_id or (parent.trace_id if parent else name),
            parent_id=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.span_id, "name": s.name, "trace": s.trace_id,
                "parent": s.parent_id, "start": round(s.start, 6),
                "end": round(s.end, 6), **s.attrs,
            }
            for s in self.spans
        ]


STAGE_FIELDS = {
    # REST field -> (metric suffix, scale to seconds / bytes / count)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "inputRecords": ("input_records", 1),
    "numTasks": ("tasks", 1),
}


class SparkRest:
    """Reads job and stage metrics from the Spark driver's status REST API."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 10.0) -> tuple[list, dict]:
        """(jobs, {stage_id: summed attempt metrics}) once the status
        store has caught up with every job the Spark driver knows about."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self._get("/jobs")
            done = sum(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            active = tracker.getActiveJobsIds()
            if (not active and done == len(jobs)) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, dict] = {}
        for st in self._get("/stages"):
            if st["status"] != "COMPLETE":
                continue
            acc = stages.setdefault(st["stageId"], {k: 0 for k in STAGE_FIELDS})
            for k in STAGE_FIELDS:
                acc[k] += st.get(k, 0)
        return jobs, stages


def attribute(tracer: Tracer, jobs: list, stages: dict) -> None:
    """Attach each span's own Spark counters (jobs run under its job
    group) to ``span.attrs``; ``subtree_counters`` sums them."""
    by_group: dict[str, list] = {}
    for j in jobs:
        if j.get("jobGroup"):
            by_group.setdefault(j["jobGroup"], []).append(j)
    for sp in tracer.spans:
        js = by_group.get(f"pb-{sp.span_id}", [])
        sids = {s for j in js for s in j["stageIds"] if s in stages}
        counters = {"spark_jobs": len(js)}
        for k, (name, scale) in STAGE_FIELDS.items():
            counters[name] = sum(stages[s][k] for s in sids) * scale
        sp.attrs["spark"] = counters


def subtree_counters(tracer: Tracer, span: Span) -> dict:
    total: dict = {}
    for s in tracer.subtree(span):
        for k, v in s.attrs.get("spark", {}).items():
            total[k] = total.get(k, 0) + v
    return total


def total_counters(stages: dict) -> dict:
    return {
        name: sum(st[k] for st in stages.values()) * scale
        for k, (name, scale) in STAGE_FIELDS.items()
    }


def process_tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of peak RSS (VmHWM) over this process and its live
    descendants (the Spark JVM and its Python workers), from /proc."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    hwm: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                status = f.read()
        except OSError:
            continue
        fields = dict(
            line.split(":", 1) for line in status.splitlines() if ":" in line
        )
        pid = int(entry)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        if "VmHWM" in fields:
            hwm[pid] = int(fields["VmHWM"].split()[0])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += hwm.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 1024.0
