"""Span tracing and Spark event-log attribution for the traced run.

Spans are recorded by the benchmark around its calls into each layer
(the package itself is not instrumented). Each span tags the Spark jobs
it triggers with ``setJobGroup``; after the session stops, the event
log is parsed and every job, task, shuffle byte, spill byte and GC
second is attributed to the span whose job group launched it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op so untraced runs pay nothing."""

    def __init__(self, spark=None, enabled: bool = True, run_id: str = ""):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def group_id(self, span: Span) -> str:
        return f"{span.run_id}:{span.span_id}:{span.name}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.span_id)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_id(span), span.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, list[float]]:
    """Layer name -> self time of each of its spans."""
    st = self_times(spans)
    out: dict[str, list[float]] = {}
    for s in spans:
        out.setdefault(s.name, []).append(st[s.span_id])
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

ENGINE_KEYS = ("spark.jobs", "spark.stages", "spark.tasks",
               "spark.task_failures", "spark.shuffle_write_bytes",
               "spark.spill_bytes", "spark.gc_s", "spark.sched_delay_s",
               "spark.task_skew", "spark.input_bytes")


def _events(log_dir: str):
    # an application's log is one file, or a directory of rolled files
    # (``eventlog_v2_<app>/events_<n>_<app>``)
    paths = []
    for root, _, names in os.walk(log_dir):
        paths += [os.path.join(root, n) for n in names
                  if not n.startswith(("appstatus", "."))]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def engine_by_group(log_dir: str) -> dict[str, dict]:
    """Job group -> engine counts (see ``ENGINE_KEYS``) for every job
    in every event log under ``log_dir``. Jobs without a group are
    collected under ``""``."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = {}
    app = -1

    def acc(group):
        return out.setdefault(group, {k: 0 for k in ENGINE_KEYS})

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            app += 1  # job/stage ids restart with every SparkContext
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            a = acc(group)
            a["spark.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[(app, sid)] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (app, info["Stage ID"])
            if key in stage_group and "Submission Time" in info:
                acc(stage_group[key])["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (app, ev["Stage ID"])
            group = stage_group.get(key, "")
            a = acc(group)
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            a["spark.tasks"] += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get(
                    "Reason", "Success") != "Success":
                a["spark.task_failures"] += 1
            sw = m.get("Shuffle Write Metrics", {})
            a["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
            a["spark.input_bytes"] += m.get("Input Metrics", {}).get(
                "Bytes Read", 0)
            a["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            busy = (m.get("Executor Run Time", 0)
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0))
            a["spark.sched_delay_s"] += max(0, dur - busy) / 1000.0
            stage_tasks.setdefault(key, []).append(max(dur, 1))
    # skew: max / median task time in each group's widest stage
    widest: dict[str, tuple[int, list[float]]] = {}
    for key, times in stage_tasks.items():
        group = stage_group.get(key, "")
        if len(times) > widest.get(group, (0, []))[0]:
            widest[group] = (len(times), times)
    for group, (_, times) in widest.items():
        acc(group)["spark.task_skew"] = max(times) / statistics.median(times)
    return out


def engine_by_span(spans: list[Span], by_group: dict[str, dict],
                   tracer: Tracer) -> dict[str, dict]:
    """Span name -> engine counts summed over that name's spans (skew:
    the largest seen)."""
    out: dict[str, dict] = {}
    for s in spans:
        g = by_group.get(tracer.group_id(s))
        if not g:
            continue
        a = out.setdefault(s.name, {k: 0 for k in ENGINE_KEYS})
        for k, v in g.items():
            a[k] = max(a[k], v) if k == "spark.task_skew" else a[k] + v
    return out
