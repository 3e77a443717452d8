"""Spans and Spark-side counters for the traced run.

A :class:`Tracer` keeps spans (name, start, end, parent, request id) in
memory and writes them out once, at the end of the run.  With tracing
off every method is a no-op, so the timed run pays nothing for it.

Spark's own numbers come from two places:

* the status tracker, read right after each job group finishes: stage
  and task counts, which are exact;
* the event log (written uncompressed, parsed after the session stops):
  per-task executor run and CPU time, GC, input, shuffle and spill,
  attributed to job groups through ``spark.jobGroup.id``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: set[str] = set()  # job groups the timed loops used
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        """Record ``name`` around the block; the innermost open span of
        the calling thread is its parent and lends it its request id."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent["id"] if parent else None,
               "request": request if request is not None
               else (parent["request"] if parent else name), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it covered by children."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        selft = self.self_times()
        rows = [dict(s, self_ms=selft.get(s["id"], 0.0) * 1e3)
                for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)


@contextmanager
def job_group(spark, tracer: Tracer, group: str):
    """Run the block's Spark jobs under their own job group (traced run
    only), so the status tracker and the event log can attribute them."""
    if not tracer.enabled:
        yield
        return
    tracer.groups.add(group)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(spark, group: str) -> tuple[int, int]:
    """(stages run, tasks run) for every job of ``group``, from the
    status tracker.  Skipped (reused) stages count for neither."""
    st = spark.sparkContext.statusTracker()
    stages, tasks = set(), 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0 \
                    and sid not in stages:
                stages.add(sid)
                tasks += info.numCompletedTasks
    return len(stages), tasks


TASK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "input_rows",
               "shuffle_bytes", "spill_bytes", "tasks")


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order.  Spark 4 rolls its log by default:
    ``eventlog_v2_<app>/events_<n>_<app>`` plus an ``appstatus`` marker."""
    out = []
    for dirpath, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                out.append((int(f.split("_")[1]), os.path.join(dirpath, f)))
            elif not f.startswith(("appstatus", ".")) and dirpath == log_dir:
                out.append((0, os.path.join(dirpath, f)))
    return [p for _, p in sorted(out)]


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics, from every event log in
    ``log_dir``.  Tasks of jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    acc = out[stage_group.get(ev["Stage ID"], "")]
                    acc["tasks"] += 1
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    inp = m.get("Input Metrics") or {}
                    acc["input_bytes"] += inp.get("Bytes Read", 0)
                    acc["input_rows"] += inp.get("Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return out
