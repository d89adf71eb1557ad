"""Span recorder and Spark event-log reader for the traced run.

A span wraps one call into a layer of the engine, from the benchmark's
side of the call: name, layer, start, end, parent span and request id.
Spans stay in memory and are written once, at exit. While a span is
open its id is the Spark job group, so the event log (enabled only in
the traced run) lets every Spark task be charged to the innermost span
that caused it.

With tracing off, `span` is a no-op context manager: the untraced run,
which gives the end-to-end numbers, records nothing and sets no job
group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._next_id = 0
        self.cost_s = 0.0  # time spent in span bookkeeping itself

    def bind(self, spark) -> None:
        """Point job-group tagging at the current SparkContext."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextlib.contextmanager
    def span(self, layer: str, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self.cost_s += time.perf_counter() - t1

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None or self._sc._jsc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(
                f"span-{rec['id']}", f"{rec['layer']}:{rec['name']}"
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per layer over the subtree of span `root_id`: each
    span's duration minus the part its children cover (children of one
    span never overlap -- the benchmark is single-threaded)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    todo = [by_id[root_id]]
    while todo:
        s = todo.pop()
        cs = kids[s["id"]]
        out[s["layer"]] += (s["end"] - s["start"]) - sum(
            c["end"] - c["start"] for c in cs
        )
        todo.extend(cs)
    return dict(out)


_TASK_FIELDS = {
    "executor_cpu_s": ("Executor CPU Time", 1e-9),
    "executor_run_s": ("Executor Run Time", 1e-3),
    "gc_s": ("JVM GC Time", 1e-3),
    "spill_bytes": ("Disk Bytes Spilled", 1.0),
    "memory_spill_bytes": ("Memory Bytes Spilled", 1.0),
}


def job_metrics(event_dir: str) -> dict[str, dict]:
    """Spark task metrics summed per job group, read from the event
    log(s) under event_dir: {group: {jobs, tasks, executor_cpu_s,
    executor_run_s, gc_s, spill_bytes, shuffle_write_bytes,
    input_bytes}}. Jobs run one at a time here, so a stage is charged
    to the group of the latest job that listed it."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for app in sorted(glob.glob(f"{event_dir}/*")):
        # one entry per Spark application: a file, or a directory of
        # rolled parts events_<n>_*; stage ids restart in every app
        parts = sorted(
            glob.glob(f"{app}/events_*"),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        ) if os.path.isdir(app) else [app]
        stage_group: dict[int, str] = {}
        for path in parts:
            with open(path) as f:
                for line in f:
                    _add_event(json.loads(line), groups, stage_group)
    return {g: dict(v) for g, v in groups.items()}


def _add_event(ev: dict, groups: dict, stage_group: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "-")
        groups[g]["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_group[sid] = g
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        acc = groups[stage_group.get(ev.get("Stage ID"), "-")]
        acc["tasks"] += 1
        for key, (field, scale) in _TASK_FIELDS.items():
            acc[key] += m.get(field, 0) * scale
        acc["shuffle_write_bytes"] += (
            m.get("Shuffle Write Metrics") or {}
        ).get("Shuffle Bytes Written", 0)
        acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def span_metrics(spans: list[dict], jobs: dict[str, dict], span: dict) -> dict:
    """Event-log totals over `span` and every span below it."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    tot: dict[str, float] = defaultdict(float)
    todo = [span]
    while todo:
        s = todo.pop()
        for k, v in jobs.get(f"span-{s['id']}", {}).items():
            tot[k] += v
        todo.extend(kids[s["id"]])
    return dict(tot)
