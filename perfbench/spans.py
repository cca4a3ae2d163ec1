"""Spans recorded around the benchmark's calls into each product module.

A span has a name, start, end, parent and run id. While a span is open, the
Spark jobs it launches carry its job group, so the event log attributes
jobs, tasks, executor CPU, GC, shuffle and spill to the innermost open span.
Spans stay in memory; at the end of a traced run ``run.py`` writes them to
standard error and ``summarize`` turns them into per-layer self times and
counts. Event-log counts are a span's own jobs, not its children's; file
counts cover the span's directory, nested calls included.

``Tracer(enabled=False)`` records nothing and sets no job group, so untraced
runs pay one attribute check per call.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def tree_files(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def new_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(count, bytes) of data files in ``after`` that ``before`` lacked.
    Spark's ``.crc`` side files and ``_SUCCESS`` markers are not counted."""
    added = [(p, s) for p, s in after.items() if p not in before
             and not p.endswith(".crc") and not p.endswith("_SUCCESS")]
    return len(added), sum(s for _p, s in added)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, fs_root: str | None = None, **attrs):
        """Open a span; with ``fs_root`` it also counts files written there."""
        if not self.enabled:
            yield attrs
            return
        self._next += 1
        rec = {"id": self._next, "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"{self.run_id}-{self._next}", "phase": self.phase, **attrs}
        before = tree_files(fs_root) if fs_root else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            elif sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if before is not None:
                rec["files_written"], rec["bytes_written"] = new_files(
                    before, tree_files(fs_root))
            self.spans.append(rec)

    def call(self, name: str, fn, *args, fs_root: str | None = None, **kwargs):
        with self.span(name, fs_root=fs_root):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn, fs_root=None):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            root = fs_root(*args, **kwargs) if callable(fs_root) else fs_root
            with self.span(name, fs_root=root):
                return fn(*args, **kwargs)
        return traced


def phase_ms(df, phases=("analysis", "optimization", "planning")) -> float:
    """Milliseconds Catalyst spent on ``phases`` of ``df``'s query so far."""
    tracked = df._jdf.queryExecution().tracker().phases()
    return float(sum(tracked.apply(p).durationMs() for p in phases if tracked.contains(p)))


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU and GC seconds, shuffle and
    spill bytes, read from the Spark event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(tree_files(log_dir)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def summarize(spans: list[dict], events: dict[str, dict]) -> dict[str, float]:
    """Per span name: ``s`` (summed self time) plus every numeric attribute
    and event-log counter, summed over the name's spans."""
    selfs = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        name = s["name"]
        out[f"{name}.s"] += selfs[s["id"]]
        for k, v in s.items():
            if k not in ("id", "parent", "start", "end", "run", "group", "name", "phase") \
                    and isinstance(v, (int, float)):
                out[f"{name}.{k}"] += v
        for k, v in events.get(s["group"], {}).items():
            out[f"{name}.{k}"] += v
    return dict(out)
