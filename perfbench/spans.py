"""Spans around calls into the engine's layers, and the Spark task
counters of each span, read back from the event log.

A span records name, start, end, parent and the process-tree CPU it
used, and tags every Spark job it starts with a job group named after
it. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from proc import cpu_s

#: the layer spans whose Spark jobs are attributed
COUNTED_SPANS = (
    "sources.read_lines",
    "fuzzy_join.prepare",
    "fuzzy_join.topk",
    "similarity.refine",
    "fuzzy_join.select_best",
    "sinks.tsv",
    "dedup.signatures",
    "dedup.edges",
    "dedup.cc",
)
COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes",
            "spill_bytes", "max_task_s")


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory, plus the layer metrics the wrappers of
    :meth:`layers` measure. ``sc``, once set, gets a job group per span."""

    def __init__(self):
        self.sc = None
        self.spans: list[Span] = []
        self.values: dict[str, float] = {}
        self.outputs: dict[str, list] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        cpu0 = cpu_s()
        try:
            yield s
        finally:
            s.cpu_s = cpu_s() - cpu0
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1].name if self._stack else "perfbench"
                self.sc.setJobGroup(outer, outer)

    def wall(self, name: str) -> float | None:
        """Summed wall of every span called ``name``; None if none ran."""
        found = [s.wall_s for s in self.spans if s.name == name]
        return sum(found) if found else None

    def cpu(self, name: str) -> float:
        return sum(s.cpu_s for s in self.spans if s.name == name)

    @contextmanager
    def layers(self, hooks):
        """Replace module globals with span-and-pin wrappers while the
        block runs. ``hooks`` holds (module, attribute, span name,
        {metric: measure}). A wrapper runs the original call in a span;
        a DataFrame result is pinned with an eager ``localCheckpoint``,
        so the next span does not recompute it. Each measure maps the
        result to a number, summed into ``values`` over calls. Results
        are kept in ``outputs`` under the span name."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in hooks]
        try:
            for (mod, attr, orig), (_, _, name, measures) in zip(saved, hooks):
                setattr(mod, attr, self._wrap(orig, name, measures))
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def _wrap(self, fn, name: str, measures: dict):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
                for key, measure in measures.items():
                    self.values[key] = self.values.get(key, 0) + measure(out)
            self.outputs.setdefault(name, []).append(out)
            return out
        return traced

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, indent=1)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def group_counters(event_log: str) -> dict[str, dict]:
    """Per job group: the COUNTERS, plus ``job_union_s`` (wall covered
    by at least one of its jobs) and ``task_run_s`` (summed task run
    time)."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}
    intervals: dict[str, list] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {c: 0 for c in COUNTERS} | {"task_run_s": 0.0})

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                    acc(g)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g:
                    intervals.setdefault(g, []).append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g:
                    acc(g)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if not g or not m:
                    continue
                a = acc(g)
                info = ev["Task Info"]
                a["tasks"] += 1
                a["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                a["task_run_s"] += m["Executor Run Time"] / 1000
                a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                a["max_task_s"] = max(
                    a["max_task_s"], (info["Finish Time"] - info["Launch Time"]) / 1000)
    for g, iv in intervals.items():
        acc(g)["job_union_s"] = _union_s(iv)
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
