"""Span recorder, call wrappers and Spark event-log reader for the
traced benchmark run.

Every wrapped call opens a span and runs under its own Spark job group
(the span id), so each job in the event log belongs to exactly one span:
the innermost one open when the job was submitted. A span's inclusive
figures add up its own jobs and those of every span below it.

The event log must be uncompressed and unrolled (one JSON object per
line); `run.py` enables it through PYSPARK_SUBMIT_ARGS.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_TIME_METRIC = "time to run Python workers"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class SpanRecorder:
    """In-memory spans; `set_group(span_id or None)` is called on every
    entry and exit so Spark jobs carry the innermost open span's id."""

    def __init__(self, set_group=None, clock=time.time):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda _gid: None)
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, parent, self._clock())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.id)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)

    def children(self, span_id: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def subtree_ids(self, span_id: str) -> set[str]:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(s.id for s in self.spans if s.parent == sid)
        return out


def spark_group_setter(spark):
    sc = spark.sparkContext

    def set_group(gid):
        # an unset local property is the empty group, which no span uses
        sc.setLocalProperty("spark.jobGroup.id", gid)
        sc.setLocalProperty("spark.job.description", gid)

    return set_group


# --- wrappers ----------------------------------------------------------------------


class Wrapped:
    """Replaces functions and methods and puts the originals back on
    `restore`."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def replace(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def function(self, rec: SpanRecorder, module: str, attr: str, name: str, on_result=None) -> None:
        """Run `module.attr` inside a span named `name`, in every loaded
        `rdf2smw_spark` module that holds it: modules import functions by
        name, so patching the defining module alone would miss callers."""
        orig = getattr(sys.modules[module], attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with rec.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        for mname, mod in list(sys.modules.items()):
            if mname.startswith("rdf2smw_spark") and getattr(mod, attr, None) is orig:
                self.replace(mod, attr, wrapper)

    def restore(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)


# --- event log ---------------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    start: float
    end: float


@dataclass
class StageTotals:
    shuffle_write_b: int = 0
    spill_b: int = 0
    cpu_ns: int = 0
    python_ms: dict = field(default_factory=dict)  # plan node name -> ms


class EventLog:
    """Jobs and per-stage task totals from one Spark event log file."""

    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stages: dict[int, StageTotals] = {}
        acc_node: dict[int, str] = {}
        starts: dict[int, tuple[str | None, float]] = {}
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or None
                starts[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                for sid in ev.get("Stage IDs", []):
                    self.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                group, t0 = starts.pop(ev["Job ID"], (None, None))
                if t0 is not None:
                    self.jobs[ev["Job ID"]] = Job(group, t0, ev["Completion Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or None
                self.stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_node)
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.setdefault(ev["Stage ID"], StageTotals())
                tm = ev.get("Task Metrics") or {}
                st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill_b += tm.get("Disk Bytes Spilled", 0)
                st.cpu_ns += tm.get("Executor CPU Time", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        node = acc_node.get(acc["ID"], "?")
                        st.python_ms[node] = st.python_ms.get(node, 0) + int(acc.get("Update") or 0)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as fh:
            return cls(fh)

    def jobs_of(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def stage_totals(self, groups: set[str]) -> StageTotals:
        out = StageTotals()
        for sid, st in self.stages.items():
            if self.stage_group.get(sid) in groups:
                out.shuffle_write_b += st.shuffle_write_b
                out.spill_b += st.spill_b
                out.cpu_ns += st.cpu_ns
                for node, ms in st.python_ms.items():
                    out.python_ms[node] = out.python_ms.get(node, 0) + ms
        return out


def _plan_metrics(node: dict, acc_node: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        acc_node[m["accumulatorId"]] = node.get("nodeName", "?")
    for child in node.get("children", []):
        _plan_metrics(child, acc_node)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(rec: SpanRecorder, span: Span) -> float:
    """The span's wall time minus the part of it its child spans cover."""
    return span.wall - union_length((c.start, c.end) for c in rec.children(span.id))


def span_figures(rec: SpanRecorder, log: EventLog, span: Span, intervals=None) -> dict:
    """Inclusive figures of one span. With `intervals`, only the part of
    the span inside them counts: their length, and the span's jobs
    submitted inside them (the stage totals are then left out).
    driver_gap_s is the wall time that no job of the span covers."""
    groups = rec.subtree_ids(span.id)
    whole = intervals is None
    st = log.stage_totals(groups) if whole else StageTotals()
    intervals = [(span.start, span.end)] if whole else intervals
    jobs = [j for j in log.jobs_of(groups) if any(s <= j.start <= e for s, e in intervals)]
    wall = sum(e - s for s, e in intervals)
    covered = sum(
        union_length((max(j.start, s), min(j.end, e)) for j in jobs if j.start <= e and j.end >= s)
        for s, e in intervals
    )
    return {
        "wall_s": wall,
        "self_s": self_time(rec, span) if whole else wall,
        "jobs": len(jobs),
        "driver_gap_s": max(0.0, wall - covered),
        "shuffle_write_mb": st.shuffle_write_b / 1e6,
        "python_s": sum(st.python_ms.values()) / 1000.0,
    }
