"""Spans around calls into the engine's layers, and a fold of Spark's event
log onto those spans.

A span is (id, name, parent, start, end). While a span is open its
thread carries the Spark job tag ``pbspan-<id>``; job tags are thread-local,
so every job the call submits from that thread is attributed to it. Jobs
submitted from threads the benchmark did not open a span on (the runner's
parallel tail) carry no tag and fall to the innermost span whose time
window contains their submission.

The fold reads the uncompressed event log Spark writes when
``spark.eventLog.enabled`` is set, and sums per span the task metrics
(run, CPU and GC time, input bytes, shuffle bytes, spill) plus two SQL-metric
counters: rows handed to Python workers and rows the Arrow decode UDF
returned.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

TAG_PREFIX = "pbspan-"
# SQL plan metric every Python-worker operator carries.
_PY_SENT = "data sent to Python workers"
_ROW_METRICS = ("number of output rows", "records read")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    depth: int = 0

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """Collects spans in memory. ``sc`` may be None (no job tagging)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, tag: bool = True):
        """Open a span; with ``tag`` its thread's jobs carry its job tag.
        Streaming queries inherit the starting thread's job tags, and
        PySpark's query-started event cannot read them back, so spans that
        start a streaming query are opened untagged."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                parent=parent.id if parent else None,
                start=time.time(),
                depth=parent.depth + 1 if parent else 0,
            )
            self.spans.append(s)
        stack.append(s)
        tagged = tag and self.sc is not None
        if tagged:
            self.sc.addJobTag(f"{TAG_PREFIX}{s.id}")
        try:
            yield s
        finally:
            if tagged:
                self.sc.removeJobTag(f"{TAG_PREFIX}{s.id}")
            s.end = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a version that runs inside a span named
        ``name``; returns a function that restores the original."""
        orig = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_times(self) -> dict[int, float]:
        """Span duration minus its child spans' durations. A span's parent
        is the open span of its own thread, so children never overlap."""
        out = {s.id: s.dur for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.dur
        return out


class NullTracer:
    """Records nothing; stands in for a Tracer on untraced runs."""

    @contextmanager
    def span(self, name: str, tag: bool = True):
        yield None


NULL = NullTracer()


# -- event log ---------------------------------------------------------------


def load_events(log_dir: str) -> list[dict]:
    """Every JSON event under ``log_dir`` (rolling ``eventlog_v2_*``
    directories or single files), in file order."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    events = []
    for p in files:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    events.append(json.loads(line))
    return events


def _python_accumulators(plan: dict, py_in: set[int], arrow_out: set[int]) -> None:
    """Collect, over a plan tree, the accumulator ids counting rows that flow
    into a Python-worker operator (the nearest row-counting node below it)
    and the output-row ids of MapInArrow operators."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in metrics:
        if "MapInArrow" in plan["nodeName"] and "number of output rows" in metrics:
            arrow_out.add(metrics["number of output rows"])
        node = plan["children"][0] if plan.get("children") else None
        while node is not None:
            m = {x["name"]: x["accumulatorId"] for x in node.get("metrics", [])}
            hit = next((m[k] for k in _ROW_METRICS if k in m), None)
            if hit is not None:
                py_in.add(hit)
                break
            node = node["children"][0] if node.get("children") else None
    for c in plan.get("children", []):
        _python_accumulators(c, py_in, arrow_out)


def _count_scans(plan: dict) -> int:
    """File scans in a physical plan; a reused exchange scans nothing."""
    if plan["nodeName"].startswith("ReusedExchange"):
        return 0
    own = 1 if plan["nodeName"].startswith("Scan parquet") else 0
    return own + sum(_count_scans(c) for c in plan.get("children", []))


def fold(events: list[dict], spans: list[Span]) -> dict[int, Counter]:
    """Sum task metrics per span id. Keys of each Counter:
    tasks, run_s, cpu_s, gc_s, input_bytes, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, python_in_rows, arrow_out_rows,
    arrow_stage_s (wall time, submission to completion, of the stages whose
    tasks returned Arrow UDF rows), scans (file scans in the final plan of
    each SQL execution)."""
    by_tag = {f"{TAG_PREFIX}{s.id}": s for s in spans}

    def by_time(t: float) -> Span | None:
        inside = [s for s in spans if s.start <= t <= (s.end or float("inf"))]
        return max(inside, key=lambda s: s.depth) if inside else None

    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    py_in: set[int] = set()
    arrow_out: set[int] = set()
    arrow_stages: set[int] = set()
    stage_wall: dict[int, float] = {}
    out: dict[int, Counter] = {s.id: Counter() for s in spans}

    # Plans first: a cached plan's operators can show up in the log only
    # after the tasks that built the cache.
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            _python_accumulators(e["sparkPlanInfo"], py_in, arrow_out)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tagged = [by_tag[t] for t in props.get("spark.job.tags", "").split(",") if t in by_tag]
            sp = max(tagged, key=lambda s: s.depth) if tagged else by_time(e["Submission Time"] / 1000)
            if sp is None:
                continue
            for st in e["Stage IDs"]:
                stage_span[st] = sp.id
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_span.setdefault(int(eid), sp.id)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            c = out[sid]
            c["tasks"] += 1
            c["run_s"] += m["Executor Run Time"] / 1e3
            c["cpu_s"] += m["Executor CPU Time"] / 1e9
            c["gc_s"] += m["JVM GC Time"] / 1e3
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc["ID"] in py_in:
                    c["python_in_rows"] += int(acc.get("Update", 0))
                if acc["ID"] in arrow_out and int(acc.get("Update", 0)) > 0:
                    c["arrow_out_rows"] += int(acc["Update"])
                    arrow_stages.add(e["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (info["Completion Time"] - info["Submission Time"]) / 1e3
    for st in arrow_stages:
        if st in stage_wall and st in stage_span:
            out[stage_span[st]]["arrow_stage_s"] += stage_wall[st]
    for eid, sid in exec_span.items():
        if eid in final_plan:
            out[sid]["scans"] += _count_scans(final_plan[eid])
    return out


def rollup(folded: dict[int, Counter], spans: list[Span], names) -> Counter:
    """Sum the folded counters of every span whose name is in ``names``,
    including all spans nested under them."""
    roots = {s.id for s in spans if s.name in set(names)}
    total: Counter = Counter()
    for s in spans:
        p: int | None = s.id
        while p is not None and p not in roots:
            p = spans[p].parent
        if p is not None:
            total.update(folded.get(s.id, Counter()))
    return total
