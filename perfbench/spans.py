"""Spans, call wrappers and Spark event-log accounting for the traced run.

Spans live in memory and are reduced when the run ends. A span records its
name, start, end, parent span and op id. Spark jobs are tied to ops through
the job group the op sets on the calling thread; jobs launched from threads
without a group (for example a planner's thread pool) are counted under
``unattributed``, never dropped.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time

GROUP_PREFIX = "perfbench-op-"


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start = sid, name, start
        self.end = None
        self.parent, self.op = parent, op
        self.attrs = {}


class Tracer:
    """Records op walls always; records layer spans and sets Spark job
    groups only when ``enabled`` (the traced run)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.ops: list[dict] = []
        self.spans: list[Span] = []
        self._local = threading.local()
        self._undo: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Layer span; yields its attribute dict (or a throwaway one when
        tracing is off)."""
        if not self.enabled:
            yield {}
            return
        st = self._stack()
        parent = st[-1] if st else None
        s = Span(len(self.spans), name, time.time(),
                 parent.sid if parent else None, parent.op if parent else None)
        self.spans.append(s)
        st.append(s)
        try:
            yield s.attrs
        finally:
            s.end = time.time()
            st.pop()

    @contextlib.contextmanager
    def op(self, name: str):
        """One closed-loop operation: its wall is always recorded; in the
        traced run it is also the root span and owns a Spark job group."""
        rec = {"id": len(self.ops), "name": name}
        if self.enabled:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
            st = self._stack()
            s = Span(len(self.spans), name, time.time(), None, rec["id"])
            self.spans.append(s)
            st.append(s)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.ops.append(rec)
            if self.enabled:
                s.end = rec["end"]
                st.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # --------------------------------------------------------- wrappers
    def _wrapped(self, fn, name, on_call):
        tracer = self

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(name) as attrs:
                out = fn(*args, **kwargs)
            # outside the span: bookkeeping must not count as layer time
            if on_call is not None and tracer.enabled:
                on_call(attrs, args, kwargs, out)
            return out

        return inner

    def wrap_function(self, module: str, attr: str, name: str, on_call=None,
                      also_in: tuple = ()):
        """Wrap ``module.attr`` and every module in ``also_in`` that
        imported it by name, so each caller's lookup finds the wrapper."""
        orig = getattr(importlib.import_module(module), attr)
        w = self._wrapped(orig, name, on_call)
        for m in (module, *also_in):
            mod = importlib.import_module(m)
            self._undo.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, w)

    def wrap_method(self, cls, attr: str, name: str, on_call=None):
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self._wrapped(orig, name, on_call))

    def unwrap(self):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# ------------------------------------------------------------ reductions
def _union_len(intervals) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(
                (max(s.start, spans[s.parent].start),
                 min(s.end, spans[s.parent].end))
            )
    return {
        s.sid: (s.end - s.start) - _union_len(
            [iv for iv in kids.get(s.sid, []) if iv[1] > iv[0]]
        )
        for s in spans
    }


def _group(props) -> str:
    g = (props or {}).get("spark.jobGroup.id")
    return g if g and g.startswith(GROUP_PREFIX) else "unattributed"


def read_event_log(event_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and per-stage task totals from Spark's JSON-lines event log.

    Jobs carry group, start and end (epoch s). Stages carry the group they
    were submitted with, their submission time and summed task metrics,
    so a stage skipped by a later job is never counted twice."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(event_dir)  # rolling logs are a dir
        for n in names
        if not n.startswith((".", "appstatus"))  # skip status and checksum files
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": _group(ev.get("Properties")),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "group": _group(ev.get("Properties")),
                        "start": (info.get("Submission Time") or 0) / 1000.0,
                        "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                        "jvm_gc_s": 0.0, "shuffle_write_bytes": 0,
                        "shuffle_read_bytes": 0, "input_bytes": 0,
                        "output_bytes": 0, "spill_bytes": 0,
                    }
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    m = ev.get("Task Metrics") or {}
                    t = stages[ev["Stage ID"]]
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["tasks"] += 1
                    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    t["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), list(stages.values())


SPARK_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "output_bytes", "spill_bytes", "driver_only_s",
)


def spark_per_op(ops: list[dict], jobs: list[dict], stages: list[dict]) -> dict:
    """Median over op instances of each Spark counter, keyed
    ``spark.<op>.<counter>``. Jobs and stages started inside an op's
    interval without that op's group (launched from another thread) are
    summed under ``spark.unattributed.*``."""
    import statistics

    def inside(t):
        return any(op["start"] <= t <= op["end"] for op in ops)

    per_name: dict[str, list[dict]] = {}
    for op in ops:
        g = f"{GROUP_PREFIX}{op['id']}"
        gj = [j for j in jobs if j["group"] == g]
        row = {c: 0 for c in SPARK_COUNTERS}
        for st in stages:
            if st["group"] == g:
                for c in SPARK_COUNTERS:
                    if c in st:
                        row[c] += st[c]
        row["jobs"] = len(gj)
        ivs = [
            (max(j["start"], op["start"]), min(j["end"] or op["end"], op["end"]))
            for j in gj
        ]
        row["driver_only_s"] = (op["end"] - op["start"]) - _union_len(
            [iv for iv in ivs if iv[1] > iv[0]]
        )
        per_name.setdefault(op["name"], []).append(row)
    out = {}
    for name, rows in per_name.items():
        for c in SPARK_COUNTERS:
            out[f"spark.{name}.{c}"] = statistics.median(r[c] for r in rows)
    out["spark.unattributed.jobs"] = sum(
        1 for j in jobs if j["group"] == "unattributed" and inside(j["start"])
    )
    out["spark.unattributed.executor_run_s"] = sum(
        st["executor_run_s"] for st in stages
        if st["group"] == "unattributed" and inside(st["start"])
    )
    return out
