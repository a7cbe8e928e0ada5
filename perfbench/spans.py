"""Spans recorded from the benchmark's own calls into each layer, and a
stdlib fold of Spark's event log onto them.

A span is ``{id, name, start, end, parent, run}``.  Spans are always
recorded (two clock reads each); with tracing on, each span also sets a
Spark job group, so every job, stage and task in the event log can be
charged to the innermost span that caused it.  Jobs that run under
another group (a streaming query's micro-batches run under the query's
run id) are charged by submission time to the innermost open span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

#: Event-log totals folded per span.
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
            "spill_bytes", "executor_run_s", "gc_s")


class Tracer:
    def __init__(self, run_id: str, jobs: bool):
        self.run_id = run_id
        self.jobs = jobs          # set a job group per span
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None            # SparkContext, once one exists

    def _set_group(self, sid: int | None) -> None:
        if not (self.jobs and self.sc):
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_times(self) -> None:
        """``self_s`` = duration minus the part covered by child spans."""
        for s in self.spans:
            s["self_s"] = s["dur"] - sum(c["dur"] for c in self.children(s["id"]))

    def write(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["end"] is not None and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def fold_event_log(log_dir: str, spans: list[dict]) -> None:
    """Add :data:`COUNTERS` (self counts: events charged to this span,
    not its children) to every span, from the uncompressed JSON event
    log(s) under ``log_dir``."""
    by_group = {f"pb-{s['id']}": s for s in spans}
    for s in spans:
        for c in COUNTERS:
            s[c] = 0

    def owner(props: dict | None, t_ms: float | None) -> dict | None:
        group = (props or {}).get("spark.jobGroup.id")
        if group in by_group:
            return by_group[group]
        return _innermost(spans, t_ms / 1000.0) if t_ms else None

    stage_owner: dict[int, dict] = {}
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    s = owner(ev.get("Properties"), ev.get("Submission Time"))
                    if s:
                        s["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    s = owner(ev.get("Properties"), info.get("Submission Time"))
                    if s:
                        stage_owner[info["Stage ID"]] = s
                        s["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    s = stage_owner.get(ev["Stage ID"])
                    if s is None:
                        continue
                    s["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        s["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    s["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))


def subtree_totals(spans: list[dict], sid: int) -> dict:
    """:data:`COUNTERS` summed over a span and all its descendants."""
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = dict.fromkeys(COUNTERS, 0)
    todo = [spans[sid]]
    while todo:
        s = todo.pop()
        for c in COUNTERS:
            out[c] += s.get(c, 0)
        todo += kids.get(s["id"], [])
    return out
