"""Spans, percentiles and Spark event-log parsing for the benchmark.

Spans are kept in memory (name, start, end, parent, op id) around each
call the benchmark makes into a layer and written out when the run
ends; a layer's self time is its span time minus the part its child
spans cover.  The event-log parser turns Spark's JSON-lines listener
log into per-op-kind task totals; it tolerates an empty log and a log
cut off mid-line (a run killed while the log was being written).
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from collections import defaultdict


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty list")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "op": op, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def layer_table(self) -> dict[str, dict]:
        """Per span name: count, total time and self time (seconds)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_time[i]
        return table

    def dump(self) -> dict:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        return {"spans": spans, "layers": self.layer_table()}


def read_event_log(lines) -> list[dict]:
    """Parse JSON-lines listener events; stop at the first line that
    does not parse (a log truncated mid-write)."""
    events = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            events.append(json.loads(line))
        except json.JSONDecodeError:
            break
    return events


def task_totals_by_group(events: list[dict]) -> dict[str, dict]:
    """Per job group: executor run/CPU time, the longest task, task
    wait (launch minus stage submission) and shuffle bytes, summed over
    the group's tasks.  Times in seconds."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            if info.get("Submission Time") is not None:
                stage_submit[info["Stage ID"]] = info["Submission Time"]
    out: dict[str, dict] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        group = stage_group.get(sid)
        if group is None:
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        row = out.setdefault(
            group,
            {
                "tasks": 0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "max_task_s": 0.0,
                "task_wait_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
            },
        )
        row["tasks"] += 1
        row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        launch, finish = info.get("Launch Time"), info.get("Finish Time")
        if launch is not None and finish is not None:
            row["max_task_s"] = max(row["max_task_s"], (finish - launch) / 1e3)
            if sid in stage_submit:
                row["task_wait_s"] += max(0, launch - stage_submit[sid]) / 1e3
        row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out
