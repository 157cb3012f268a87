"""Spans recorded by the benchmark around calls into the engine, and a parser
for Spark's JSON event log.

A span has a name, a start, an end and the span that caused it; the spans of
one run stay in memory and are written out once, when the run ends.  While a
span is open its id is the ``perfbench.span`` local property of the
SparkContext, so every Spark job records, in the event log, the innermost
span that started it.  Self time is a span's duration minus the time its
child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _tag_jobs(self) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag_jobs()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag_jobs()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def ancestor_named(self, span_id: int, name: str) -> int | None:
        while span_id is not None:
            if self.spans[span_id]["name"] == name:
                return span_id
            span_id = self.spans[span_id]["parent"]
        return None

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f)


class EventLog:
    """Jobs, stages and task metrics from Spark's JSON event log files."""

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple[str, int], dict] = {}
        self.stages: dict[tuple[str, int], dict] = {}
        for fname in sorted(os.listdir(log_dir)):
            self._read(os.path.join(log_dir, fname), fname)

    def _stage(self, app: str, stage_id: int) -> dict:
        return self.stages.setdefault((app, stage_id), {
            "tasks": [], "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "shuffle_read": 0, "spill": 0, "input_records": 0, "input_bytes": 0,
        })

    def _read(self, path: str, app: str) -> None:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    self.jobs[(app, ev["Job ID"])] = {
                        "span": int(span) if span is not None else None,
                        "stages": list(ev["Stage IDs"]),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    st = self._stage(app, ev["Stage ID"])
                    st["tasks"].append(info["Finish Time"] - info["Launch Time"])
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    im = m.get("Input Metrics") or {}
                    st["input_records"] += im.get("Records Read", 0)
                    st["input_bytes"] += im.get("Bytes Read", 0)

    def jobs_under(self, span_ids: set[int]) -> list[tuple[str, dict]]:
        return [
            (app, j) for (app, _jid), j in self.jobs.items() if j["span"] in span_ids
        ]

    def stages_of(self, jobs: list[tuple[str, dict]]) -> list[dict]:
        seen = set()
        out = []
        for app, j in jobs:
            for sid in j["stages"]:
                key = (app, sid)
                if key in self.stages and key not in seen:
                    seen.add(key)
                    out.append(self.stages[key])
        return out


def skew(stage: dict) -> float:
    """Slowest task over the median task of one stage."""
    med = statistics.median(stage["tasks"])
    return max(stage["tasks"]) / med if med > 0 else float(max(stage["tasks"]) > 0)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
