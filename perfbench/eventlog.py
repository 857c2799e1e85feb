"""Spans recorded around layer calls, joined to Spark event-log task metrics.

The traced run turns the Spark event log on (uncompressed, not rolling,
so it is plain JSON lines) and wraps each layer call in a
:class:`Tracer` span, which sets the Spark job group to the span name.
After the session stops, :func:`job_group_metrics` joins each
``SparkListenerJobStart`` (its job group and stage IDs) to the
``SparkListenerTaskEnd`` events of those stages, and
:func:`span_metrics` folds that into five numbers per span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span list: (name, start, end, parent), written once
    at the end. Spans nest; a span's self time is its duration minus
    the part of it that its child spans cover."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or "untraced", parent or "untraced")
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def self_seconds(self) -> dict[str, float]:
        out = {}
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["name"]
            )
            covered, cur_end = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def read_events(log_dir: str) -> list[dict]:
    """All events of every (finished, uncompressed) application log in
    ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def job_group_metrics(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, and per task (run ms, shuffle bytes read +
    written, spill bytes). A stage listed by several jobs (AQE reuse,
    skipped stages) belongs to the first job that lists it — its tasks
    ran once."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for ev in sorted(
        (e for e in events if e.get("Event") == "SparkListenerJobStart"),
        key=lambda e: e["Job ID"],
    ):
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
        g = groups.setdefault(group, {"jobs": 0, "tasks": []})
        g["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_group.setdefault(sid, group)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if group is None or not m:
            continue
        rd = m.get("Shuffle Read Metrics", {})
        wr = m.get("Shuffle Write Metrics", {})
        groups[group]["tasks"].append(
            {
                "run_ms": m.get("Executor Run Time", 0),
                "shuffle_bytes": rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            }
        )
    return groups


def span_metrics(name: str, self_s: float, group: dict | None) -> dict[str, float]:
    """The five per-span numbers: self_s, tasks, task_skew (max over
    median task run time, the median floored at 1 ms), shuffle_mb and
    spill_mb."""
    tasks = group["tasks"] if group else []
    run = [t["run_ms"] for t in tasks]
    skew = max(run) / max(statistics.median(run), 1.0) if run else 0.0
    return {
        f"{name}.self_s": self_s,
        f"{name}.tasks": len(tasks),
        f"{name}.task_skew": skew,
        f"{name}.shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
        f"{name}.spill_mb": sum(t["spill_bytes"] for t in tasks) / 1e6,
    }
