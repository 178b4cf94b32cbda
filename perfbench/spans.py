"""Spans recorded around calls into the program's layers, their self-time
arithmetic, and per-span Spark stage totals from the event log.

A span is kept in memory while the traced run executes and written out
with the stage totals when it ends.  Every span gets its own Spark job
group, so stage metrics in the event log map back to the span whose call
submitted the job.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``span()`` nests through a stack, so the span open
    when another starts is its parent."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"{self.run_id}.{next(self._ids)}", name, time.time(), 0.0,
            parent.span_id if parent else None, self.run_id,
        )
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.span_id, sp.name)

    def dump(self, path: str, stage_totals: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "stage_totals": stage_totals,
                },
                f, indent=1,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> the span's duration minus the part of it that its
    direct children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("jobs", "tasks", "cpu_s", "run_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes")


def _zero() -> dict:
    return dict.fromkeys(STAGE_FIELDS, 0)


def stage_totals(events, spans: list[Span]) -> dict[str, dict]:
    """Per-span stage totals from Spark listener events (the decoded JSON
    lines of an event log).

    A job belongs to the span named by its ``spark.jobGroup.id``; a job
    submitted under another group (a streaming micro-batch runs under the
    query's own group) belongs to the innermost span whose interval holds
    its submission time.  Task metrics of a stage count toward the first
    job that listed the stage."""
    by_id = {s.span_id: s for s in spans}
    by_len = sorted(spans, key=lambda s: s.duration)
    stage_owner: dict[int, str] = {}
    out: dict[str, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            owner = group if group in by_id else None
            if owner is None:
                t = ev.get("Submission Time", 0) / 1000.0
                owner = next(
                    (s.span_id for s in by_len if s.start <= t <= s.end), None
                )
            if owner is None:
                continue
            out.setdefault(owner, _zero())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if owner is None or not m:
                continue
            tot = out.setdefault(owner, _zero())
            tot["tasks"] += 1
            tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def read_event_log(log_dir: str):
    """Decoded events of every uncompressed event log file under
    ``log_dir`` (Spark 4 writes each application's log as a directory of
    ``events_*`` files)."""
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)
