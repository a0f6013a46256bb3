"""Spans recorded around calls into the engine, and the Spark event log.

Spans live in memory (name, start, end, parent span, op id) and are
written out once, when the run ends. Times are epoch seconds so they
line up with the event log's job and task timestamps.

The event log is read after the session stops: jobs carry the job group
the benchmark set before each operation, so job time, task metrics and
job counts can be attributed to the operation and step that caused them.
Jobs that carry no group (launched from engine thread pools, which do
not inherit the caller's group) are kept and reported separately.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, *, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(rec)],
            rec["start"],
            rec["end"],
        )
        return (rec["end"] - rec["start"]) - covered


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_TASK_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "input_b", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "output_b",
)


def parse_event_log(path: Path) -> list[dict]:
    """One record per job: start/end (epoch s), job group, completed
    stages and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": 0,
                    **{f: 0 for f in _TASK_FIELDS},
                }
                jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                shuffle_read = m.get("Shuffle Read Metrics") or {}
                job["tasks"] += 1
                job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["shuffle_read_b"] += shuffle_read.get(
                    "Remote Bytes Read", 0
                ) + shuffle_read.get("Local Bytes Read", 0)
                job["shuffle_write_b"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["output_b"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def event_log_file(log_dir: Path) -> Path:
    """The newest application's log (one per session start)."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return max(files, key=lambda p: p.stat().st_mtime)
