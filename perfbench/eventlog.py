"""Spark event-log parser for the traced run.

Jobs carry the job group the benchmark set around each span, so every
stage and task is attributed to the span that ran it. The stage summary
(task time, shuffle bytes) follows the one in
``scripts/profile_query_stages.py``; this version also keeps per-task run
times (for skew), GC time, spill, scan input and the Python UDF byte
counters.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Stage:
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_records: int = 0
    py_sent: int = 0
    py_received: int = 0


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def jobs_of(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def stages_of(self, groups: set[str]) -> list[Stage]:
        seen, out = set(), []
        for j in self.jobs_of(groups):
            for sid in j.stage_ids:
                if sid in self.stages and sid not in seen:
                    seen.add(sid)
                    out.append(self.stages[sid])
        return out

    def totals(self, groups: set[str]) -> dict:
        st = self.stages_of(groups)
        return {
            "task_s": sum(sum(s.task_ms) for s in st) / 1000.0,
            "gc_s": sum(s.gc_ms for s in st) / 1000.0,
            "shuffle_write": sum(s.shuffle_write for s in st),
            "spill": sum(s.spill for s in st),
            "input_bytes": sum(s.input_bytes for s in st),
            "input_records": sum(s.input_records for s in st),
            "py_sent": sum(s.py_sent for s in st),
            "py_received": sum(s.py_received for s in st),
        }

    def job_wall_s(self, groups: set[str]) -> float:
        """Wall time covered by the union of the groups' job intervals."""
        iv = sorted(
            (j.submit_ms, j.end_ms) for j in self.jobs_of(groups) if j.end_ms is not None
        )
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    def task_skew(self, groups: set[str]) -> float:
        """max/median task time of the heaviest multi-task stage."""
        stages = [s for s in self.stages_of(groups) if len(s.task_ms) > 1]
        if not stages:
            return 0.0
        s = max(stages, key=lambda s: sum(s.task_ms))
        xs = sorted(s.task_ms)
        med = xs[len(xs) // 2] if len(xs) % 2 else (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2
        return max(xs) / med if med > 0 else 0.0


def _accum(info: dict, name: str) -> int:
    total = 0
    for a in info.get("Accumulables") or []:
        if a.get("Name") == name:
            try:
                total += int(a.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=e.get("Submission Time", 0),
                    stage_ids=list(e.get("Stage IDs") or []),
                )
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(e["Job ID"])
                if j is not None:
                    j.end_ms = e.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], Stage())
                tm = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                st.task_ms.append(tm.get("Executor Run Time", 0))
                st.gc_ms += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                st.input_bytes += im.get("Bytes Read", 0)
                st.input_records += im.get("Records Read", 0)
                st.py_sent += _accum(info, PY_SENT)
                st.py_received += _accum(info, PY_RECEIVED)
    return EventLog(jobs, stages)


def find_log(events_dir: str) -> str | None:
    files = [
        os.path.join(events_dir, n)
        for n in os.listdir(events_dir)
        if not n.endswith(".inprogress")
    ]
    return max(files, key=os.path.getmtime) if files else None
