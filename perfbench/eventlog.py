"""Offline parser for Spark's uncompressed JSON event log.

``parse(path)`` folds the events of one application into jobs, stages and
per-stage task metrics; ``summarize(log, groups, start, end)`` aggregates
them over the jobs of a set of job groups, the way the benchmark's spans
need them. No Spark is needed to read a log.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names of the Python-UDF operators (MapInPandas and friends)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Stage:
    group: str | None = None  # job group of the job that ran the stage
    task_ms: list[int] = field(default_factory=list)  # launch→finish per task
    run_ms: int = 0  # executor run time
    cpu_ns: int = 0  # executor JVM CPU time
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill_disk: int = 0
    sql: dict[str, int] = field(default_factory=dict)  # SQL metric name -> sum


@dataclass
class Job:
    jid: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    ok: bool = True


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def event_files(path: str | Path) -> list[Path]:
    """The event files of one log: a single file, or the rolling
    ``eventlog_v2_*`` directory layout."""
    p = Path(path)
    if p.is_file():
        return [p]
    return sorted(
        (f for f in p.iterdir() if f.name.startswith("events_")),
        key=lambda f: int(f.name.split("_")[1]),
    )


def parse(path: str | Path) -> EventLog:
    log = EventLog()
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a live log's last line may be half-written
                _fold(log, e)
    return log


def _fold(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        log.jobs[e["Job ID"]] = Job(
            e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"]
        )
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job is not None:
            job.end_ms = e["Completion Time"]
            job.ok = e["Job Result"]["Result"] == "JobSucceeded"
    elif kind == "SparkListenerStageSubmitted":
        # a stage reused by a later job is skipped there, so the group of
        # the job that submitted it owns its tasks
        st = log.stages.setdefault(e["Stage Info"]["Stage ID"], Stage())
        st.group = (e.get("Properties") or {}).get("spark.jobGroup.id")
    elif kind == "SparkListenerTaskEnd":
        st = log.stages.setdefault(e["Stage ID"], Stage())
        info = e["Task Info"]
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])
        m = e.get("Task Metrics") or {}
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill_disk += m.get("Disk Bytes Spilled", 0)
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        for acc in info.get("Accumulables") or []:
            if acc.get("Metadata") == "sql" and "Update" in acc:
                try:
                    v = int(acc["Update"])
                except (TypeError, ValueError):
                    continue
                st.sql[acc["Name"]] = st.sql.get(acc["Name"], 0) + v


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


def summarize(
    log: EventLog, groups: set[str], start_s: float, end_s: float
) -> dict:
    """Totals over the jobs whose job group is in ``groups``.

    ``driver_only_s`` is the part of [start_s, end_s] during which none of
    those jobs ran; ``task_skew`` is max/median task time in the stage
    with the most executor run time."""
    jobs = [j for j in log.jobs.values() if j.group in groups]
    stages = [s for s in log.stages.values() if s.group in groups]
    start_ms, end_ms = int(start_s * 1000), int(end_s * 1000)
    busy = _union_ms(
        [
            (max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms))
            for j in jobs
            if (j.end_ms or end_ms) > start_ms and j.submit_ms < end_ms
        ]
    )
    skew = 0.0
    if stages:
        top = max(stages, key=lambda s: s.run_ms)
        if top.task_ms:
            med = statistics.median(top.task_ms)
            skew = max(top.task_ms) / med if med > 0 else 1.0
    run_ms = sum(s.run_ms for s in stages)
    cpu_s = sum(s.cpu_ns for s in stages) / 1e9
    sql: dict[str, int] = {}
    for s in stages:
        for k, v in s.sql.items():
            sql[k] = sql.get(k, 0) + v
    return {
        "jobs": len(jobs),
        "failed_jobs": sum(1 for j in jobs if not j.ok),
        "tasks": sum(len(s.task_ms) for s in stages),
        "executor_cpu_s": cpu_s,
        "executor_noncpu_s": max(run_ms / 1000 - cpu_s, 0.0),
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / 1e6,
        "shuffle_read_mb": sum(s.shuffle_read for s in stages) / 1e6,
        "spill_mb": sum(s.spill_disk for s in stages) / 1e6,
        "gc_s": sum(s.gc_ms for s in stages) / 1000,
        "driver_only_s": max(end_ms - start_ms - busy, 0) / 1000,
        "task_skew": skew,
        "python_sent_mb": sql.get(PY_SENT, 0) / 1e6,
        "python_returned_mb": sql.get(PY_RETURNED, 0) / 1e6,
    }
