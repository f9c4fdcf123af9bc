"""Spark event-log reading: jobs, stages and task metrics.

Lines come from ``tests/stage_audit._event_lines`` (flat or rolling
log). Units are the event log's own: run, GC and launch/finish times in
milliseconds, executor CPU time in nanoseconds, sizes in bytes.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    result_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, ev["Submission Time"], ev["Submission Time"],
                                list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            log.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    result_bytes=m.get("Result Size", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    failed=reason != "Success",
                )
            )
    return log


def stage_owner(log: EventLog) -> dict[int, int]:
    """Stage id -> the first job that lists it. A stage reused by a
    later job is skipped there and runs no tasks for it."""
    owner: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stages:
            owner.setdefault(sid, jid)
    return owner


def task_metrics(tasks: list[Task]) -> dict[str, float]:
    """Totals over ``tasks`` plus the run-time-weighted mean, over
    stages with two or more tasks, of max / median task run time."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skew_num = skew_den = 0.0
    for runs in by_stage.values():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            skew_num += sum(runs) * (max(runs) / med)
            skew_den += sum(runs)
    return {
        "stages": float(len(by_stage)),
        "tasks": float(len(tasks)),
        "run_s": sum(t.run_ms for t in tasks) / 1e3,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "result_bytes": float(sum(t.result_bytes for t in tasks)),
        "shuffle_read_bytes": float(sum(t.shuffle_read_bytes for t in tasks)),
        "shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "failed_tasks": float(sum(t.failed for t in tasks)),
        "task_skew": skew_num / skew_den if skew_den else 1.0,
    }
