"""Shared stage-level parallelism audit (event-log parsing + verdict).

Round-7 lesson, made structural (round-7 verdict item 3): seven rounds
of green correctness never caught the seven serial-stage scale defects
that `scripts/audit_stage_parallelism.py` found in one pass (traps #10
and #11 — a broadcast-side join pipelining onto a 1-split scan, a
fan-out relation keeping its pre-fan-out partitioning). This module
factors that script's event-log parsing into a library so the parity
sweep itself (tests/run_parity.py) carries a per-query parallelism
verdict: any stage burning more than ``min_stage_sec`` of executor
time at fewer than half the session's cores is flagged SERIAL, by
machinery rather than by a judge's watch-list.

Attribution: each query runs under ``sc.setJobGroup(name, ...)``;
stages reach the verdict keyed by the job group recorded in the event
log. The group is a thread-local property: lda_sweep's concurrent fits
copy it into their pool threads (``inheritable_thread_target``), so
their jobs attribute to the query. Jobs from a driver thread that does
not copy it attribute to "" and are reported under UNATTRIBUTED rather
than dropped.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass


def event_log_conf(event_dir: str) -> dict[str, str]:
    """extra_conf entries that turn the event log on into event_dir."""
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
    }


@dataclass
class StageStats:
    stage_id: int
    name: str
    n_tasks: int
    run_sec: float  # total executor run time across tasks
    max_task_sec: float


def _event_lines(event_dir: str, app_id: str):
    """Yield event-log JSON lines; handles Spark 4's rolling v2
    directory (events_*, optionally .zstd) and the flat v1 file.

    zstd decompression goes through pyarrow (always present in this
    image) — long sessions roll compressed segments and the box has
    no zstd CLI, which silently cost round 8 its first full-sweep
    audit section."""
    flat = os.path.join(event_dir, app_id)
    if os.path.isfile(flat):
        log_files = [flat]
    else:
        v2 = os.path.join(event_dir, f"eventlog_v2_{app_id}")
        log_files = sorted(
            os.path.join(v2, f)
            for f in os.listdir(v2)
            if f.startswith("events_")
        )
    for path in log_files:
        if path.endswith(".zstd"):
            import pyarrow as pa

            with pa.CompressedInputStream(pa.OSFile(path, "rb"), "zstd") as zs:
                yield from io.TextIOWrapper(zs, encoding="utf-8")
        else:
            with open(path) as fh:
                yield from fh


def stages_by_group(event_dir: str, app_id: str) -> dict[str, list[StageStats]]:
    """Parse the event log into per-job-group stage statistics."""
    job_group: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    stage_name: dict[int, str] = {}
    task_time: dict[int, float] = {}
    task_max: dict[int, float] = {}
    task_n: dict[int, int] = {}

    for line in _event_lines(event_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", ""
            )
            job_stages[jid] = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stage_name[si["Stage ID"]] = si.get("Stage Name", "")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0) / 1000.0
            task_time[sid] = task_time.get(sid, 0.0) + run
            task_max[sid] = max(task_max.get(sid, 0.0), run)
            task_n[sid] = task_n.get(sid, 0) + 1

    stage_to_group: dict[int, str] = {}
    for jid, stages in job_stages.items():
        for sid in stages:
            stage_to_group.setdefault(sid, job_group.get(jid, ""))

    out: dict[str, list[StageStats]] = {}
    for sid, name in stage_name.items():
        group = stage_to_group.get(sid, "")
        out.setdefault(group, []).append(
            StageStats(
                stage_id=sid,
                name=name,
                n_tasks=task_n.get(sid, 0),
                run_sec=task_time.get(sid, 0.0),
                max_task_sec=task_max.get(sid, 0.0),
            )
        )
    for stages in out.values():
        stages.sort(key=lambda s: -s.run_sec)
    return out


def serial_stages(
    stages: list[StageStats], cpus: int, min_stage_sec: float
) -> list[StageStats]:
    """Stages burning ≥ min_stage_sec of executor time at fewer than
    half the session's cores — the trap-#10/#11 signature. A stage
    with a SINGLE long task is serial regardless of how many sibling
    tasks finished fast, so max_task_sec ≥ min_stage_sec with a small
    task count also flags."""
    floor = max(2, cpus // 2)
    return [
        s
        for s in stages
        if s.n_tasks < floor
        and (s.run_sec >= min_stage_sec or s.max_task_sec >= min_stage_sec)
    ]


def verdict_lines(
    by_group: dict[str, list[StageStats]],
    walls: dict[str, float],
    cpus: int,
    min_wall_sec: float = 10.0,
    min_stage_sec: float = 5.0,
) -> list[str]:
    """One verdict line per audited query (spark wall ≥ min_wall_sec):
    either ``audit <name>: parallel-ok`` or a SERIAL line per flagged
    stage. Queries under the wall threshold are silent — the gate
    tiers stay noise-free; the scale sweeps get the machinery."""
    lines: list[str] = []
    for name, wall in sorted(walls.items()):
        if wall < min_wall_sec:
            continue
        flagged = serial_stages(by_group.get(name, []), cpus, min_stage_sec)
        if not flagged:
            lines.append(f"audit {name}: parallel-ok (wall {wall:.1f}s)")
        for s in flagged:
            lines.append(
                f"audit {name}: SERIAL stage {s.stage_id} "
                f"tasks={s.n_tasks} run={s.run_sec:.1f}s "
                f"max_task={s.max_task_sec:.1f}s {s.name[:60]}"
            )
    return lines
