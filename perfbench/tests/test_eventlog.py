"""Event-log reading, on a tiny log recorded from Spark 4.1 in the rolling
(v2) layout and cut down to the events the benchmark reads. The log
holds a grouped aggregate, a collect, and a sort forced to spill to
disk under job group ``g1``, then one job with no job group."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog
from tests.stage_audit import _event_lines

DATA = os.path.join(os.path.dirname(__file__), "data")
APP = "local-1792208751079"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(_event_lines(DATA, APP))


def test_jobs_and_stage_owners(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[0].submit_ms == 1792208759681
    assert log.jobs[2].stages == [3, 4]
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert eventlog.stage_owner(log) == {0: 0, 1: 0, 2: 1, 3: 2, 4: 2, 5: 3}


def test_task_fields_shuffle_spill_result_and_cpu(log):
    by_stage = {}
    for t in log.tasks:
        by_stage.setdefault(t.stage, []).append(t)
    assert len(log.tasks) == 12 and not any(t.failed for t in log.tasks)
    # map side of the aggregate writes shuffle bytes; the reduce side reads them
    assert sorted(t.shuffle_write_bytes for t in by_stage[0]) == [168, 171]
    assert sorted(t.shuffle_read_bytes for t in by_stage[1]) == [169, 170]
    # the forced sort spills to disk
    assert sorted(t.spill_bytes for t in by_stage[4]) == [7305, 7376]
    assert sorted(t.result_bytes for t in by_stage[2]) == [14094, 14094]
    # executor CPU time is recorded in nanoseconds
    assert sorted(t.cpu_ns for t in by_stage[0]) == [138804278, 160824261]


def test_task_metrics_units(log):
    m = eventlog.task_metrics([t for t in log.tasks if t.stage in (0, 1)])
    assert m["tasks"] == 4 and m["stages"] == 2
    assert m["cpu_s"] == pytest.approx((160824261 + 138804278 + 43645584 + 68028541) / 1e9)
    assert m["run_s"] == pytest.approx((483 + 486 + 143 + 146) / 1e3)
    assert m["gc_s"] == pytest.approx((71 + 71 + 12 + 12) / 1e3)
    assert m["shuffle_read_bytes"] == m["shuffle_write_bytes"] == 339
    assert m["spill_bytes"] == 0 and m["failed_tasks"] == 0
    # run-time-weighted max/median per stage
    s0 = (483 + 486) * (486 / 484.5)
    s1 = (143 + 146) * (146 / 144.5)
    assert m["task_skew"] == pytest.approx((s0 + s1) / (483 + 486 + 143 + 146))
