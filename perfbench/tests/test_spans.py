"""Spans: self time, job attribution by time, and function rebinding."""

from __future__ import annotations

import json
import sys
import threading
import types

import pytest
from pyspark import cloudpickle

from perfbench import eventlog
from perfbench.spans import Span, Tracer, ancestors, attribute_jobs, self_times


class Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def _nested(tracer: Tracer, clock: Clock) -> None:
    # op [0, 10] > build [1, 6] > read [2, 3]; op > collect [7, 9]
    with tracer.span("op", "q"):
        clock.now = 1
        with tracer.span("plans"):
            clock.now = 2
            with tracer.span("readers"):
                clock.now = 3
            clock.now = 6
        clock.now = 7
        with tracer.span("spark.collect"):
            clock.now = 9
        clock.now = 10


def test_self_time_of_nested_spans():
    clock = Clock()
    tracer = Tracer("r", clock)
    _nested(tracer, clock)
    st = self_times(tracer.spans)
    by_name = {s.name: st[s.id] for s in tracer.spans}
    assert by_name == {"op": 3.0, "plans": 4.0, "readers": 1.0, "spark.collect": 2.0}
    # self times add up to the top-level span's duration
    assert sum(st.values()) == 10.0
    by_id = {s.id: s for s in tracer.spans}
    assert [s.name for s in ancestors(by_id, tracer.spans[2].id)] == ["readers", "plans", "op"]


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, "lda", "", 0.0, 10.0, None, "r"),
        Span(1, "fit", "", 1.0, 6.0, 0, "r"),
        Span(2, "fit", "", 4.0, 8.0, 0, "r"),
        Span(3, "fit", "", 9.0, 12.0, 0, "r"),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


def test_spans_on_other_threads_are_not_recorded():
    tracer = Tracer("r")
    with tracer.span("op"):
        t = threading.Thread(target=lambda: tracer.span("fit").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert [s.name for s in tracer.spans] == ["op"]


def test_jobs_attributed_to_innermost_span_by_submission_time():
    clock = Clock()
    tracer = Tracer("r", clock)
    _nested(tracer, clock)
    clock.now = 11
    with tracer.span("op", "q2"):
        clock.now = 12
    names = {s.id: s.name for s in tracer.spans}
    owner = attribute_jobs(tracer.spans, {1: 2.5, 2: 4.0, 3: 8.0, 4: 6.5, 5: 10.5, 6: 11.5, 7: -1})
    assert {j: names.get(s) for j, s in owner.items()} == {
        1: "readers", 2: "plans", 3: "spark.collect", 4: "op", 5: None, 6: "op", 7: None,
    }


def test_jobs_with_empty_job_group_are_attributed_by_time():
    """Jobs submitted from the LDA sweep's worker threads carry no job
    group; attribution uses the submission time alone."""
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 2500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 8000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 8500},
    ]
    log = eventlog.parse(json.dumps(x) for x in lines)
    clock = Clock()
    tracer = Tracer("r", clock)
    _nested(tracer, clock)
    owner = attribute_jobs(tracer.spans, {j.id: j.submit_ms / 1e3 for j in log.jobs.values()})
    names = {s.id: s.name for s in tracer.spans}
    assert {j: names[s] for j, s in owner.items()} == {0: "readers", 1: "spark.collect"}
    assert log.jobs[1].end_ms == 8500


def _fake_modules():
    layer = types.ModuleType("fakeengine.layer")
    exec("def read(x):\n    return x + 1\n\ndef _private(x):\n    return x\n", layer.__dict__)
    user = types.ModuleType("fakeengine.user")
    user.read = layer.read  # as ``from fakeengine.layer import read`` binds it
    exec("def plan(x):\n    return read(x) * 2\n", user.__dict__)
    return layer, user


def test_instrument_rebinds_every_module_attribute_and_restores():
    layer, user = _fake_modules()
    original = layer.read
    sys.modules.update({"fakeengine.layer": layer, "fakeengine.user": user})
    try:
        tracer = Tracer("r")
        assert tracer.instrument({"readers": layer}, "fakeengine") == 2
        with tracer.span("op"):
            assert user.plan(1) == 4
            assert layer.read(1) == 2
        assert [(s.name, s.detail) for s in tracer.spans] == [
            ("op", ""), ("readers", "read"), ("readers", "read")]
        assert layer._private is not None and "_private" not in repr(tracer.spans)
        # a wrapper pickles as the function it wraps: untraced on workers
        clone = cloudpickle.loads(cloudpickle.dumps(user.read))
        assert clone(1) == 2 and not hasattr(clone, "_tracer")
        tracer.restore()
        assert layer.read is original and user.read is original
    finally:
        del sys.modules["fakeengine.layer"], sys.modules["fakeengine.user"]
