"""Self time, roll-ups and event-log folding on hand-built spans."""

import json
import types

import pytest

from perfbench import trace
from perfbench.trace import Span, Tracer


def _span(i, name, parent, start, end):
    return Span(i, name, parent, "r", start, end, {"phase": "measure"})


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, "root", None, 0.0, 10.0),
        _span(2, "a", 1, 1.0, 4.0),
        _span(3, "b", 1, 3.0, 5.0),  # overlaps a: union 1..5
        _span(4, "c", 1, 9.0, 12.0),  # clipped to 9..10
        _span(5, "a.child", 2, 1.5, 2.0),
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_layer_stats_counts_recursive_names_once_for_busy_time():
    spans = [
        _span(1, "f", None, 0.0, 4.0),
        _span(2, "f", 1, 1.0, 2.0),
        _span(3, "g", 1, 2.0, 3.0),
    ]
    st = trace.layer_stats(spans)
    assert st["f"]["calls"] == 2
    assert st["f"]["busy_s"] == pytest.approx(4.0)
    assert st["f"]["self_s"] == pytest.approx((4.0 - 2.0) + 1.0)
    assert st["g"]["busy_s"] == pytest.approx(1.0)


def test_tracer_nests_spans_and_wraps_module_functions():
    mod = types.ModuleType("perfbench._fake")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    inner.__module__ = outer.__module__ = mod.__name__
    mod.inner, mod.outer = inner, outer
    import sys

    sys.modules[mod.__name__] = mod
    try:
        t = Tracer("run")
        t.install_module(mod, "fake")
        t.phase = "measure"
        assert mod.outer(1) == 4
        t.uninstall()
        assert mod.outer is outer
    finally:
        del sys.modules[mod.__name__]
    names = [(s.name, s.parent) for s in t.spans]
    assert names == [("fake.outer", None), ("fake.inner", 1)]
    assert all(s.end >= s.start for s in t.spans)


def test_event_log_folds_onto_spans_and_rolls_up(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb:2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 5, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 99}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 50}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    per = trace.event_log_counters(str(tmp_path))
    assert per == {2: {"jobs": 1, "stages": 2, "tasks": 2, "task_run_ms": 12,
                       "shuffle_read_bytes": 100, "shuffle_write_bytes": 100, "spill_bytes": 7}}
    spans = [_span(1, "outer", None, 0, 2), _span(2, "inner", 1, 0, 1)]
    up = trace.rollup_counters(spans, per)
    assert up["outer"]["task_run_ms"] == 12 and up["inner"]["jobs"] == 1
