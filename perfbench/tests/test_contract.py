"""BENCHMARK.json and the runner agree on names."""

import json
import os

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_the_runner():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in b["per_layer"]] == run.per_layer_names()
    assert len(b["per_layer"]) <= 128
    for m in b["per_layer"]:
        assert m["unit"] == run._layer_unit(m["name"])


def test_workloads_exist():
    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_tail_rule():
    assert tail([3.0, 1.0, 2.0]) == (pytest.approx(2.8), "p90 of 3")
    assert tail([5.0]) == (5.0, "p90 of 1")
    xs = [float(i) for i in range(200)]
    v, label = tail(xs)
    assert label == "p95 of 200"
    assert sum(x > v for x in xs) == 10


def test_layer_metrics_cover_every_name_from_synthetic_spans(tmp_path):
    from perfbench.trace import Span, Tracer
    from perfbench.workloads import Outcome

    (tmp_path / "eventlog").mkdir()
    ctx = run.Context(str(tmp_path), seed=1, traced=True)
    ctx.tracer = Tracer("r")

    def span(i, name, parent, start, end, phase):
        ctx.tracer.spans.append(Span(i, name, parent, "r", start, end, {"phase": phase}))

    span(1, "cdc.jobs.rebuild_silver", None, 0.0, 2.0, "setup")
    span(2, "cdc.jobs.merge_silver", None, 3.0, 5.0, "measure")
    span(3, "tables.silver.merge", 2, 3.5, 4.5, "measure")
    span(4, "cdc.jobs.merge_silver", None, 6.0, 9.0, "measure")
    span(5, "cdc.jobs.merge_silver", None, 10.0, 30.0, "warmup")  # left out
    out = Outcome(op_latencies=[2.0, 3.0])
    out.layer.update(n_ops=2, batches=[(0, 500, {"triggerExecution": 2000})])
    m = run.layer_metrics(ctx, out, op_p50=2.5)
    assert set(m) == set(run.per_layer_names())
    assert m["cdc.jobs.rebuild_silver.busy_s"] == 2.0
    assert m["cdc.jobs.merge_silver.busy_s"] == 2.5
    assert m["cdc.jobs.merge_silver.self_s"] == 2.0
    assert m["cdc.jobs.merge_silver.slope_s_per_batch"] == 1.0
    assert m["tables.silver.merge.calls"] == 0.5
    assert m["streaming.pipeline.trigger_ms"] == 2000
    assert m["trace.op_p50_s"] == 2.5
