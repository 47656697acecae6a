"""Event-log / listener parsing and the span tree, on a checked-in fragment.

``data/trace_fragment.json`` holds the raw inputs of one traced pass of
each workload: the op records the runner keeps, the event-log lines of
those ops' jobs (job, stage and task events; paths made relative) and
the streaming progress events.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _fragment() -> dict:
    with open(os.path.join(HERE, "data", "trace_fragment.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module", params=["catalog_batch", "bulk_update_listview"])
def traced(request):
    raw = _fragment()[request.param]
    tree = spans.build_spans(request.param, raw["ops"], raw["events"], raw["triggers"])
    return request.param, raw, tree


def test_every_op_has_a_span_tree(traced):
    workload, raw, tree = traced
    by_id = {s["id"]: s for s in tree}
    assert len(by_id) == len(tree), "span ids are unique"
    ops = [s for s in tree if s["kind"] == "op"]
    assert len(ops) == len(raw["ops"])
    parent_kind = {"pass": "workload", "op": "pass", "phase": "op", "job": "phase", "stage": "job", "trigger": "phase"}
    for s in tree:
        if s["kind"] == "workload":
            assert s["parent"] is None
        else:
            assert by_id[s["parent"]]["kind"] == parent_kind[s["kind"]]
    for op in ops:
        phases = [s for s in tree if s["parent"] == op["id"]]
        assert phases, op["id"]
        jobs = [s for s in tree if s["kind"] == "job" and s["parent"] in {p["id"] for p in phases}]
        assert jobs, f"{op['id']} has no jobs"
    assert any(s["kind"] == "stage" for s in tree)


def test_layers_account_for_each_op_within_5_percent(traced):
    _, _, tree = traced
    for acc in spans.op_accounting(tree):
        assert abs(acc["wall_ms"] - acc["accounted_ms"]) <= 0.05 * acc["wall_ms"], acc


def test_layer_metrics_cover_every_declared_metric(traced):
    workload, _, tree = traced
    m = spans.layer_metrics(tree, cores=4)
    assert set(spans.PER_LAYER) <= set(m)
    assert m["exec.jobs"] > 0 and m["exec.tasks"] >= m["exec.stages"] > 0
    assert 0 < m["exec.core_busy_frac"] <= 1.0
    assert m["trace.unaccounted_frac"] < 0.05
    if workload == "catalog_batch":
        assert m["catalyst.planning_ms"] > 0 and m["drain.wall_s"] > 0
        assert m["streaming.triggers"] > 0 and m["streaming.trigger_p50_ms"] > 0
        assert m["sinks.output_rows"] == 0
    else:
        assert m["sinks.output_rows"] > 0 and m["sinks.commit_s"] > 0
        assert m["streaming.triggers"] == 0 and m["catalyst.planning_ms"] == 0


def test_self_time_subtracts_children():
    tree = [
        {"id": "w", "parent": None, "kind": "workload", "start": 0, "end": 100},
        {"id": "a", "parent": "w", "kind": "op", "start": 10, "end": 50},
        {"id": "b", "parent": "w", "kind": "op", "start": 40, "end": 70},
    ]
    st = spans.self_time_ms(tree)
    assert st == {"w": 40, "a": 40, "b": 30}


def test_union_and_tail_helpers():
    assert spans.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert spans.union_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert spans.tail_percentile([3, 1, 2]) == (100.0, 3)
    q, v = spans.tail_percentile(list(range(100)))
    assert (q, v) == (90.0, 89)


def test_module_of_callsite():
    assert spans.module_of("collect at odoo_batch_processing_spark/operators/dedup.py:7") == "operators"
    assert spans.module_of("count at odoo_batch_processing_spark/session.py:3") == "session"
    assert spans.module_of("start at NativeMethodAccessorImpl.java:0") == "other"


def test_benchmark_json_declares_the_per_layer_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: (m["unit"], m["better"]) for m in json.load(fh)["per_layer"]}
    assert declared == spans.PER_LAYER
