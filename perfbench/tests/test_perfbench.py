"""The benchmark's own tests, at small sizes (a few minutes).

    python3 -m pytest perfbench/tests -q

They pin the result schema against BENCHMARK.json, and run each workload
once untraced and once traced on shrunken inputs: the traced mirror must
commit the same output, and every span must be attributed jobs, stages
and task time from the status store.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs, run, spans, workloads

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _fake_trace() -> dict:
    roles = run.ROLES
    return {
        "spans": [
            spans.Span(f"s{i}", r, wall_s=1.0, jobs=1, rows_out=10)
            for i, r in enumerate(roles)
        ],
        "ratios": {"candidates_per_item": 2.0, "pass_ratio": 0.5},
        "held_storage_mb": 1.0,
        "trace_overhead_s": 0.1,
    }


def test_end_to_end_schema_matches_benchmark_json():
    samples = {
        "setup_s": 3.0,
        "call_s": [20.0, 10.0, 11.0],
        "cpu_s": [40.0, 30.0, 31.0],
        "heap_mb": [500.0, 400.0, 410.0],
    }
    got = run.end_to_end_metrics(samples)
    assert {k: v["unit"] for k, v in got.items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]
    }
    assert got["setup_s"]["value"] == 3.0
    # the first call is the measured one; warm calls stay in the info line
    assert got["call_s"]["value"] == 20.0
    assert got["call_cpu_s"]["value"] == 40.0
    assert got["retained_heap_mb"]["value"] == 500.0


def test_per_layer_schema_matches_benchmark_json():
    got = run.layer_metrics(_fake_trace())
    assert {k: v["unit"] for k, v in got.items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]
    }


def test_workload_names_match_benchmark_json():
    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in BENCH["workloads"])


def test_table_digest_ignores_row_order_and_float_noise():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [0.1234564, 2.0]})
    b = pd.DataFrame({"k": ["y", "x"], "v": [2.0000001, 0.1234562]})
    assert workloads.table_digest(a) == workloads.table_digest(b)
    b.loc[0, "v"] = 2.00001
    assert workloads.table_digest(a) != workloads.table_digest(b)


def test_bcubed_f_perfect_and_split():
    import numpy as np

    gold = np.array([0, 0, 1, 1])
    assert workloads.bcubed_f(np.array([5, 5, 7, 7]), gold) == 1.0
    # every item alone: precision 1, recall 1/2
    assert workloads.bcubed_f(np.arange(4), gold) == pytest.approx(2 / 3)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.isolate(str(tmp_path_factory.mktemp("perfbench")))
    session = run.new_session()
    yield session
    session.stop()


@pytest.fixture()
def small(monkeypatch):
    monkeypatch.setattr(inputs, "FLAGSHIP_DOCS", 60)
    monkeypatch.setattr(inputs, "FLAGSHIP_EMBEDDINGS", 60)
    monkeypatch.setattr(inputs, "LAKE_HISTORY", 30)
    monkeypatch.setattr(inputs, "LAKE_BATCHES", 2)
    monkeypatch.setattr(inputs, "LAKE_BATCH_DOCS", 6)
    monkeypatch.setattr(inputs, "ER_CUSTOMERS", 150)
    monkeypatch.setattr(inputs, "ER_REPLICAS", 2)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_traced_mirror_matches_untraced_and_attributes_every_span(
    spark, small, tmp_path, name
):
    wl = workloads.WORKLOADS[name]()
    wl.prepare(str(tmp_path), seed=3)
    wl.load(spark)
    wl.run(spark)
    _, untraced = wl.check(spark)
    wl.release(spark)
    tracer = spans.Tracer(spark)
    ratios = wl.traced(spark, tracer)
    _, traced = wl.check(spark)
    wl.release(spark)
    assert traced == untraced
    if name == "lake_er":
        # every batch committed, and the union view reads back all of it
        assert untraced["lake"]["batches"] == 2
        assert untraced["lake"]["committed_rows"] == untraced["lake"]["link_rows"] > 0
    assert {s.role for s in tracer.spans} == set(run.ROLES)
    for s in tracer.spans:
        assert s.jobs >= 1 and s.stages >= 1, s.record()
        assert s.task_run_s > 0 and s.wall_s > 0, s.record()
    assert ratios["candidates_per_item"] > 0 and ratios["pass_ratio"] > 0
    assert tracer.overhead_s > 0


def test_jit_cpu_is_read_apart_from_the_rest(spark):
    # isolate() starts the JVM with fixed compiler threads, so their CPU
    # can be read by thread name
    spark.range(200000).selectExpr("sum(id * 2)").collect()
    total, jit = spans.tree_cpu_s()
    assert 0 < jit < total
