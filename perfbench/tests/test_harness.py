"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from harness import (  # noqa: E402
    LAYERS,
    METRIC_NAME,
    layer_of,
    op_failures,
    per_layer_metric_names,
    percentile,
    run_pass,
    tail_percentile,
)
from run import END_TO_END_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed_and_unique():
    names = list(END_TO_END_UNITS) + list(per_layer_metric_names())
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.fullmatch(name), name
    assert len(per_layer_metric_names()) == 12 * len(LAYERS) + 3


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_metric_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def _fn_in(module: str):
    def fn(spark, sf_dir):
        return None

    fn.__module__ = module
    return fn


def test_layer_is_the_operator_module():
    assert layer_of(_fn_in("nlp_data_pipeline_spark.operators.dedup")) == "dedup"
    assert layer_of(_fn_in("nlp_data_pipeline_spark.operators.relational_ext")) == "relational_ext"


def test_every_workload_op_maps_to_a_layer_and_every_layer_is_measured():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    fns = entry.queries()
    covered = set()
    for workload in WORKLOADS.values():
        for name in workload.ops:
            assert layer_of(fns[name]) in LAYERS, name
            covered.add(layer_of(fns[name]))
    assert covered == set(LAYERS)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_percentile(5) == 50.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(50) == pytest.approx(80.0)
    assert tail_percentile(100) == pytest.approx(90.0)
    assert tail_percentile(1000) == 90.0
    for n in range(21, 400):
        p = tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9
        # the highest such percentile, unless capped at p90
        assert p == 90.0 or n * (1 - (p + 0.5) / 100) < 10


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile([7.0], 90) == 7.0


def test_failing_op_is_counted_and_the_pass_goes_on():
    def ok(spark, sf_dir):
        return "frame"

    def boom(spark, sf_dir):
        raise RuntimeError("injected")

    ok.__module__ = "nlp_data_pipeline_spark.operators.sql_api"
    boom.__module__ = "nlp_data_pipeline_spark.operators.events"
    forced, seen = [], []
    result = run_pass(
        [("a", ok), ("b", boom), ("c", ok)],
        call=lambda fn: fn(None, "dir"),
        force=forced.append,
        after_op=lambda name, df: seen.append((name, df)),
    )
    assert [op.name for op in result.ops] == ["a", "b", "c"]
    assert result.ops[1].error == "RuntimeError: injected"
    assert result.ops[1].layer == "events"
    assert forced == ["frame", "frame"]
    assert seen == [("a", "frame"), ("b", None), ("c", "frame")]
    attempted, failed = op_failures([result])
    assert (attempted, failed) == (3, 1)
    assert 1 - failed / attempted == pytest.approx(2 / 3)
