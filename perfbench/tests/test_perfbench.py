"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from stats import (  # noqa: E402
    halves,
    highest_supported_percentile,
    percentile,
    tail_supported,
)
from tracing import _covered  # noqa: E402
from workloads import WORKLOADS, layer_of  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_percentile_interpolates_between_order_statistics():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([3.0], 90) == 3.0
    assert percentile([5.0, 1.0, 3.0], 50) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert not tail_supported(99, 90)
    assert tail_supported(100, 90)
    assert not tail_supported(999, 99)
    assert tail_supported(1000, 99)
    assert highest_supported_percentile(24) is None
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(5000) == 99
    assert highest_supported_percentile(10000) == 99.9


def test_halves_split_the_window_in_time_order():
    assert halves([4.0, 2.0, 1.0, 1.0]) == (3.0, 1.0)
    assert halves([2.0]) == (2.0, 2.0)


def test_stage_cover_counts_overlaps_once_and_clips_to_the_op():
    assert _covered([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)], 0.0, 10.0) == 4.0
    assert _covered([(0.0, 5.0)], 1.0, 2.0) == 1.0
    assert _covered([], 0.0, 1.0) == 0.0


def test_layer_is_the_registering_module_with_operators_as_one():
    assert layer_of("sdu_hadoop_indexer_spark.text.search") == "text.search"
    assert layer_of("sdu_hadoop_indexer_spark.operators.joins") == "operators"
    assert layer_of("sdu_hadoop_indexer_spark.sql_api") == "sql_api"


def test_every_run_of_a_workload_times_the_same_decks():
    for wl in WORKLOADS.values():
        assert wl.decks(_benchmark_json()["run_seconds"]) >= 2
        assert sorted(wl.deck_order(random.Random(1))) == sorted(
            wl.deck_order(random.Random(2)))


def test_declared_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [w.why for w in WORKLOADS.values()]


@pytest.mark.parametrize("traced", [False, True])
def test_result_line_emits_exactly_the_declared_metrics(traced):
    spec = _benchmark_json()
    declared = spec["per_layer" if traced else "end_to_end"]
    values = {m["name"]: 1.5 for m in declared}
    line = run.result_line(True, 3, 0, values, traced)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    values.pop(declared[0]["name"])
    with pytest.raises(ValueError):
        run.result_line(True, 3, 0, values, traced)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 5, 80, 0.0005)
    b = inputs.generate(str(tmp_path / "b"), 5, 80, 0.0005)
    c = inputs.generate(str(tmp_path / "c"), 6, 80, 0.0005)
    assert set(a) == {f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")}
    assert a == b
    # region and nation are fixed dimensions; every generated table moves
    assert {k for k in a if a[k] != c[k]} == set(a) - {"region.parquet", "nation.parquet"}


def test_oracle_check_fails_on_one_perturbed_cell(tmp_path):
    from sdu_hadoop_indexer_spark.registry import all_oracles

    d = str(tmp_path / "corpus")
    inputs.generate(d, 7, 60, 0.0005)
    sql = all_oracles()["text_wordcount"]
    rows = oracle.oracle_rows(sql, d, threads=1)
    assert rows and oracle.check(sql, d, rows, ["term", "cnt"], threads=1) is None

    perturbed = [dict(r) for r in rows]
    perturbed[len(perturbed) // 2]["cnt"] += 1
    why = oracle.check(sql, d, perturbed, ["term", "cnt"], threads=1)
    assert why is not None and "first differing row" in why
    assert oracle.check(sql, d, rows[1:], ["term", "cnt"], threads=1).startswith("row count")
    assert oracle.check(sql, d, rows, ["term", "n"], threads=1).startswith("columns")
