"""Operators on empty relations: a schema-exact zero-row copy of the
fixture must give the DuckDB oracle's answer, not a driver-side crash."""

from __future__ import annotations

import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from conftest import REPO, SF_DIR
from sdu_hadoop_indexer_spark.catalog import TABLES
from sdu_hadoop_indexer_spark.registry import all_oracles, all_queries

sys.path.insert(0, str(REPO / "tools"))
from check_oracle import duck_rows, rows_to_multiset, spark_rows  # noqa: E402


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "agg_ks_test",
        "agg_mann_whitney",
        "events_rfm_segments",
        "llm_mixing_weights",
        "agg_rollup",
        "agg_cube",
        "agg_grouping_sets",
        "ts_max_drawdown",
    ],
)
def test_empty_relation_matches_oracle(spark, empty_dir, name):
    srows = spark_rows(all_queries()[name](spark, empty_dir))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{empty_dir}/{t}.parquet')"
        )
    drows = duck_rows(con, all_oracles()[name])
    assert rows_to_multiset(srows) == rows_to_multiset(drows)
