"""The flat index is built once per input: one persisted pin that every
search query reads instead of re-scanning and re-tokenizing the documents."""

from __future__ import annotations

import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import REPO, SF_DIR
from sdu_hadoop_indexer_spark import caching
from sdu_hadoop_indexer_spark.registry import all_oracles, all_queries

sys.path.insert(0, str(REPO / "tools"))
from check_oracle import duck_rows, rows_to_multiset, spark_rows  # noqa: E402

# the ops of the benchmark's `search` workload
SEARCH_OPS = (
    "text_term_lookup",
    "text_term_lookup_sharded",
    "text_bool_and",
    "text_phrase",
    "text_proximity_search",
    "join_self_positional",
    "text_snippet",
    "text_bm25",
    "sql_index_search",
    "text_fuzzy_term_lookup",
)

# multi-space, leading-space, blank and empty bodies: the shapes where
# token ordinals and the raw split array disagree
ODD_TEXTS = [
    "  join the hash  join table",
    "fast join  over   hash table scan",
    "",
    "   ",
    "table hash join joins joined",
    " scan  scan join",
    "tables table tabled hash",
    "no hit here at all",
]


def _write_docs(d, texts: list[str]) -> str:
    d.mkdir(exist_ok=True)
    schema = pq.read_schema(f"{SF_DIR}/documents.parquet")
    rows = {
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["src0"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }
    pq.write_table(pa.table(rows, schema=schema), str(d / "documents.parquet"))
    return str(d)


def _oracle_rows(sf_dir: str, name: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return duck_rows(con, all_oracles()[name])


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _nodes(plan) -> list:
    """Physical-plan nodes, through adaptive and query-stage wrappers but
    not into a cached relation's own build plan."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _executed(df) -> list:
    df.write.format("noop").mode("overwrite").save()
    return _nodes(df._jdf.queryExecution().executedPlan())


def test_rewritten_documents_rebuild_and_clear_releases(spark, tmp_path):
    caching.clear("index_flat")
    before = _persistent_rdds(spark)
    d = _write_docs(tmp_path / "docs", ODD_TEXTS)
    lookup = all_queries()["text_term_lookup"]
    old = spark_rows(lookup(spark, d))
    assert _persistent_rdds(spark) == before + 1
    _write_docs(tmp_path / "docs", ["join " * 3, "hash join", "join"])
    new = spark_rows(lookup(spark, d))
    assert rows_to_multiset(new) != rows_to_multiset(old)
    assert rows_to_multiset(new) == rows_to_multiset(
        _oracle_rows(d, "text_term_lookup")
    )
    assert _persistent_rdds(spark) == before + 1
    caching.clear("index_flat")
    assert _persistent_rdds(spark) == before


def test_warm_search_ops_read_only_the_pin(spark):
    queries = all_queries()
    names = [n.nodeName() for n in _executed(queries["text_term_lookup"](spark, SF_DIR))]
    assert "InMemoryTableScan" in names
    assert not [n for n in names if "Exchange" in n]
    for op in SEARCH_OPS:
        scans = [
            n.toString()
            for n in _executed(queries[op](spark, SF_DIR))
            if n.getClass().getSimpleName() == "FileSourceScanExec"
        ]
        assert not [s for s in scans if "documents.parquet" in s], op


@pytest.mark.parametrize(
    "name", ["text_doclen", "text_fuzzy_term_lookup", "text_snippet"]
)
def test_pin_derivations_match_oracle_on_odd_spacing(spark, tmp_path, name):
    d = _write_docs(tmp_path / "odd", ODD_TEXTS)
    srows = spark_rows(all_queries()[name](spark, d))
    assert srows
    assert rows_to_multiset(srows) == rows_to_multiset(_oracle_rows(d, name))
