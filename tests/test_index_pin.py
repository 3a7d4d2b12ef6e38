"""The flat index is built once per input: one persisted pin that every
search query reads instead of re-scanning and re-tokenizing the documents.
Each search op is one parameterized statement over the pins' per-input
views, planned without an exchange where both join sides are the
doc_id-partitioned pins."""

from __future__ import annotations

import sys
import threading

import duckdb
from pyspark import SparkContext
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import REPO, SF_DIR
from sdu_hadoop_indexer_spark import caching
from sdu_hadoop_indexer_spark.registry import all_oracles, all_queries
from sdu_hadoop_indexer_spark.text.indexer import INDEX_PINS, clear_index

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


@pytest.fixture(scope="module")
def odd_dir(tmp_path_factory) -> str:
    return _write_docs(tmp_path_factory.mktemp("odd"), ODD_TEXTS)


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
    "name", ["text_doclen", "text_index_sharded", *SEARCH_OPS]
)
def test_pin_derivations_match_oracle_on_odd_spacing(spark, odd_dir, name):
    srows = spark_rows(all_queries()[name](spark, odd_dir))
    assert srows
    assert rows_to_multiset(srows) == rows_to_multiset(
        _oracle_rows(odd_dir, name)
    )


def test_empty_documents_give_no_rows(spark, tmp_path):
    d = _write_docs(tmp_path / "empty", [])
    for op in SEARCH_OPS:
        assert spark_rows(all_queries()[op](spark, d)) == [], op


def test_search_ops_keep_their_pins(spark, odd_dir):
    """No op releases a pin it reads (a pinned frame passed to
    ``spark.sql`` as a keyword DataFrame would be uncached on return), and
    a cleared pin is rebuilt by the next op."""
    queries = all_queries()
    clear_index()
    pinned = _persistent_rdds(spark) + len(INDEX_PINS)
    for op in SEARCH_OPS:
        queries[op](spark, odd_dir).collect()
    assert _persistent_rdds(spark) == pinned
    for op in SEARCH_OPS:
        queries[op](spark, odd_dir).collect()
        assert _persistent_rdds(spark) == pinned, op
    builds = caching.stats("index_flat")["builds"]
    caching.clear("index_flat")
    assert _persistent_rdds(spark) < pinned
    for op in SEARCH_OPS:
        queries[op](spark, odd_dir).collect()
    assert caching.stats("index_flat")["builds"] == builds + 1
    assert _persistent_rdds(spark) == pinned


# search ops that read only doc_id-partitioned pins and group or join on
# doc_id, so they plan no exchange
NO_EXCHANGE_OPS = (
    "text_term_lookup",
    "text_bool_and",
    "text_phrase",
    "text_proximity_search",
    "join_self_positional",
    "text_snippet",
    "sql_index_search",
)


def test_search_plan_shapes_and_build_calls(spark):
    """Each warm search op builds in a few py4j round trips (one
    statement, its bound terms and the pin lookups), and the join ops run
    without an exchange."""
    queries = all_queries()
    client = SparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    me = threading.get_ident()

    def counting(*a, **kw):
        # py4j's finalizer thread sends object releases through the same
        # client whenever Python's GC runs; count this thread's calls only
        if threading.get_ident() == me:
            calls.append(1)
        return send(*a, **kw)

    for op in SEARCH_OPS:
        queries[op](spark, SF_DIR).collect()
        client.send_command = counting
        try:
            df = queries[op](spark, SF_DIR)
        finally:
            client.send_command = send
        assert len(calls) <= 40, (op, len(calls))
        calls.clear()
        names = [n.nodeName() for n in _executed(df)]
        if op in NO_EXCHANGE_OPS:
            assert not [n for n in names if "Exchange" in n], op
    names = [n.nodeName() for n in _executed(queries["text_bm25"](spark, SF_DIR))]
    assert names.count("BroadcastExchange") <= 1
    assert not [n for n in names if n == "Exchange"]
