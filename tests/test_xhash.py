"""Cross-engine hash parity: the xhash fold/family must agree bit-for-bit
between Spark and DuckDB — this is the foundation the round-3 EXACT oracles
for the MinHash/SimHash/count-min/plane-LSH family stand on."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sdu_hadoop_indexer_spark import xhash as X

WORDS = ["a", "abc", "hello", "zz9'q", "the", "partition", "x" * 40, "0", "9x", ""]


def py_fold(s: str, mult: int, init: int) -> int:
    """Pure-python reference of the char fold. Both engines split '' into
    one empty element whose ascii() is 0 — mirrored here."""
    h = init
    for code in [ord(c) for c in s] or [0]:
        h = (h * mult + code) % X.XH_P
    return h


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def test_fold_parity_spark_vs_duckdb(spark, duck):
    df = spark.createDataFrame([(w,) for w in WORDS], ["term"])
    rows = df.select(
        "term", X.xh1("term").alias("x1"), X.xh2("term").alias("x2")
    ).collect()
    for r in rows:
        d1 = duck.execute(f"SELECT {X.xh1_sql('?')}", [r.term]).fetchone()[0]
        d2 = duck.execute(f"SELECT {X.xh2_sql('?')}", [r.term]).fetchone()[0]
        assert (r.x1, r.x2) == (d1, d2), r.term
        assert r.x1 == py_fold(r.term, 131, 7), r.term
        assert r.x2 == py_fold(r.term, 137, 17), r.term


def test_fold_duckdb_matches_python_reference_property(duck):
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ascii_printable = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
    )

    @given(ascii_printable)
    @settings(max_examples=150, deadline=None)
    def check(s: str) -> None:
        got = duck.execute(f"SELECT {X.xh1_sql('?')}", [s]).fetchone()[0]
        assert got == py_fold(s, 131, 7), s

    check()


def test_family_parity_and_range(spark, duck):
    df = spark.createDataFrame([(w,) for w in WORDS], ["term"])
    cols = [
        X.hfam(i, X.xh1("term"), X.xh2("term")).alias(f"h{i}") for i in (0, 7, 63)
    ]
    rows = df.select("term", *cols).collect()
    for r in rows:
        x1 = duck.execute(f"SELECT {X.xh1_sql('?')}", [r.term]).fetchone()[0]
        x2 = duck.execute(f"SELECT {X.xh2_sql('?')}", [r.term]).fetchone()[0]
        for i in (0, 7, 63):
            dv = duck.execute(
                f"SELECT {X.hfam_sql(i, str(x1), str(x2))}"
            ).fetchone()[0]
            assert getattr(r, f"h{i}") == dv
            assert 0 <= dv < X.XH_P


def test_combine_parity(spark, duck):
    vals = [123456789, 7, 999999999, 0]
    sdf = spark.createDataFrame([tuple(vals)], ["a", "b", "c", "d"])
    got = sdf.select(
        X.combine([F.col("a"), F.col("b"), F.col("c"), F.col("d")]).alias("h")
    ).collect()[0].h
    dv = duck.execute(
        "SELECT " + X.combine_sql([str(v) for v in vals])
    ).fetchone()[0]
    assert got == dv


def test_constants_are_int64_safe():
    # DuckDB raises on int64 overflow where Spark wraps — every operand must
    # keep products provably below 2**63.
    for i in range(64):
        assert 1 <= X.A[i] < 2**30
        assert 1 <= X.B[i] < 2**30
        assert 1 <= X.C[i] < 2**30
    worst = (2**30) * (X.XH_P - 1) * 2 + 2**30
    assert worst < 2**63


def _sig_map(spark, docs):
    """doc_id -> 16-tuple MinHash signature under the CURRENTLY active
    xhash family (read at expression-build time)."""
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    th = t.select("doc_id", X.xh1("term").alias("x1"), X.xh2("term").alias("x2"))
    aggs = [
        F.min(X.hfam(i, F.col("x1"), F.col("x2"))).alias(f"h{i}")
        for i in range(16)
    ]
    return {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(16))
        for r in th.groupBy("doc_id").agg(*aggs).collect()
    }


def test_production_xxhash_swap_structure(spark, monkeypatch):
    """SPARK_GRAFT_XXHASH=1 swaps the char-fold for xxhash64 INSIDE the same
    [0, XH_P) domain: identical documents must sketch identically under
    either family (so exact-duplicate LSH candidate structure is
    family-independent), distinct documents must not, every value must
    respect the hfam/combine overflow bounds, and the two families must
    genuinely differ (the flag does something)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    monkeypatch.delenv("SPARK_GRAFT_XXHASH", raising=False)
    assert not X.production_hashing()
    portable = _sig_map(spark, docs)
    monkeypatch.setenv("SPARK_GRAFT_XXHASH", "1")
    assert X.production_hashing()
    production = _sig_map(spark, docs)
    for fam in (portable, production):
        assert fam[1] == fam[2], "identical docs must sketch identically"
        assert fam[1] != fam[3], "distinct docs must not collide fully"
        for v in fam[1] + fam[3]:
            assert 0 <= v < X.XH_P, "family must stay inside the hfam domain"
    assert portable[1] != production[1], "flag must switch the family"


def test_production_lsh_pipeline_catches_exact_dups(spark, sf_dir, monkeypatch):
    """The REGISTERED LSH pipeline, run end-to-end under the production
    family, still emits every identical-token-set pair (identical sets ⇒
    identical signatures ⇒ same buckets — true for ANY hash family; this
    pins that the swap keeps the pipeline's candidate structure)."""
    from sdu_hadoop_indexer_spark import caching
    from sdu_hadoop_indexer_spark.llm import dedup as D

    key = (
        D._token_sets(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("term")).cast("string").alias("k"))
    )
    a = key.select(F.col("doc_id").alias("doc_a"), "k")
    b = key.select(F.col("doc_id").alias("doc_b"), "k")
    same_set_pairs = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, "k").where("doc_a < doc_b").collect()
    }

    monkeypatch.setenv("SPARK_GRAFT_XXHASH", "1")
    caching.clear("lsh_bands")  # bands memoized per (app, sf_dir) — force a rebuild
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in D.dedup_minhash_lsh(spark, sf_dir).collect()
        }
    finally:
        caching.clear("lsh_bands")  # don't leak production-family bands to other tests
        monkeypatch.delenv("SPARK_GRAFT_XXHASH")
    assert same_set_pairs <= got
