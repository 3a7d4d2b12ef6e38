"""Contract tests for the evidence tooling under tools/ — the fixture
generators whose output the scale/skew studies (and the judge's slope
reading) depend on. No SparkSession needed: generation + DuckDB checks
only, on tiny corpora."""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from gen_scale_fixture import (  # noqa: E402
    HOT_SHARE,
    generate,
    generate_relational,
    skew_hot_keys,
)

FIXTURE = "/root/testdata/sf0.001"


def _share(path: str, key: str, hot) -> float:
    n_hot, n = duckdb.sql(
        f"SELECT count(*) FILTER (WHERE {key} = {hot}), count(*) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    return n_hot / n


def test_skew_hot_keys_plants_declared_share(tmp_path):
    """The --skew rewrite must (a) point ~HOT_SHARE of lineitem rows at an
    EXISTING supplier key and ~HOT_SHARE of events at an existing user,
    (b) keep row counts and every other column untouched, (c) be
    deterministic (hash-of-key selection, not RNG state)."""
    out = str(tmp_path / "fx")
    generate_relational(FIXTURE, out, 2)
    before = {
        t: duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        for t in ("lineitem", "events")
    }
    base_revenue = duckdb.sql(
        "SELECT sum(l_extendedprice * (1 - l_discount)) FROM "
        f"read_parquet('{out}/lineitem.parquet')"
    ).fetchone()[0]
    hot = skew_hot_keys(out)
    for t, n0 in before.items():
        n1 = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        assert n1 == n0  # rewrite never adds/drops rows
    li_share = _share(f"{out}/lineitem.parquet", "l_suppkey", hot["lineitem"])
    ev_share = _share(f"{out}/events.parquet", "user_id", hot["events"])
    # expected share = HOT_SHARE re-pointed rows + the key's surviving
    # original slice (1-HOT_SHARE)/n_keys — material at sf0.001's tiny
    # key cardinalities, negligible at the study's 6M-row fixture;
    # ±3% tolerance covers hash granularity at small N
    n_supp = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/supplier.parquet')"
    ).fetchone()[0]
    n_users = duckdb.sql(
        "SELECT count(DISTINCT user_id) FROM "
        f"read_parquet('{out}/events.parquet')"
    ).fetchone()[0]
    assert abs(li_share - (HOT_SHARE + (1 - HOT_SHARE) / n_supp)) < 0.03, (
        li_share
    )
    assert abs(ev_share - (HOT_SHARE + (1 - HOT_SHARE) / n_users)) < 0.03, (
        ev_share
    )
    # referential integrity: the hot supplier key exists in supplier
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/supplier.parquet') "
        f"WHERE s_suppkey = {hot['lineitem']}"
    ).fetchone()[0] == 1
    # non-key columns untouched: revenue aggregate is byte-identical
    assert duckdb.sql(
        "SELECT sum(l_extendedprice * (1 - l_discount)) FROM "
        f"read_parquet('{out}/lineitem.parquet')"
    ).fetchone()[0] == base_revenue
    # deterministic: a second rewrite of an identical copy plants the
    # identical row set
    out2 = str(tmp_path / "fx2")
    generate_relational(FIXTURE, out2, 2)
    assert skew_hot_keys(out2) == hot
    h1, h2 = (
        duckdb.sql(
            "SELECT sum(hash(l_orderkey * 8 + l_linenumber + l_suppkey)) "
            f"FROM read_parquet('{o}/lineitem.parquet')"
        ).fetchone()[0]
        for o in (out, out2)
    )
    assert h1 == h2


def test_generate_hot_term_share(tmp_path):
    """hot_term_share must concentrate ~ the declared share of token
    occurrences on ONE term (the stopword-class agg hot key)."""
    out = str(tmp_path / "docs")
    generate(400, out, FIXTURE, vocab_terms=5000, hot_term_share=0.15)
    top_share = duckdb.sql(
        f"""
        WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
                   FROM read_parquet('{out}/documents.parquet'))
        SELECT max(c) * 1.0 / sum(c)
        FROM (SELECT term, count(*) AS c FROM t GROUP BY term)
        """
    ).fetchone()[0]
    # on the plain-Zipf path the boost lands ON the Zipf head term:
    # expected = 0.15 + 0.85/H(5000) ~ 0.24
    assert 0.15 <= top_share <= 0.30, top_share
    # and without the flag the Zipf head stays below the hot share
    out2 = str(tmp_path / "docs2")
    generate(400, out2, FIXTURE, vocab_terms=5000)
    zipf_head = duckdb.sql(
        f"""
        WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
                   FROM read_parquet('{out2}/documents.parquet'))
        SELECT max(c) * 1.0 / sum(c)
        FROM (SELECT term, count(*) AS c FROM t GROUP BY term)
        """
    ).fetchone()[0]
    assert zipf_head < 0.15, zipf_head


def test_generate_zero_docs_keeps_fixture_schema(tmp_path):
    """An empty corpus is a valid input: generating 0 docs must write a
    zero-row documents.parquet with the fixture's schema."""
    import pyarrow.parquet as pq

    path = generate(0, str(tmp_path / "empty"), FIXTURE)
    assert pq.read_metadata(path).num_rows == 0
    assert pq.read_schema(path).equals(
        pq.read_schema(f"{FIXTURE}/documents.parquet"), check_metadata=False
    )


def test_index_parity_scalar_protocol_crc_and_fingerprint(spark, sf_dir):
    """tools/index_parity.py's collect-free protocol rests on two facts —
    pin both: (a) Spark `crc32(encode(s,'UTF-8'))` == zlib.crc32 bit-exact
    on the canonical-string alphabet (unicode, control chars, the \\x01
    field separator, digits); (b) the engine-side five-scalar reduction of
    text_index_nested equals the independent numpy recomputation on the
    gate fixture (the tool's --rows self-validation, in CI form)."""
    import zlib

    from pyspark.sql import functions as F

    from tools.index_parity import (
        _scalars,
        nested_rows,
        recompute,
        spark_scalars,
    )

    probes = [
        "plain",
        "a\x01b\x011",  # the canonical field separator
        "ünïcødé-ﬆring",  # multi-byte UTF-8
        '[{"doc_id":3,"positions":[0,5]}]',
        "",
        "tab\tnl\n",
    ]
    df = spark.createDataFrame([(s,) for s in probes], ["s"])
    got = {
        r.s: r.h
        for r in df.select(
            "s", F.crc32(F.encode("s", "UTF-8")).alias("h")
        ).collect()
    }
    for s in probes:
        assert got[s] == (zlib.crc32(s.encode("utf-8")) & 0xFFFFFFFF), s

    t, d, p, terms = recompute(sf_dir)
    expected = _scalars(
        (f"{term}\x01{pj}\x01{df_}", df_, len(pj))
        for term, pj, df_ in nested_rows(t, d, p, terms)
    )
    from sdu_hadoop_indexer_spark.registry import all_queries

    engine = spark_scalars(
        all_queries()["text_index_nested"](spark, sf_dir),
        ["term", "postings", "df"],
        "df",
        "postings",
    )
    assert engine == expected
