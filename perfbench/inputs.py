"""Seeded benchmark inputs: one directory of parquet tables per run.

Every table the catalog knows (``catalog.TABLES``) is written, because the
SQL-text operators register views over all of them. The document corpus
comes from ``tools/gen_scale_fixture.generate`` in fixture-vocabulary mode
(``mix_fixture_vocab``): the search operators query fixed terms such as
``join`` and ``hash``, so those terms must occur. The relational tables
mimic the shape of the repository's TPC-H-like fixtures (same columns,
types, key ranges and uniform value domains) at a chosen scale factor.
Same seed, same bytes.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import gen_scale_fixture  # noqa: E402

# The fixture vocabulary the search operators' literal query terms come from.
FIXTURE_TERMS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SYNTH_TERMS = 20000  # open tail vocabulary, the --full default of the tool

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch, rng, span: int, n: int) -> pa.Array:
    us = epoch + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"))


def generate_relational(out: str, seed: int, sf: float) -> None:
    """The eight relational tables at scale ``sf`` (sf 0.1 = 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(_ORDER_EPOCH, rng, _ORDER_DAYS, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(_SHIP_EPOCH, rng, _SHIP_DAYS, n_line),
    })
    # events: a time-ordered stream, ~18 s mean inter-arrival, 30 days long
    gaps = rng.exponential(30 * _DAY_US / max(n_ev, 1), n_ev)
    ts = _EVENT_EPOCH + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        ),
    })


def generate(out: str, seed: int, n_docs: int, sf: float) -> dict[str, str]:
    """Write all catalog tables under ``out``; return ``{file: sha256}``."""
    os.makedirs(out, exist_ok=True)
    vocab_dir = os.path.join(out, "_vocab")
    os.makedirs(vocab_dir, exist_ok=True)
    _write(vocab_dir, "documents", {"text": [" ".join(FIXTURE_TERMS)]})
    gen_scale_fixture.generate(
        n_docs, out, vocab_dir, seed=seed, vocab_terms=SYNTH_TERMS,
        mix_fixture_vocab=True,
    )
    gen_scale_fixture.generate_embeddings(max(n_docs * 2 // 5, 16), out, seed + 1)
    generate_relational(out, seed + 2, sf)
    return digests(out)


def digests(out: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(Path(out, name).read_bytes()).hexdigest()
        for name in sorted(os.listdir(out))
        if name.endswith(".parquet")
    }
