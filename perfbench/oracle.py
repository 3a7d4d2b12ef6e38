"""Check an operator's collected rows against its registered DuckDB oracle.

The canonical-value rules are the repository's own (``tools/check_oracle``):
an order-insensitive multiset of canonical rows, plus row count and column
names. Each check gets a fresh DuckDB connection with one view per parquet
table of the run's input directory.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from check_oracle import duck_rows, rows_to_multiset  # noqa: E402


def compare(srows: list[dict], scols: list[str], drows: list[dict]) -> str | None:
    """None when the Spark rows equal the oracle rows, else why they differ."""
    if drows and sorted(scols) != sorted(drows[0]):
        return f"columns spark={sorted(scols)} duckdb={sorted(drows[0])}"
    sms, dms = rows_to_multiset(srows), rows_to_multiset(drows)
    if len(sms) != len(dms):
        return f"row count spark={len(sms)} duckdb={len(dms)}"
    for a, b in zip(sms, dms):
        if a != b:
            return f"first differing row spark={a[:200]!r} duckdb={b[:200]!r}"
    return None


def oracle_rows(sql: str, data_dir: str, threads: int) -> list[dict]:
    import duckdb

    con = duckdb.connect(
        config={
            "threads": threads,
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
        }
    )
    try:
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name).replace("'", "''")
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return duck_rows(con, sql)
    finally:
        con.close()


def check(sql: str, data_dir: str, srows: list[dict], scols: list[str],
          threads: int) -> str | None:
    """None when ``srows`` match the oracle on ``data_dir``, else the reason."""
    return compare(srows, scols, oracle_rows(sql, data_dir, threads))
