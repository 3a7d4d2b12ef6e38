"""Fixture catalog: load the 10 parquet tables of an sf dir, register views.

Replaces the reference's input layer (a line-oriented text scan +
``split("\t", 2)`` parse, App.scala:151-152,248) with columnar Parquet scans.
Catalyst pushes predicates and prunes columns into these scans for free
(SURVEY.md §4.2) — verified in tests via ``explain`` (PushedFilters/ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import caching
from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. All queries funnel through here.

    ``events.ts`` is parquet TIMESTAMP(NANOS); Spark has no nanosecond
    timestamp type, so it is read as int64 nanos
    (``spark.sql.legacy.parquet.nanosAsLong``) and floor-converted to a
    microsecond timestamp here. Any cross-engine-compared output derived from
    it must still be truncated to second precision (FIXTURES.md parity trap 1).

    The DataFrame HANDLE is pinned (``caching.pin``, form ``"plan"``):
    ``spark.read.parquet`` costs ~125 ms of schema inference + py4j per
    call (measured), and every query build pays it once per table touched
    — per bench rep, per gate row. Reusing the logical-plan handle is not
    result caching (execution still scans the parquet files every action);
    the pin's file stamp drops the handle the moment a fixture file is
    rewritten, so tests that regenerate data under the same path never
    see a stale file listing."""
    tune(spark)
    return caching.pin(
        "table", spark, sf_dir, lambda: _read(spark, sf_dir, name), "plan", (name,)
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) fixture variant
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # plain timestamp[us] fixture variant
            # Session tz is UTC (session.tune), so this cast is the identity
            # on the stored wall-clock instant — it only moves the type to
            # TIMESTAMP_LTZ so unix_micros/unix_timestamp/window() resolve.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _row_groups(path: str) -> int:
    """Decode parallelism of one parquet file = its row-group count (Spark
    can split a file into byte ranges, but a row group is decoded whole by
    the split holding its midpoint — a single-row-group file is ONE task no
    matter how many splits the scheduler makes). Footer-only read."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).num_row_groups
    except Exception:
        return 1_000_000  # unknown layout: assume splittable, never spread


def spread(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    *,
    table_name: str | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Scale-adaptive fan-out of a narrow source (guide §2.5 "one huge
    unsplittable file → repartition immediately after the read").

    Every fixture table is ONE parquet row group, so every scan stage —
    and all map-side work Catalyst fuses into it (hash folds, Generate
    expansions, partial aggregation) — executes on ONE task regardless of
    core count (measured: the bootstrap op's 600 k-key char-fold alone is
    1.8 s single-task at sf0.1). A deterministic hash repartition on a
    high-cardinality column moves that work onto every core.

    Scale-adaptive, not a local[32] constant: the target is the session's
    ``defaultParallelism`` (so the driver's lower-core bench runs spread
    proportionally less), and the exchange is inserted ONLY when the
    source's effective decode parallelism (row-group count when
    ``table_name``/``sf_dir`` name a fixture file, otherwise the
    DataFrame's own partition count) is below half the parallelism — a
    real cluster scan with healthy splits makes this a no-op, so no plan
    gains a shuffle at 100 TB."""
    par = spark.sparkContext.defaultParallelism
    if table_name is not None and sf_dir is not None:
        path = f"{sf_dir}/{table_name}.parquet"
        eff = caching.pin(
            "row_groups", spark, sf_dir, lambda: _row_groups(path), "plan", (table_name,)
        )
    else:
        eff = df.rdd.getNumPartitions()
    if 2 * eff >= par:
        return df
    return df.repartition(par, F.col(key))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() sees the catalog.

    The fact table's view is spread off the single-row-group scan (guide
    §2.5): every SQL-text query's lineitem-side map work — probe joins,
    partial aggregation — otherwise fuses into the ONE scan task of the
    fixture layout (measured: Q3 0.79 → 0.64 s, Q1-shape 1.7 → 0.85 s at
    sf0.1). Predicates still push through the repartition to the scan
    (PushedFilters pinned in tests/test_plans.py), results are identical
    (pure partitioning), and spread() no-ops on a splittable source, so a
    real multi-row-group warehouse table keeps the plain scan view."""
    for name in TABLES:
        df = table(spark, sf_dir, name)
        if name == "lineitem":
            df = spread(spark, df, "l_orderkey", table_name=name, sf_dir=sf_dir)
        df.createOrReplaceTempView(name)
