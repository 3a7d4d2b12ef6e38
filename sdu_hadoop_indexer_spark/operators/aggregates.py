"""Aggregation family (SURVEY.md §2.B-4).

Generalizes the reference's two aggregation layers — in-mapper hash partial
aggregation (App.scala:153-166) and the sort-based grouped reduce
(App.scala:186-219) — into Catalyst's HashAggregate partial→final pipeline,
plus the grouping-set/rollup/cube variants the reference never had.

Parity: every SUM over doubles goes through decimal(25,4) (see parity.py) so
the value is independent of partitioning/summation order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register_views, spread, table
from ..registry import jsonify_complex, register
from .parity import dsum, ravg, sql_dsum, sql_ravg


@register(
    "agg_hash_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_ravg('l_quantity', 'avg_qty')},
           {sql_ravg('l_extendedprice', 'avg_price')},
           {sql_ravg('l_discount', 'avg_disc')},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical multi-measure hash aggregation.

    The partial aggregation is spread off the scan (guide §2.5): on a
    single-row-group source the decimal partial agg fuses into the one
    scan task (measured 1.5 s of the row's 1.7 s at sf0.1 — the decode +
    filter alone is 0.22 s), and the exchange ships only the five narrow
    measure columns. dsum/ravg are exact decimal/integer sums, so the
    result is partitioning-independent; spread() no-ops on splittable
    sources, so a healthy cluster scan keeps the classic scan-fused plan."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    filtered = li.where(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    return (
        spread(spark, filtered, "l_extendedprice", table_name="lineitem", sf_dir=sf_dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            ravg("l_quantity", "avg_qty"),
            ravg("l_extendedprice", "avg_price"),
            ravg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@register("agg_approx_distinct")  # ROWS-ONLY: HLL sketches are engine-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — validated against exact ±5% in tests
    (tests/test_aggregates.py), never hash-compared across engines."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           to_json(list(l_linenumber ORDER BY l_linenumber))::VARCHAR AS lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation — the index-core primitive (R10/R12) on a
    relational column. sort_array, always (collect order is nondeterministic);
    emitted as canonical JSON for the driver hash gate."""
    li = table(spark, sf_dir, "lineitem")
    return jsonify_complex(
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("lines")
        )
    )


def _grand_total_on_empty(grouped: DataFrame, rows: DataFrame, **total) -> DataFrame:
    """Append the grand-total ``()`` row that ROLLUP, CUBE and GROUPING SETS
    owe on an empty input: SQL (DuckDB) returns it, while Spark's grouped
    aggregate returns no row at all. ``rows`` is the aggregated input and
    ``total`` gives each aggregate's value over zero rows (the other
    columns are NULL). The row is kept only when ``rows`` counts 0, so a
    non-empty input, whose ``()`` row Spark already emits, gains nothing."""
    empty = rows.agg(F.count("*").alias("_n")).where(F.col("_n") == 0)
    return grouped.unionByName(
        empty.select(
            *[
                F.lit(total.get(c)).cast(grouped.schema[c].dataType).alias(c)
                for c in grouped.columns
            ]
        )
    )


_GSETS_FROM = """
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""
_GSETS_SQL = f"""
SELECT r_name, n_name, count(*) AS n_cust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS sum_bal
{_GSETS_FROM}
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL over the registered views — same text as
    the oracle modulo dialect (identical here)."""
    register_views(spark, sf_dir)
    return _grand_total_on_empty(
        spark.sql(_GSETS_SQL), spark.sql(f"SELECT 1 {_GSETS_FROM}"), n_cust=0
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n, r = table(spark, sf_dir, "nation"), table(spark, sf_dir, "region")
    rows = n.join(r, n.n_regionkey == r.r_regionkey)
    return _grand_total_on_empty(
        rows.rollup("r_name", "n_name").agg(F.count("*").alias("n_nations")),
        rows,
        n_nations=0,
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return _grand_total_on_empty(
        li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt")),
        li,
        cnt=0,
    )


@register(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, {sql_dsum('o_totalprice', 'total_spend')}, count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) > 400000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice", "total_spend"), F.count("*").alias("n_orders"))
        .where(F.col("total_spend") > 400000)
    )


@register(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'F')},
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'O')}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: rotate l_linestatus values into columns of quantity sums.

    Pivot values are listed EXPLICITLY — at 100 TB the implicit form would
    first run a distinct scan over the pivot column to discover values; the
    explicit list keeps it a single-pass aggregation. Oracle uses the
    portable CASE-WHEN formulation (identical semantics)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,4)")).cast("double"))
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS measure, o_totalprice AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val
    FROM orders
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide → long over two measures (the inverse op; Spark's
    native `unpivot` plans a single Expand node — one pass, no union of
    scans like the naive SQL)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double")
    ).unpivot("o_orderkey", ["o_totalprice", "o_custkey"], "measure", "val")


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) + 0.0 AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) + 0.0 AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) + 0.0 AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (continuous interpolation) per group: Spark
    `percentile` ≡ DuckDB `quantile_cont`. The exact form needs a per-group
    sort — fine for bounded group counts; an unbounded-cardinality rollup at
    100 TB would switch to `approx_percentile` (t-digest sketch, mergeable,
    single-pass), which is engine-specific and would be declared ROWS-ONLY
    like `agg_approx_distinct`."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        *[
            (F.round(F.percentile("o_totalprice", F.lit(p)), 4) + F.lit(0.0))
            .alias(name)
            for p, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
        ]
    )


# Shared final-stage formulas for agg_stats_moments: both engines evaluate
# the IDENTICAL expression text over identical exact integer sums (cents),
# so the pre-round doubles are bit-equal (IEEE ops on equal inputs) and the
# ROUNDED oracle cannot sit on a boundary the other engine resolves
# differently — the events_anomaly_zscore pattern (analytics.py), which the
# round-2 gate proved stable where the engine-native one-pass
# stddev/covar/corr aggregates were not.
#   n, sq..sdt are DOUBLE casts of: count, Σq, Σq², Σp, Σp², Σqp, Σd, Σt,
#   Σdt with q,p,d,t = value·100 rounded to BIGINT (all fixtures carry ≤2dp).
# Every formula ends in `+ 0.0`: Spark's round() goes through BigDecimal
# (no signed zero) while DuckDB's stays in IEEE doubles, so a tiny negative
# value that rounds to zero yields +0.0 in Spark but -0.0 in DuckDB and the
# driver's value-hash distinguishes the two (round-3 driver red on the `N`
# group's cov_disc_tax). IEEE addition maps -0.0 + 0.0 → +0.0, and since the
# same text is evaluated by BOTH engines the outputs stay bit-identical.
_SM_FORMULAS = {
    "sd_qty": "round(sqrt((sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / n)"
    " / (n - 1)), 4) + 0.0",
    "var_qty": "round((sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / n) / (n - 1), 4)"
    " + 0.0",
    "cov_qty_price": "round((sqp / 1e4 - (sq / 1e2) * (sp / 1e2) / n)"
    " / (n - 1), 2) + 0.0",
    "corr_qty_price": "round((sqp / 1e4 - (sq / 1e2) * (sp / 1e2) / n)"
    " / sqrt((sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / n)"
    " * (spp / 1e4 - (sp / 1e2) * (sp / 1e2) / n)), 4) + 0.0",
    "cov_disc_tax": "round((sdt / 1e4 - (sd / 1e2) * (st / 1e2) / n) / n, 6)"
    " + 0.0",
}


@register(
    "agg_stats_moments",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    ), s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(q) AS DOUBLE) AS sq,
               CAST(sum(q * q) AS DOUBLE) AS sqq,
               CAST(sum(p) AS DOUBLE) AS sp,
               CAST(sum(p * p) AS DOUBLE) AS spp,
               CAST(sum(q * p) AS DOUBLE) AS sqp,
               CAST(sum(d) AS DOUBLE) AS sd,
               CAST(sum(t) AS DOUBLE) AS st,
               CAST(sum(d * t) AS DOUBLE) AS sdt
        FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           {_SM_FORMULAS["sd_qty"]} AS sd_qty,
           {_SM_FORMULAS["var_qty"]} AS var_qty,
           {_SM_FORMULAS["cov_qty_price"]} AS cov_qty_price,
           {_SM_FORMULAS["corr_qty_price"]} AS corr_qty_price,
           {_SM_FORMULAS["cov_disc_tax"]} AS cov_disc_tax
    FROM s
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates — stddev/variance/covariance/
    correlation per group, the profiling layer of a data-quality pipeline.

    NOT the engine-native one-pass `stddev_samp`/`covar_samp`/`corr`: those
    streaming-moment implementations differ from DuckDB's in the last float
    bits, and round-2's gate caught a value on a .5-ulp rounding boundary
    (hash mismatch). Instead both engines compute EXACT integer sums over
    cent-scaled values (every fixture column carries ≤2 decimals, so
    `round(x·100)` is lossless) and then evaluate the same `_SM_FORMULAS`
    expression text — identical IEEE inputs + identical expression DAG ⇒
    identical doubles ⇒ stable ROUNDED oracle.

    Still single-pass and map-side-partial: one projection, one
    HashAggregate pair carrying nine decimal sums — the exact partial-sum
    shape scales the same as the moment sketches at 100 TB (sums of
    decimal(38,0) never overflow: |Σp²| ≤ 1e14·rows)."""
    li = table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("t"),
    )
    dec = "decimal(38,0)"
    sums = cents.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("q").cast(dec)).cast("double").alias("sq"),
        F.sum((F.col("q") * F.col("q")).cast(dec)).cast("double").alias("sqq"),
        F.sum(F.col("p").cast(dec)).cast("double").alias("sp"),
        F.sum((F.col("p") * F.col("p")).cast(dec)).cast("double").alias("spp"),
        F.sum((F.col("q") * F.col("p")).cast(dec)).cast("double").alias("sqp"),
        F.sum(F.col("d").cast(dec)).cast("double").alias("sd"),
        F.sum(F.col("t").cast(dec)).cast("double").alias("st"),
        F.sum((F.col("d") * F.col("t")).cast(dec)).cast("double").alias("sdt"),
    )
    return sums.select(
        "l_returnflag",
        *[F.expr(sql).alias(name) for name, sql in _SM_FORMULAS.items()],
    )


@register(
    "agg_approx_topk",
    oracle="""
    SELECT l_returnflag AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY cnt DESC, item
    LIMIT 3
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_top_k` frequency sketch (Spark 4 built-in, the JVM sibling of
    `text_countmin_heavyhitters`): heavy hitters in one pass with a
    fixed-size sketch that merges map-side — no full GROUP BY materialized.
    Sketch capacity (10k) ≫ the column's cardinality (3), so the estimates
    are provably exact and the exact-count oracle is a fair EXACT gate —
    precisely the claim a sketch must satisfy in its exact regime."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(F.expr("approx_top_k(l_returnflag, 3)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
        .orderBy(F.desc("cnt"), "item")
    )


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 500_000.0, 10


@register(
    "agg_histogram_profile",
    oracle=f"""
    WITH b AS (
        SELECT CAST(least(floor((o_totalprice - {HIST_LO})
                          / (({HIST_HI} - {HIST_LO}) / {HIST_BUCKETS})),
                    {HIST_BUCKETS - 1}) AS INTEGER) AS bucket
        FROM orders
    )
    SELECT bucket,
           round({HIST_LO} + bucket * (({HIST_HI} - {HIST_LO}) / {HIST_BUCKETS}), 1)
               + 0.0 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram profile of order value — the column-profiling
    aggregation a data-quality monitor emits per batch. Bucketing is an
    identical floor expression on both engines (DuckDB 1.0 lacks
    width_bucket), the clamp keeps the top edge in the last bucket, and the
    whole thing is one map-side-combined hash agg with a buckets-sized
    output."""
    w = (HIST_HI - HIST_LO) / HIST_BUCKETS
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor((F.col("o_totalprice") - HIST_LO) / w),
        F.lit(HIST_BUCKETS - 1),
    ).cast("int")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.round(F.lit(HIST_LO) + F.col("bucket") * w, 1) + F.lit(0.0))
            .alias("bucket_lo"),
            "n",
        )
    )


@register("agg_hll_sketch_merge")  # ROWS-ONLY: DataSketches binary sketches are engine-specific
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+): partial
    sketches built per (returnflag, linestatus) group are UNIONED into
    per-returnflag estimates — proving the re-aggregation property that
    makes sketch columns storable in a 100 TB rollup cube (build once at
    ingest, merge at any coarser grain later; no re-scan of raw data).
    ROWS-ONLY: the estimate is engine-specific; tests/test_analytics.py
    bounds its error against the exact distinct count.
    """
    li = table(spark, sf_dir, "lineitem")
    partials = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.hll_union_agg("sk").alias("sk"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_distinct")
    )
    return (
        merged.select(
            "l_returnflag", F.hll_sketch_estimate("sk").alias("est_distinct")
        )
        .join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
    )


@register(
    "agg_mode_median",
    oracle="""
    WITH cnt AS (
        SELECT l_returnflag, l_quantity, count(*) AS c
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    m AS (
        SELECT l_returnflag, l_quantity AS mode_qty,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY c DESC, l_quantity) AS rn
        FROM cnt
    ),
    med AS (
        SELECT l_returnflag,
               round(median(l_quantity), 4) + 0.0 AS median_qty,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT med.l_returnflag, median_qty, n_rows, mode_qty
    FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND m.rn = 1
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + exact median per group.

    Both engines leave mode() tie-breaking unspecified, so the mode is
    computed as an explicit (count DESC, value ASC) rank over grouped
    counts — deterministic on BOTH engines, hence EXACT-oracle-able.
    Scale shape: the rank runs over the (group, value) COUNT table (tiny,
    one row per distinct value), not over raw rows; exact median is the
    one genuinely rank-based aggregate here (Spark sorts within groups) —
    at 100 TB swap `median` for `approx_percentile(.., 0.5)` and the rest
    of the plan is unchanged.
    """
    li = table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), "l_quantity")
    mode = (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    med = li.groupBy("l_returnflag").agg(
        (F.round(F.median("l_quantity"), 4) + F.lit(0.0)).alias("median_qty"),
        F.count("*").alias("n_rows"),
    )
    return med.join(mode, "l_returnflag")


@register(
    "agg_bitwise",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and / bit_or / bit_xor) — bitmap-style
    rollups; all three are associative+commutative so Spark plans them as
    ordinary partial→final hash aggregates (map-side combine at scale)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
        F.count("*").alias("n"),
    )


@register(
    "agg_filter_clause",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4)))
                FILTER (WHERE l_tax = 0) AS DOUBLE) AS rev_notax,
           count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25)
               AS bulk_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER (WHERE ...) aggregates — per-aggregate predicates in ONE
    pass over the fact table (vs one scan per predicate). Spark rewrites
    each filtered agg to an internal `agg(if(pred, x, null))`, so the plan
    stays a single partial→final hash aggregate."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_all"),
        F.expr("count(*) FILTER (WHERE l_discount > 0.05)").alias("n_disc"),
        F.expr(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4)))"
            " FILTER (WHERE l_tax = 0) AS DOUBLE)"
        ).alias("rev_notax"),
        F.expr(
            "count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25)"
        ).alias("bulk_suppliers"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via mergeable bitmaps (Spark 3.5 bitmap_* family)
    — the scale path between count_distinct (exact, but one shuffle of every
    distinct value) and HLL (mergeable, but approximate).

    Keys bucket into 32k-bit bitmaps (`bitmap_bucket_number` /
    `bitmap_bit_position`), each (group, bucket) builds its bitmap with a
    map-side-combined `bitmap_construct_agg`, and the per-group total is
    `sum(bitmap_count(...))`. Like the HLL sketch column this is
    re-aggregatable (`bitmap_or_agg` merges partials across ingest batches)
    but stays EXACT — the pattern for distinct-user cubes at 100 TB. The
    shuffle carries one bitmap per (group, 32k-key bucket), not one row per
    distinct key.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias(
                "bm"
            )
        )
        .groupBy("l_returnflag")
        .agg(F.expr("sum(bitmap_count(bm))").cast("bigint").alias("n_distinct"))
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ANSI LISTAGG ... WITHIN GROUP, Spark 4).

    The explicit ORDER BY inside the aggregate is what makes a string agg
    deterministic (and therefore oracle-able) — an unordered listagg is
    partition-order-dependent. Scalar output, so no to_json wrapping
    needed. Scale: per-group result strings must stay driver/row-size
    sane — this is a dimension-table op, not a fact-table one.
    """
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
            "nations"
        ),
        F.count("*").alias("n"),
    )


@register("agg_approx_percentile_sketch")  # ROWS-ONLY: sketch-merge order engine-local
def agg_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the mergeable quantile sketch
    (`approx_percentile`, Greenwald-Khanna): the 100 TB path for "p50/p95
    latency per group" dashboards where the exact `agg_percentiles` sort
    is unaffordable — partial sketches merge map-side like any partial
    agg, memory O(1/ε) per group regardless of row count.

    ROWS-ONLY: the sketch's partition-merge order is engine-local;
    tests/test_round2_ops.py bounds each estimate against the exact
    percentile instead (rank error ≤ ε·n with ε = 1/accuracy).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)"
        )[0].alias("p50"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)"
        )[1].alias("p95"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)"
        )[2].alias("p99"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: portable HLL, OLS regression, weighted median.
# ---------------------------------------------------------------------------

# Portable HyperLogLog constants (Flajolet et al. 2007): m = 256 registers
# (p = 8), bias constant alpha_m for m >= 128. The alpha*m^2 product and the
# 256-entry linear-counting table m*ln(m/V) are computed HERE in Python and
# embedded as double literals in BOTH engines' expression text, so no
# engine-side pow()/ln() (whose last-ulp behavior is libm-specific) ever
# runs — every remaining op (int shift, dyadic 1/2^M sum, one division) is
# IEEE-correctly-rounded and therefore bit-identical across engines.
import math as _math

_HLL_M = 256
_HLL_AM2 = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M
_HLL_LC = [_HLL_M * _math.log(_HLL_M / v) for v in range(1, _HLL_M + 1)]
# DuckDB types a bare literal like 1419.56 as DECIMAL, and a DECIMAL → DOUBLE
# cast can land one ulp off the Python float; a string cast parses the
# shortest round-trip repr to exactly that double.
_HLL_LC_SQL = "[" + ", ".join(f"'{x!r}'::DOUBLE" for x in _HLL_LC) + "]"


@register(
    "agg_hll_portable",
    oracle=f"""
    WITH h AS (
        SELECT o_orderstatus,
               (list_reduce(list_prepend(7::BIGINT, list_transform(string_split(CAST(o_custkey AS VARCHAR), ''), c -> ascii(c)::BIGINT)), (h, c) -> (h * 131 + c) % 1000000007)) % {_HLL_M} AS reg,
               (list_reduce(list_prepend(17::BIGINT, list_transform(string_split(CAST(o_custkey AS VARCHAR), ''), c -> ascii(c)::BIGINT)), (h, c) -> (h * 137 + c) % 1000000007)) AS v
        FROM orders
    ), r AS (
        SELECT o_orderstatus, reg,
               max(CASE WHEN v = 0 THEN 31
                   ELSE length(regexp_extract(bin(v), '0*$', 0)) + 1 END)
               AS m
        FROM h GROUP BY o_orderstatus, reg
    ), s AS (
        SELECT o_orderstatus,
               sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << m)) AS s_present,
               count(*) AS present
        FROM r GROUP BY o_orderstatus
    ), e AS (
        SELECT o_orderstatus,
               CAST({_HLL_AM2!r} AS DOUBLE)
                 / (s_present + CAST({_HLL_M} - present AS DOUBLE)) AS e_raw,
               {_HLL_M} - present AS v_zero
        FROM s
    ), x AS (
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact
        FROM orders GROUP BY o_orderstatus
    )
    SELECT x.o_orderstatus, x.n_exact,
           CASE WHEN e.e_raw <= {2.5 * _HLL_M!r} AND e.v_zero > 0
                THEN ({_HLL_LC_SQL})[e.v_zero]
                ELSE e.e_raw END AS hll_est
    FROM x JOIN e USING (o_orderstatus)
    """,
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count sketch, EXACT-oracled.

    The engine-native sketch ops (`agg_approx_distinct`,
    `agg_hll_sketch_merge`) are irreducibly ROWS-ONLY at the gate — their
    xxhash64/Datasketches internals have no cross-engine twin. This
    operator shows the sketch itself is plain relational algebra over a
    portable hash family, so the GATE can verify it bit-for-bit:

    - register index = xh1(key) mod 256; rank = trailing-zero count of
      xh2(key) + 1 (bin()+regexp, identical in both engines);
    - per (group, register) `max(rank)` — a map-side-combinable agg, the
      same mergeability that makes HLL the 100 TB distinct-count path
      (registers re-aggregate across ingest batches exactly like
      `bitmap_or_agg` in `agg_bitmap_distinct`);
    - estimate = alpha*m^2 / sum(2^-M_j): the 2^-M_j terms are exact
      dyadics spanning < 53 bits, so their SUM is exact in any order —
      partitioning cannot perturb it; the final division is one
      correctly-rounded IEEE op. Linear-counting small-range correction
      comes from a precomputed literal table (no engine ln()).

    Output: exact distinct (for reference) next to the sketch estimate —
    at sf0.01 the estimate lands within ~7% (1.04/sqrt(256)), asserted in
    tests/test_round4_ops.py.
    """
    from ..xhash import xh1, xh2

    o = table(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")
    h = o.select(
        "o_orderstatus",
        (xh1(key) % _HLL_M).alias("reg"),
        xh2(key).alias("v"),
    )
    r = h.groupBy("o_orderstatus", "reg").agg(
        F.expr(
            "max(CASE WHEN v = 0 THEN 31"
            " ELSE length(regexp_extract(bin(v), '0*$', 0)) + 1 END)"
        ).alias("m")
    )
    s = r.groupBy("o_orderstatus").agg(
        F.expr(
            "sum(CAST(1.0 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), m))"
        ).alias("s_present"),
        F.count("*").alias("present"),
    )
    e = s.select(
        "o_orderstatus",
        (
            F.lit(_HLL_AM2)
            / (F.col("s_present") + (F.lit(_HLL_M) - F.col("present")).cast("double"))
        ).alias("e_raw"),
        (F.lit(_HLL_M) - F.col("present")).alias("v_zero"),
    )
    lc = F.array(*[F.lit(x) for x in _HLL_LC])
    est = e.select(
        "o_orderstatus",
        F.when(
            (F.col("e_raw") <= F.lit(2.5 * _HLL_M)) & (F.col("v_zero") > 0),
            F.element_at(lc, F.col("v_zero").cast("int")),
        )
        .otherwise(F.col("e_raw"))
        .alias("hll_est"),
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return exact.join(F.broadcast(est), "o_orderstatus").select(
        "o_orderstatus", "n_exact", "hll_est"
    )


# Shared OLS closed-form text (both engines): every input is an exact int64
# sum over cent-scaled values, so num/den are exact integers < 2^53 at gate
# SFs; each appears in EXACTLY ONE correctly-rounded IEEE division (and r2
# in one further multiply) with identical association on both sides, so the
# raw doubles are bit-identical WITHOUT any round() — the whole rounding
# half-boundary class (round-4 ts_ohlc lesson) is sidestepped by never
# rounding. Division-by-zero (a constant regressor) guards to NULL.
_LR_FORMULAS = {
    "slope": "CASE WHEN den_x = 0 THEN NULL"
    " ELSE CAST(num_xy AS DOUBLE) / CAST(den_x AS DOUBLE) END",
    "intercept": "CASE WHEN den_x = 0 THEN NULL"
    " ELSE CAST(st * sdd - sd * sdt AS DOUBLE) / CAST(den_x AS DOUBLE)"
    " / 100.0 END",
    "r2": "CASE WHEN den_x = 0 OR den_y = 0 THEN NULL"
    " ELSE (CAST(num_xy AS DOUBLE) / CAST(den_x AS DOUBLE))"
    " * (CAST(num_xy AS DOUBLE) / CAST(den_y AS DOUBLE)) END",
}


@register(
    "agg_linreg",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    ), s AS (
        SELECT l_returnflag, count(*) AS n,
               sum(d) AS sd, sum(t) AS st, sum(d * t) AS sdt,
               sum(d * d) AS sdd, sum(t * t) AS stt
        FROM c GROUP BY l_returnflag
    ), m AS (
        SELECT *,
               n * sdt - sd * st AS num_xy,
               n * sdd - sd * sd AS den_x,
               n * stt - st * st AS den_y
        FROM s
    )
    SELECT l_returnflag, n,
           {_LR_FORMULAS["slope"]} AS slope,
           {_LR_FORMULAS["intercept"]} AS intercept,
           {_LR_FORMULAS["r2"]} AS r2
    FROM m
    """,
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS simple linear regression (slope / intercept / R²) —
    the `REGR_SLOPE`/`REGR_R2` family, computed from exact integer sums.

    Engine-native `regr_*` are one-pass streaming-moment kernels whose
    float accumulation is partition-order-dependent — the exact failure
    mode that made `agg_stats_moments` driver-red for two rounds. Here
    both engines aggregate cent-scaled int64 sums (exact, order-free,
    still a single map-side-combinable HashAggregate pair) and evaluate
    the SAME closed-form `_LR_FORMULAS` text: raw IEEE doubles out, no
    round(), bit-identical.

    Scale: the shuffle carries 6 int64s per group — identical shape to
    any `avg()`. At 100 TB the cent sums outgrow int64 (~1e18); the
    production variant flips the sums to decimal(38,0) exactly as
    `agg_stats_moments` does, leaving the formula text unchanged.
    """
    li = table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("t"),
    )
    s = c.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("sd"),
        F.sum("t").alias("st"),
        F.sum(F.col("d") * F.col("t")).alias("sdt"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    m = s.select(
        "*",
        F.expr("n * sdt - sd * st").alias("num_xy"),
        F.expr("n * sdd - sd * sd").alias("den_x"),
        F.expr("n * stt - st * st").alias("den_y"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.expr(_LR_FORMULAS["slope"]).alias("slope"),
        F.expr(_LR_FORMULAS["intercept"]).alias("intercept"),
        F.expr(_LR_FORMULAS["r2"]).alias("r2"),
    )


# Weighted-median bucket width: price cents DIV 1e5 = $1000 buckets, ~100
# buckets over TPC-H's extendedprice domain.
_WM_BUCKET = 100_000


@register(
    "agg_weighted_median",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_quantity * 100) AS BIGINT) AS w
        FROM lineitem
    ), b AS (
        SELECT l_returnflag, price_c // {_WM_BUCKET} AS bkt, sum(w) AS wsum
        FROM c GROUP BY l_returnflag, price_c // {_WM_BUCKET}
    ), t AS (
        SELECT l_returnflag, sum(wsum) AS total FROM b GROUP BY l_returnflag
    ), cb AS (
        SELECT b.l_returnflag, b.bkt, b.wsum, t.total,
               sum(b.wsum) OVER (
                   PARTITION BY b.l_returnflag ORDER BY b.bkt
               ) AS cum
        FROM b JOIN t USING (l_returnflag)
    ), tb AS (
        SELECT l_returnflag, min(bkt) AS tbkt FROM cb
        WHERE 2 * cum >= total GROUP BY l_returnflag
    ), pr AS (
        SELECT cb.l_returnflag, cb.bkt, cb.cum - cb.wsum AS prior, cb.total
        FROM cb JOIN tb
          ON cb.l_returnflag = tb.l_returnflag AND cb.bkt = tb.tbkt
    ), f AS (
        SELECT c.l_returnflag, c.price_c, pr.prior, pr.total,
               sum(c.w) OVER (
                   PARTITION BY c.l_returnflag ORDER BY c.price_c
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum2
        FROM c JOIN pr
          ON c.l_returnflag = pr.l_returnflag
         AND c.price_c // {_WM_BUCKET} = pr.bkt
    ), n AS (
        SELECT l_returnflag, count(*) AS n_rows FROM c GROUP BY l_returnflag
    )
    SELECT f.l_returnflag, n.n_rows,
           -- DuckDB types sum(BIGINT) as HUGEINT (int128); uncast it reaches
           -- the result surface as int128 where Spark emits int64 and the
           -- driver's hasher sees a type divergence even though every VALUE
           -- is bit-identical (round-4 driver red). Cast back to BIGINT.
           CAST(max(f.total) AS BIGINT) AS total_w_c,
           CAST(min(f.price_c) AS DOUBLE) / 100.0 AS wmedian
    FROM f JOIN n USING (l_returnflag)
    WHERE 2 * (f.prior + f.cum2) >= f.total
    GROUP BY f.l_returnflag, n.n_rows
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity) per group, built
    scale-first: bucket-then-refine instead of one global sorted window.

    A naive weighted median windows the ENTIRE fact table in |groups|
    partitions — the "No Partition Defined"-adjacent shape the plan pins
    forbid. Here:
      1. rows hash-aggregate into ~100 weight buckets per group ($1000
         price bands) — corpus-sized input, calendar-sized output;
      2. a window over that TINY bucket relation locates the bucket
         holding the median mass (prefix sums over ≤100 rows/group);
      3. only rows INSIDE the located bucket (≈1/100th of the group)
         re-enter a RANGE-framed cumulative window; the median is the
         first price where cumulative weight crosses half the total.
    The RANGE frame makes ties collapse to peer totals, so the result is
    independent of partition/sort order on both engines — EXACT oracle.
    Same decomposition TDigest/GK avoid by approximating; this is the
    exact path when the answer must be reproducible to the cent.

    Plan economy (pinned in tests/test_plans.py): row counts ride the
    bucket agg and the target bucket is selected with `min_by` rather
    than a cb⋈cb self-join, so the expensive fact aggregation subtree is
    built ONCE — exactly 2 fact scans (bucket build + refine probe) and
    2 windows in the whole plan.
    """
    li = table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("w"),
    )
    b = c.groupBy(
        "l_returnflag", (F.col("price_c") / _WM_BUCKET).cast("long").alias("bkt")
    ).agg(F.sum("w").alias("wsum"), F.count("*").alias("cnt"))
    wb = Window.partitionBy("l_returnflag").orderBy("bkt")
    wt = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # total/n_rows as full-partition window sums over the TINY bucket
    # relation: same partition+order spec as `cum`, so Catalyst fuses all
    # three into ONE WindowExec — no second derivation of the fact agg
    # (a groupBy+join formulation would rebuild the bucket subtree and
    # cost an extra fact scan).
    cb = (
        b.withColumn("cum", F.sum("wsum").over(wb))
        .withColumn("total", F.sum("wsum").over(wt))
        .withColumn("n_rows", F.sum("cnt").over(wt))
        .withColumn("prior", F.col("cum") - F.col("wsum"))
    )
    pr = (
        cb.where(2 * F.col("cum") >= F.col("total"))
        .groupBy(F.col("l_returnflag").alias("rf"))
        .agg(
            F.min_by(
                F.struct("bkt", "prior", "total", "n_rows"), F.col("bkt")
            ).alias("s")
        )
        .select("rf", "s.*")
    )
    wf = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = c.join(
        F.broadcast(pr),
        (c.l_returnflag == F.col("rf"))
        & ((F.col("price_c") / _WM_BUCKET).cast("long") == F.col("bkt")),
    ).withColumn("cum2", F.sum("w").over(wf))
    return (
        f.where(2 * (F.col("prior") + F.col("cum2")) >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("total").alias("total_w_c"),
            (F.min("price_c").cast("double") / 100.0).alias("wmedian"),
        )
        .select("l_returnflag", "n_rows", "total_w_c", "wmedian")
    )


# Skew/kurtosis shared arithmetic: the power sums s1..s4 are EXACT int64
# (d <= 10 cents keeps sum(d^4) far under 2^53 at gate SFs), and EVERY
# subsequent operation — the central-sum combinations AND the
# standardization — runs in doubles through the IDENTICAL text below on
# both engines. Each step is a correctly-rounded IEEE op on bit-equal
# inputs, so the outputs are bit-identical with no round() anywhere.
# (A first draft combined the central sums in wide integers — Spark
# decimal(38,0) vs DuckDB HUGEINT — but HUGEINT→DOUBLE conversion is not
# correctly rounded in the same way as BigDecimal's, costing a 1-ulp gate
# miss at |M4| ~ 1e21; keeping everything past the int64 sums in doubles
# removes the engine-specific conversion entirely.) Degenerate (zero
# variance) groups guard to NULL.
_SK_PRE = {
    "nd": "CAST(n AS DOUBLE)",
    "m2d": "CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)",
    "m3d": "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)"
    " - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)",
    "m4d": "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(s4 AS DOUBLE)"
    " - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s3 AS DOUBLE)"
    " + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s2 AS DOUBLE)"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE)",
}
_SK_FORMULAS = {
    "skewness": "CASE WHEN m2d <= 0 THEN NULL ELSE"
    " (m3d / ((nd * nd) * nd))"
    " / ((m2d / (nd * nd)) * sqrt(m2d / (nd * nd))) END",
    "kurtosis_excess": "CASE WHEN m2d <= 0 THEN NULL ELSE"
    " (m4d / ((nd * nd) * (nd * nd)))"
    " / ((m2d / (nd * nd)) * (m2d / (nd * nd))) - 3.0 END",
}


@register(
    "agg_skew_kurtosis",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag, CAST(round(l_discount * 100) AS BIGINT) AS d
        FROM lineitem
    ), s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(d) AS s1,
               sum(d * d) AS s2,
               sum(d * d * d) AS s3,
               sum(d * d * d * d) AS s4
        FROM c GROUP BY l_returnflag
    ), m AS (
        SELECT l_returnflag,
               {_SK_PRE["nd"]} AS nd,
               {_SK_PRE["m2d"]} AS m2d,
               {_SK_PRE["m3d"]} AS m3d,
               {_SK_PRE["m4d"]} AS m4d
        FROM s
    )
    SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
           {_SK_FORMULAS["skewness"]} AS skewness,
           {_SK_FORMULAS["kurtosis_excess"]} AS kurtosis_excess
    FROM m
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis — the 3rd/4th standardized
    moments completing the profile family (`agg_stats_moments` stops at
    2nd). Engine-native `skewness()`/`kurtosis()` are streaming kernels
    with partition-order float accumulation (the proven gate failure
    mode); here the four power sums are EXACT int64 (one hash agg,
    map-side combinable — the same shuffle shape as avg()) and every
    operation after them evaluates the SAME `_SK_PRE`/`_SK_FORMULAS`
    text in doubles on both engines: correctly-rounded IEEE ops on
    bit-equal inputs, bit-identical raw outputs, no round().
    """
    li = table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    s = c.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.expr("d * d")).alias("s2"),
        F.sum(F.expr("d * d * d")).alias("s3"),
        F.sum(F.expr("d * d * d * d")).alias("s4"),
    )
    m = s.select(
        "l_returnflag",
        F.expr(_SK_PRE["nd"]).alias("nd"),
        F.expr(_SK_PRE["m2d"]).alias("m2d"),
        F.expr(_SK_PRE["m3d"]).alias("m3d"),
        F.expr(_SK_PRE["m4d"]).alias("m4d"),
    )
    return m.select(
        "l_returnflag",
        F.col("nd").cast("long").alias("n"),
        F.expr(_SK_FORMULAS["skewness"]).alias("skewness"),
        F.expr(_SK_FORMULAS["kurtosis_excess"]).alias("kurtosis_excess"),
    )


RSV_K = 5  # sample size per group
RSV_SALT = "rsv-v1|"
_RSV_SHARDS = 64  # phase-1 shard count for the two-phase top-K


@register(
    "agg_reservoir_hash_sample",
    oracle=f"""
    WITH h AS (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               md5('{RSV_SALT}' || CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR)) AS hk
        FROM lineitem
    ),
    r AS (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY hk, l_orderkey, l_linenumber
               ) AS rk
        FROM h
    )
    SELECT l_returnflag, CAST(rk AS INTEGER) AS rk, l_orderkey, l_linenumber
    FROM r WHERE rk <= {RSV_K}
    """,
)
def agg_reservoir_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group K-sample — reservoir sampling, derandomized:
    keep each group's K rows with the smallest salted md5 of the row key.
    Because the "random" order is a pure function of (salt, key), the
    sample is uniform-hash-random yet reproducible across runs, engines
    and re-shards — the property `llm_split_holdout`/`llm_sample_stratified`
    give fractions, applied to FIXED-SIZE samples (eval subsets, spot-check
    batches, per-segment debugging rows).

    Scale shape: a naive per-group ranking window puts each group in ONE
    partition (3 groups here — the worst case). Two-phase instead: phase 1
    ranks within ({_RSV_SHARDS} data-derived shards × group) — parallel
    windows over corpus-sized input — keeping K per shard; phase 2 ranks
    the ≤ {_RSV_SHARDS}·K survivors per group. min-of-mins = global min,
    so the result is identical to the one-window oracle formulation at any
    shard count; the final window touches a bounded relation regardless of
    corpus size (the same salted two-phase shape as `topk_per_group`)."""
    li = table(spark, sf_dir, "lineitem")
    h = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.md5(
            F.concat(
                F.lit(RSV_SALT),
                F.col("l_orderkey").cast("string"),
                F.lit("|"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("hk"),
        (F.col("l_orderkey") % _RSV_SHARDS).alias("shard"),
    )
    w1 = Window.partitionBy("l_returnflag", "shard").orderBy(
        "hk", "l_orderkey", "l_linenumber"
    )
    cand = h.withColumn("rk1", F.row_number().over(w1)).where(
        F.col("rk1") <= RSV_K
    )
    w2 = Window.partitionBy("l_returnflag").orderBy(
        "hk", "l_orderkey", "l_linenumber"
    )
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= RSV_K)
        .select("l_returnflag", "rk", "l_orderkey", "l_linenumber")
    )


# log10(1 + 1/d) to 6 dp, embedded as identical literals in both engines
_BENFORD_EXPECTED = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def _benford_case_sql() -> str:
    whens = " ".join(
        f"WHEN d = {k} THEN {v}" for k, v in _BENFORD_EXPECTED.items()
    )
    return f"CASE {whens} END"


@register(
    "agg_benford_profile",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS d
        FROM lineitem
        WHERE l_extendedprice > 0
    ),
    cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt)
    SELECT d AS digit, n,
           {{share}} AS share,
           CAST({_benford_case_sql()} AS DOUBLE) AS expected,
           round({{share}} - CAST({_benford_case_sql()} AS DOUBLE), 4) + 0.0
               AS deviation
    FROM cnt CROSS JOIN t
    """.format(
        share="CAST(floor(CAST((n) * 20000 + (total) AS DOUBLE)"
        " / (2 * (total))) AS DOUBLE) / 10000.0"
    ),
)
def agg_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit profile of `l_extendedprice` —
    the classic anomaly/fraud screen over a monetary column: organic
    multiplicative amounts follow P(d) = log10(1 + 1/d); a flat or spiked
    profile flags fabricated or capped values. Emits per-digit count,
    observed share, the Benford expectation, and the deviation.

    EXACT: first digit comes from the decimal STRING of round(value·100)
    (both engines round half-up on the same double product — the cents
    lattice), counts are integers, shares use the boundary-proof
    quotient, and the expectations are the same 6-dp literals embedded in
    both engines. Scale shape: one map-side digit projection → a 9-row
    hash agg + 1-row totals broadcast — corpus-linear, then constant."""
    from .parity import ratio

    li = table(spark, sf_dir, "lineitem")
    digits = li.where(F.col("l_extendedprice") > 0).select(
        F.substring(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    cnt = digits.groupBy("d").agg(F.count("*").alias("n"))
    t = cnt.agg(F.sum("n").cast("long").alias("total"))
    expected = F.lit(None).cast("double")
    for k, v in _BENFORD_EXPECTED.items():
        expected = F.when(F.col("d") == k, F.lit(v)).otherwise(expected)
    share = ratio(F.col("n"), F.col("total"))
    return cnt.crossJoin(F.broadcast(t)).select(
        F.col("d").alias("digit"),
        "n",
        share.alias("share"),
        expected.alias("expected"),
        (F.round(share - expected, 4) + F.lit(0.0)).alias("deviation"),
    )
