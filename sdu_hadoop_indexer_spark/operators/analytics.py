"""Event/behavioral analytics operators (SURVEY.md §2.B-12).

The reference's domain is batch log analysis over key-value records
(App.scala:150-169 map pipeline); this module generalizes that to the event
analytics a log-processing engine is actually asked for: sessionization,
ordered funnels, cohort retention, OHLC resampling, grouped correlation, and
blocked fuzzy entity resolution.

Scale notes (100 TB events):
- `win_sessionize` / `events_funnel` sort-once per user partition — every
  window spec shares one `PARTITION BY user_id` Exchange, and the follow-up
  per-(user, session) aggregation re-uses the user hash partitioning
  (partitioning on a subset of the grouping keys still co-locates groups).
- `events_retention_cohort` shuffles on (user, week) then user — both keyed
  by user, no broadcast of per-user state anywhere.
- `dedup_fuzzy_names` is a BLOCKED similarity join: equi-join on the block
  key (shuffle-partitionable, plan-pinned non-cartesian in
  tests/test_plans.py), Levenshtein evaluated only within blocks — the
  classic entity-resolution shape that survives a 1000-executor fan-out.
- `ts_ohlc` tie-breaks first/last by a zero-padded (epoch_us, event_id)
  string because DuckDB's arg_min/arg_max cannot order by a struct — the
  string order equals the numeric order, so both engines pick the same row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..registry import register
from .parity import (
    SQL_EVENTS_US,
    ratio,
    ravg,
    sql_epoch_s,
    sql_ratio,
    sql_ravg,
    sql_sratio,
    sratio,
)

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min inactivity closes a session


@register(
    "win_sessionize",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    f AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           {sql_epoch_s('min(ts)')} AS sess_start_s,
           {sql_epoch_s('max(ts)')} AS sess_end_s,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM s
    GROUP BY user_id, session_id
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a 30-min inactivity gap starts a new session.

    Two window passes (lag → running sum) over the same
    (user_id | ts, event_id) spec, so Catalyst plans ONE Exchange + one sort;
    the per-(user, session) rollup then re-uses the user_id partitioning.
    This is the batch twin of `stream_session` (session_window), kept exact
    so it can carry a full oracle.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_s = (
        F.when(F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > SESSION_GAP_US), 1)
        .otherwise(0)
    )
    flagged = ev.select("user_id", "event_id", "ts", "value", new_s.alias("new_s"))
    sess = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("sess_start_s"),
        F.unix_timestamp(F.max("ts")).alias("sess_end_s"),
        F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("sum_value"),
    )


@register(
    "events_funnel",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    u1 AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS s1
        FROM ev GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, any_value(u1.s1) AS s1,
               min(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > u1.s1) AS s2
        FROM ev e JOIN u1 USING (user_id) GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, any_value(u2.s1) AS s1, any_value(u2.s2) AS s2,
               min(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > u2.s2) AS s3
        FROM ev e JOIN u2 USING (user_id) GROUP BY e.user_id
    )
    SELECT count(*) AS n_users,
           count(s1) AS n_view,
           count(s2) AS n_click_after_view,
           count(s3) AS n_purchase_after_click,
           CAST(floor(CAST((count(s3)) * 20000 + (count(*)) AS DOUBLE) / (2 * (count(*)))) AS DOUBLE) / 10000.0 AS conversion
    FROM u3
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel view → click → purchase per user.

    Each stage is the earliest event of its type that happens strictly AFTER
    the previous stage's timestamp. Three windowed mins over the same
    `PARTITION BY user_id` spec — one Exchange, stages computed in sequence
    on the sorted partition, then a global one-row rollup.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t, ts = F.col("event_type"), F.col("ts")
    s1 = ev.withColumn("s1", F.min(F.when(t == "view", ts)).over(w))
    s2 = s1.withColumn(
        "s2", F.min(F.when((t == "click") & (ts > F.col("s1")), ts)).over(w)
    )
    s3 = s2.withColumn(
        "s3", F.min(F.when((t == "purchase") & (ts > F.col("s2")), ts)).over(w)
    )
    per_user = s3.select("user_id", "s1", "s2", "s3").distinct()
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("s1").alias("n_view"),
        F.count("s2").alias("n_click_after_view"),
        F.count("s3").alias("n_purchase_after_click"),
        ratio(F.count("s3"), F.count("*")).alias("conversion"),
    )


@register(
    "events_retention_cohort",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM ev
    ),
    first AS (
        SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id
    )
    SELECT strftime(first.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', first.cohort, act.wk) / 7 AS BIGINT) AS week_no,
           count(DISTINCT act.user_id) AS n_users
    FROM act JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-active week,
    counted in each subsequent active week.

    All three shuffles key on user_id (distinct, min-per-user, join), so AQE
    can chain them without a repartition; the cohort dimension stays tiny
    (weeks), never a skew risk.
    """
    ev = table(spark, sf_dir, "events")
    act = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        act.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort") / 7).cast("long").alias("week_no"),
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# Shared final-stage formulas (the agg_stats_moments pattern, aggregates.py):
# identical expression text over identical exact cent sums on both engines ⇒
# bit-equal pre-round doubles ⇒ stable ROUNDED oracle. The engine-native
# one-pass corr/covar/regr_slope moments differ from DuckDB's in the last
# bits — the round-2 failure mode this rewrite removes pre-emptively.
# `+ 0.0` after every round(): Spark's round goes through BigDecimal (never
# emits -0.0) while DuckDB's stays in IEEE doubles, so a tiny negative value
# rounding to zero diverges as -0.0 vs +0.0 at the driver's hasher (the
# round-3 agg_stats_moments red). IEEE -0.0 + 0.0 = +0.0 on both engines.
_CC_FORMULAS = {
    "corr_qty_price": "round((sqp / 1e4 - (sq / 1e2) * (sp / 1e2) / nd)"
    " / sqrt((sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / nd)"
    " * (spp / 1e4 - (sp / 1e2) * (sp / 1e2) / nd)), 4) + 0.0",
    "covar_qty_price": "round((sqp / 1e4 - (sq / 1e2) * (sp / 1e2) / nd)"
    " / nd, 2) + 0.0",
    "sd_qty": "round(sqrt((sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / nd)"
    " / (nd - 1)), 4) + 0.0",
    "slope_price_per_qty": "round((sqp / 1e4 - (sq / 1e2) * (sp / 1e2) / nd)"
    " / (sqq / 1e4 - (sq / 1e2) * (sq / 1e2) / nd), 2) + 0.0",
}


@register(
    "agg_corr_cov",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
    ), s AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(q) AS DOUBLE) AS sq,
               CAST(sum(q * q) AS DOUBLE) AS sqq,
               CAST(sum(p) AS DOUBLE) AS sp,
               CAST(sum(p * p) AS DOUBLE) AS spp,
               CAST(sum(q * p) AS DOUBLE) AS sqp
        FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {_CC_FORMULAS["corr_qty_price"]} AS corr_qty_price,
           {_CC_FORMULAS["covar_qty_price"]} AS covar_qty_price,
           {_CC_FORMULAS["sd_qty"]} AS sd_qty,
           {_CC_FORMULAS["slope_price_per_qty"]} AS slope_price_per_qty
    FROM s
    """,
)
def agg_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped bivariate statistics: Pearson correlation, population
    covariance, sample stddev, and OLS slope.

    Computed from EXACT cent-scaled integer sums (n, Σq, Σq², Σp, Σp², Σqp)
    rather than the engine-native one-pass moment aggregates, whose last
    float bits differ between Spark and DuckDB — both engines then evaluate
    the same `_CC_FORMULAS` expression text, so the pre-round doubles are
    bit-identical and the ROUNDED gate cannot flip on a .5-ulp boundary
    (the agg_stats_moments round-2 failure mode). Still one projection +
    one map-side-partial HashAggregate pair — the same single-pass shape,
    with decimal(38,0) partial sums that cannot overflow at 100 TB.
    """
    li = table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("p"),
    )
    dec = "decimal(38,0)"
    sums = cents.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count("*").cast("double").alias("nd"),
        F.sum(F.col("q").cast(dec)).cast("double").alias("sq"),
        F.sum((F.col("q") * F.col("q")).cast(dec)).cast("double").alias("sqq"),
        F.sum(F.col("p").cast(dec)).cast("double").alias("sp"),
        F.sum((F.col("p") * F.col("p")).cast(dec)).cast("double").alias("spp"),
        F.sum((F.col("q") * F.col("p")).cast(dec)).cast("double").alias("sqp"),
    )
    return sums.select(
        "l_returnflag",
        "n",
        *[F.expr(sql).alias(name) for name, sql in _CC_FORMULAS.items()],
    )


@register(
    "ts_ohlc",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    k AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value,
               printf('%020d-%019d', epoch_us(ts), event_id) AS ord
        FROM ev
    )
    SELECT day, event_type,
           count(*) AS n_events,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) * 200
                           + count(value) AS DOUBLE)
                      / (2 * count(value))) AS DOUBLE) / 10000.0 AS avg_value
    FROM k
    GROUP BY day, event_type
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC down-sampling of the event stream to (day, event_type) bars.

    open/close pick the value of the earliest/latest row via min_by/max_by
    over a zero-padded (epoch_us, event_id) string key — unique, so the
    tie-break is total and both engines select the identical row. One hash
    aggregation, no window sort: at 100 TB this is a single shuffle on the
    (day, type) bar key.
    """
    ev = table(spark, sf_dir, "events")
    # widths cover full int64 so zero-padding (and the lexicographic tie-
    # break) holds at any event_id scale
    ordk = F.format_string("%020d-%019d", F.unix_micros("ts"), F.col("event_id"))
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            "value",
            ordk.alias("ord"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            # integer half-away average (the parity.ravg form): the true
            # avg CAN land exactly on a 4dp half boundary (sf0.001 round-4:
            # 307.03/8), where Spark's BigDecimal round and DuckDB's binary
            # ×1e4 round legitimately disagree — integer cents arithmetic
            # is boundary-proof on both engines
            (
                F.floor(
                    (
                        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                        * 200
                        + F.count("value")
                    ).cast("long")
                    / (2 * F.count("value"))
                ).cast("double")
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM n)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM b a JOIN b b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution over part names.

    Candidate pairs come ONLY from an equi-join on the blocking key (the
    type word of the name), so the plan is a shuffled/broadcast hash join —
    never a cartesian — and the O(len²) Levenshtein runs on the few pairs
    inside each block. This is the scale recipe for fuzzy dedup at 100 TB:
    block → equi-join → edit-distance filter (same shape the MinHash-LSH
    family uses for documents, `llm/dedup.py`).
    """
    p = table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.element_at(F.split("p_name", " "), 2).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.p_name") < F.col("b.p_name")),
    )
    return (
        pairs.select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
        )
        .where(F.col("dist") <= 2)
    )


@register(
    "ts_interpolate",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    obs AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ((2 * sum(CAST(round(value * 10000, 0) AS BIGINT))
                 + count(*)) // (2 * count(*))) / 10000.0 AS v
        FROM ev GROUP BY event_type, date_trunc('hour', ts)
    ),
    grid AS (
        SELECT r.event_type,
               unnest(generate_series(r.lo, r.hi, INTERVAL 1 HOUR)) AS h
        FROM (SELECT event_type, min(h) AS lo, max(h) AS hi
              FROM obs GROUP BY event_type) r
    ),
    j AS (
        SELECT g.event_type, g.h, obs.v,
               CAST(epoch(g.h) AS BIGINT) AS t,
               last_value(obs.v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN obs.v IS NOT NULL
                               THEN CAST(epoch(g.h) AS BIGINT) END
                          IGNORE NULLS) OVER wp AS pt,
               first_value(obs.v IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN obs.v IS NOT NULL
                                THEN CAST(epoch(g.h) AS BIGINT) END
                           IGNORE NULLS) OVER wn AS nt
        FROM grid g LEFT JOIN obs ON g.event_type = obs.event_type
                                 AND g.h = obs.h
        WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY g.event_type ORDER BY g.h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, CAST(t AS BIGINT) AS bucket_s,
           CASE WHEN v IS NOT NULL THEN v
                ELSE ((2 * (CAST(round(pv * 10000, 0) AS BIGINT) * (nt - t)
                            + CAST(round(nv * 10000, 0) AS BIGINT) * (t - pt))
                       + (nt - pt)) // (2 * (nt - pt))) / 10000.0
           END AS v_filled,
           CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
    FROM j
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with LINEAR interpolation over an hourly grid.

    Classic hypertable `time_bucket_gapfill + interpolate`: hourly means
    per event_type, a dense hour grid from `sequence()` per type (bounded
    by each type's observed min/max hour, so edges are always observed),
    and missing buckets filled by time-weighted linear interpolation
    between the nearest observed neighbours (IGNORE NULLS window
    last/first).

    Scale shape: one groupBy on (type, hour); the grid explode is
    O(type × hours) — rows ∝ calendar span, not event count; the two
    interpolation windows share ONE per-type sort (same partition/order).
    Per-type partitions are the scale limit at 100 TB — for
    high-cardinality keys (per user) the same plan applies with
    (user, day) range-bounded grids.
    """
    ev = table(spark, sf_dir, "events")
    # Hourly means are computed ENTIRELY in integer space (values quantized
    # to 1e-4 per row, half-up integer-division mean): `round(avg(x), 4)`
    # ties differently across engines when the true mean lands on .00005
    # (seen at sf0.1), while bigint sums + integer division are exact.
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        (
            F.expr(
                "(2 * sum(CAST(round(value * 10000, 0) AS BIGINT))"
                " + count(*)) div (2 * count(*))"
            )
            / 10000.0
        ).alias("v")
    )
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    t = F.unix_timestamp("h")
    obs_t = F.when(F.col("v").isNotNull(), t)
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = (
        grid.join(obs, ["event_type", "h"], "left")
        .withColumn("t", t)
        .withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pt", F.last(obs_t, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nt", F.first(obs_t, ignorenulls=True).over(wn))
    )
    # Interpolated values are computed in INTEGER space: 4dp neighbour
    # means scale to exact bigints, and the time-weighted mean becomes a
    # half-up integer division — engine-independent, unlike rounding a
    # double that can land on a .00005 tie (Spark BigDecimal-HALF_UP vs
    # DuckDB fp-multiply round disagree there).
    interp = F.expr(
        "((2 * (CAST(round(pv * 10000, 0) AS BIGINT) * (nt - t)"
        "       + CAST(round(nv * 10000, 0) AS BIGINT) * (t - pt))"
        "  + (nt - pt)) div (2 * (nt - pt))) / 10000.0"
    )
    return j.select(
        "event_type",
        F.col("t").cast("bigint").alias("bucket_s"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(interp)
        .alias("v_filled"),
        F.when(F.col("v").isNotNull(), F.lit("obs"))
        .otherwise(F.lit("interp"))
        .alias("src"),
    )


@register(
    "events_anomaly_zscore",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        FROM ev GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
        SELECT event_type, h, n,
               sum(n)     OVER w AS s,
               sum(n * n) OVER w AS s2,
               count(*)   OVER w AS c
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(epoch(h) AS BIGINT) AS hour_s, n,
           round((n - s / c)
                 / nullif(sqrt((s2 - s * s / c) / (c - 1)), 0), 4) + 0.0 AS z,
           CASE WHEN abs((n - s / c)
                 / nullif(sqrt((s2 - s * s / c) / (c - 1)), 0)) > 3.0
                THEN 1 ELSE 0 END AS is_anomaly
    FROM stats
    WHERE c >= 12
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over hourly event-rate series: each
    hour's count vs the trailing 24 OBSERVED hours (exclusive ROWS frame —
    identical to wall-clock on a gap-free series); |z| > 3 flags.

    Mean and variance come from EXACT integer window sums (Σn, Σn²) — not
    `stddev_samp`, whose one-pass implementation differs between engines in
    the last float bits. With identical integer inputs, both engines run
    the same IEEE expression, so the ROUNDED oracle is stable. Warm-up
    hours (<12 trailing points) are suppressed. One window pass per type
    over the hours-sized hourly table (not raw events) — the rate series
    is calendar-sized, so this costs nothing even at 100 TB event volume.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type",
        "h",
        "n",
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count("*").over(w).alias("c"),
    ).where(F.col("c") >= 12)
    mu = F.col("s") / F.col("c")
    # nullif guards the all-equal-counts window (variance exactly 0 on
    # both engines — integer sums make the fp cancellation exact)
    sigma = F.nullif(
        F.sqrt(
            (F.col("s2") - F.col("s") * F.col("s") / F.col("c"))
            / (F.col("c") - 1)
        ),
        F.lit(0.0),
    )
    z = (F.col("n") - mu) / sigma
    return stats.select(
        "event_type",
        F.unix_timestamp("h").alias("hour_s"),
        "n",
        # + 0.0 folds a DuckDB-side -0.0 (tiny negative z rounding to zero)
        # onto Spark's BigDecimal +0.0 so the driver hash can't diverge
        (F.round(z, 4) + F.lit(0.0)).alias("z"),
        F.when(F.abs(z) > 3.0, 1).otherwise(0).alias("is_anomaly"),
    )


@register(
    "events_markov_transitions",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM ev
    ),
    c AS (
        SELECT cur, nxt, count(*) AS cnt
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, sum(cnt) AS total FROM c GROUP BY cur)
    SELECT c.cur, c.nxt, c.cnt,
           ((2 * c.cnt * 10000 + tot.total) // (2 * tot.total)) / 10000.0
               AS prob
    FROM c JOIN tot ON c.cur = tot.cur
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the behavioral model behind
    next-action prediction and anomalous-flow detection.

    One user-partitioned window pass builds (cur, next) pairs, a hash agg
    counts them, and per-state totals broadcast back for the row-wise
    probability. Probabilities use the half-up INTEGER division pattern
    (exact bigints both engines) rather than `round(cnt/total, 4)`, whose
    double-tie behaviour differs across engines. Output is
    |types|²-sized — driver-safe at any event volume.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("cur").agg(F.sum("cnt").alias("total"))
    return (
        c.join(F.broadcast(tot), "cur")
        .select(
            "cur",
            "nxt",
            "cnt",
            (
                F.expr("(2 * cnt * 10000 + total) div (2 * total)")
                / 10000.0
            ).alias("prob"),
        )
    )


@register(
    "events_path_regex",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    paths AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS path
        FROM ev GROUP BY user_id
    )
    SELECT user_id, length(path) AS path_len,
           CASE WHEN regexp_matches(path, 'v.*c.*p') THEN 1 ELSE 0 END
               AS funnel_vcp,
           CASE WHEN regexp_matches(path, 'ee') THEN 1 ELSE 0 END
               AS double_error,
           CASE WHEN regexp_matches(path, '^s') THEN 1 ELSE 0 END
               AS signup_first
    FROM paths
    """,
)
def events_path_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over behavior paths (MATCH_RECOGNIZE-lite):
    each user's time-ordered events collapse to a compact path string (one
    char per event) and patterns become plain regexes — ordered funnel
    (`v.*c.*p`), immediate repetition (`ee`), prefix anchors (`^s`).

    The path build is one ordered string agg per user (the same
    user-partitioned exchange every other behavioral op uses); the regex
    evaluation is a zero-shuffle projection. Paths are events-per-user
    long — bounded at any corpus scale by per-user activity, not corpus
    size (cap with a windowed LIMIT for pathological users at 100 TB).
    """
    ev = table(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.expr(
            "listagg(substring(event_type, 1, 1), '')"
            " WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("path")
    )
    return paths.select(
        "user_id",
        F.length("path").alias("path_len"),
        F.when(F.col("path").rlike("v.*c.*p"), 1).otherwise(0).alias(
            "funnel_vcp"
        ),
        F.when(F.col("path").rlike("ee"), 1).otherwise(0).alias(
            "double_error"
        ),
        F.when(F.col("path").rlike("^s"), 1).otherwise(0).alias(
            "signup_first"
        ),
    )


@register(
    "events_hour_heatmap",
    oracle=f"""
    WITH {SQL_EVENTS_US}
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hod,
           event_type,
           count(*) AS n,
           {{dsum}}
    FROM ev
    GROUP BY isodow(ts), hour(ts), event_type
    """.replace("{dsum}", "CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value"),
)
def events_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: (ISO day-of-week × hour-of-day × type) counts and
    value mass — the 2D seasonal profile behind load forecasting and
    anomaly baselines (pairs with `events_anomaly_zscore`, which scores
    deviations from exactly this kind of profile).

    One map-side-combined hash agg on a ≤ 7×24×|types| key space — the
    canonical corpus-sized-input, calendar-sized-output reduction.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("CAST(extract(DAYOFWEEK_ISO FROM ts) AS INT)").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(25,4)"))
        .cast("double")
        .alias("sum_value"),
    )


RFM_PIVOT_PARTS = 8  # range-bucket fan-out per ntile dimension


def _ntile4_distributed(
    df: DataFrame, key: Column, bucket_name: str, counts: list[tuple[int, int]]
) -> Column:
    """EXACT `ntile(4) OVER (ORDER BY key, user_id)` without a global window.

    `df` must already carry `bucket_name` = a range-bucket id monotone in
    `key` (ties never straddle buckets); `counts` is the collected
    (bucket, row_count) list. Global rank = prefix-sum offset of the row's
    bucket + `row_number` over a window PARTITIONED by bucket — every
    exchange and sort is bucket-parallel, so no "No Partition Defined"
    WindowExec exists anywhere in the plan (pinned in tests/test_plans.py).
    The rank is then folded through the standard SQL ntile bucket-size
    formula (first n%4 quartiles take one extra row), reproducing both
    engines' `ntile` bit-for-bit.
    """
    offsets, acc = {}, 0
    for b, c in sorted(counts):
        offsets[b] = acc
        acc += c
    n = acc
    base, rem = n // 4, n % 4
    cut = rem * (base + 1)
    off = F.coalesce(
        *[F.when(F.col(bucket_name) == b, F.lit(o)) for b, o in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)
    w = Window.partitionBy(bucket_name).orderBy(key, "user_id")
    rnk = off + F.row_number().over(w)
    if base == 0:  # fewer rows than quartiles: ntile degenerates to rank
        return rnk.cast("int")
    return (
        F.when(rnk <= cut, F.floor((rnk - 1) / F.lit(base + 1)) + 1)
        .otherwise(rem + F.floor((rnk - cut - 1) / F.lit(base)) + 1)
        .cast("int")
    )


@register(
    "events_rfm_segments",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    anchor AS (SELECT max(ts) AS now FROM ev),
    per_user AS (
        SELECT user_id,
               CAST(date_diff('day', max(ts), any_value(a.now)) AS BIGINT)
                   AS recency_days,
               count(*) FILTER (WHERE event_type = 'purchase') AS frequency,
               CAST(sum(CAST(value AS DECIMAL(25,4)))
                    FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                   AS monetary
        FROM ev, anchor a GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, recency_days, frequency,
               coalesce(monetary, 0.0) AS monetary,
               ntile(4) OVER (ORDER BY recency_days, user_id) AS r,
               ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f,
               ntile(4) OVER (ORDER BY coalesce(monetary, 0.0) DESC, user_id)
                   AS m
        FROM per_user
    )
    SELECT user_id, recency_days, frequency, monetary,
           r || '' || f || '' || m AS rfm
    FROM scored
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user Recency (days since last event),
    Frequency (purchases), Monetary (purchase value), each quartiled into
    1-4 and concatenated to the classic 'rfm' segment code.

    The oracle states the semantics as three `ntile(4)` total orders (with
    user_id tie-breaks so assignment is deterministic); the Spark plan
    REFUSES the literal form — `Window.orderBy` with no partition funnels
    the whole users-sized relation through ONE task, three times (the
    round-2 scale-weak flag). Instead each dimension is range-bucketed by
    `approx_percentile` pivots (deterministic sketch, no sampling; pivots
    only balance partitions — exactness never depends on them), bucket row
    counts are collected (3×8 longs), and `_ntile4_distributed` rebuilds
    the EXACT global rank as prefix-sum offset + bucket-partitioned
    row_number. Every stage is parallel in the bucket fan-out; ties share a
    bucket by construction (bucket id = count of pivots strictly below the
    key), so correctness is sampling-independent. Raw events are touched
    once by the per-user agg; everything after is users-sized.
    """
    ev = table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now"))
    per_user = (
        ev.crossJoin(F.broadcast(now))
        .groupBy("user_id")
        .agg(
            F.datediff(F.first("now"), F.max("ts")).cast("bigint").alias(
                "recency_days"
            ),
            F.expr("count(*) FILTER (WHERE event_type = 'purchase')").alias(
                "frequency"
            ),
            F.expr(
                "CAST(sum(CAST(value AS DECIMAL(25,4)))"
                " FILTER (WHERE event_type = 'purchase') AS DOUBLE)"
            ).alias("monetary"),
        )
        .withColumn("monetary", F.coalesce("monetary", F.lit(0.0)))
    )
    # Ascending sort keys (negate the DESC dimensions) so one helper serves
    # all three ntile orders.
    keys = {
        "r": F.col("recency_days").cast("double"),
        "f": -F.col("frequency").cast("double"),
        "m": -F.col("monetary"),
    }
    pcts = [i / RFM_PIVOT_PARTS for i in range(1, RFM_PIVOT_PARTS)]
    pivots = per_user.agg(
        *[
            F.percentile_approx(key, pcts, 10_000).alias(dim)
            for dim, key in keys.items()
        ]
    ).first()
    bucketed = per_user
    for dim, key in keys.items():
        bexpr = F.lit(0)
        for pv in pivots[dim] or ():  # None on an empty relation
            bexpr = bexpr + F.when(key > F.lit(pv), 1).otherwise(0)
        bucketed = bucketed.withColumn(f"_b{dim}", bexpr)
    # One job collects all three dimensions' bucket histograms (≤ 3×8 rows).
    cnt_rows = (
        bucketed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(dim).alias("dim"), F.col(f"_b{dim}").alias("b")
                        )
                        for dim in keys
                    ]
                )
            ).alias("db")
        )
        .groupBy("db.dim", "db.b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts: dict[str, list[tuple[int, int]]] = {dim: [] for dim in keys}
    for r in cnt_rows:
        counts[r.dim].append((r.b, r.c))
    scores = {
        dim: _ntile4_distributed(bucketed, keys[dim], f"_b{dim}", counts[dim])
        for dim in keys
    }
    return bucketed.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.concat(
            scores["r"].cast("string"),
            scores["f"].cast("string"),
            scores["m"].cast("string"),
        ).alias("rfm"),
    )


# EWMA over the trailing EWMA_LOOKBACK observed hours. The decay weights are
# PRECOMPUTED Python doubles embedded as literals in BOTH engines' expression
# text — engine-native pow() could differ in the last ulp, identical literals
# cannot. The series is the hourly event COUNT (exact integers on both
# engines), so numerator/denominator are identical IEEE folds of identical
# inputs ⇒ bit-equal pre-round doubles ⇒ stable ROUNDED oracle.
EWMA_ALPHA = 0.3
EWMA_LOOKBACK = 20
_EWMA_W = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** i for i in range(EWMA_LOOKBACK)]


def _ewma_terms_sql() -> tuple[str, str]:
    """(numerator, denominator) SQL over lag(n, i) columns — shared text
    shape for both engines (window alias `w`)."""
    num = " + ".join(
        f"coalesce(lag(n, {i}) OVER w, 0) * {w!r}"
        for i, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(n, {i}) OVER w IS NULL THEN 0.0 ELSE {w!r} END)"
        for i, w in enumerate(_EWMA_W)
    )
    return num, den


@register(
    "ts_ewma",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type, CAST(epoch(h) AS BIGINT) AS hour_s, n,
           round(({_ewma_terms_sql()[0]})
                 / ({_ewma_terms_sql()[1]}), 4) + 0.0 AS ewma
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h)
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the hourly event rate —
    the smoothing primitive under alerting/trend dashboards (the pair to
    `events_anomaly_zscore`'s rolling z-score).

    The textbook EWMA recurrence y_t = αx_t + (1-α)y_{t-1} is sequential;
    the distributed form is its {EWMA_LOOKBACK}-term truncated expansion
    y_t ≈ Σ α(1-α)^i · x_(t-i) (the dropped tail mass is (1-α)^{EWMA_LOOKBACK}
    ≈ 8e-4), renormalized over the weights actually present so warm-up rows
    are unbiased. All {EWMA_LOOKBACK} lag() calls share ONE window spec —
    Catalyst evaluates them in a single WindowExec over a single per-type
    sort, and the window runs on the HOURS-sized rate series, not raw
    events, so the cost is calendar-scale at any corpus size."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    num = sum(
        (
            F.coalesce(F.lag("n", i).over(w), F.lit(0)) * F.lit(wt)
            for i, wt in enumerate(_EWMA_W)
        ),
        start=F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.lag("n", i).over(w).isNull(), F.lit(0.0)).otherwise(
                F.lit(wt)
            )
            for i, wt in enumerate(_EWMA_W)
        ),
        start=F.lit(0.0),
    )
    return hourly.select(
        "event_type",
        F.unix_timestamp("h").alias("hour_s"),
        "n",
        (F.round(num / den, 4) + F.lit(0.0)).alias("ewma"),
    )


ATTR_WINDOW_US = 7 * 86_400 * 1_000_000  # attribution lookback: 7 days


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    marked AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type IN ('view', 'click')
                    THEN printf('%020d-%019d-%s',
                                epoch_us(ts), event_id, event_type)
               END AS pk
        FROM ev
    ),
    attrib AS (
        SELECT user_id, event_id, ts, event_type,
               last_value(pk IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lpk
        FROM marked
    ),
    parsed AS (
        SELECT user_id, event_id, ts,
               CAST(nullif(split_part(lpk, '-', 1), '') AS BIGINT)
                   AS attr_ts_us,
               CAST(nullif(split_part(lpk, '-', 2), '') AS BIGINT)
                   AS attr_event_id,
               nullif(split_part(lpk, '-', 3), '') AS attr_type
        FROM attrib WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, {sql_epoch_s('ts')} AS ts_s,
           CASE WHEN attr_ts_us IS NOT NULL
                 AND epoch_us(ts) - attr_ts_us <= {ATTR_WINDOW_US}
                THEN attr_type ELSE 'none' END AS attr_type,
           CASE WHEN attr_ts_us IS NOT NULL
                 AND epoch_us(ts) - attr_ts_us <= {ATTR_WINDOW_US}
                THEN attr_event_id END AS attr_event_id,
           CASE WHEN attr_ts_us IS NOT NULL
                 AND epoch_us(ts) - attr_ts_us <= {ATTR_WINDOW_US}
                THEN (epoch_us(ts) - attr_ts_us) // 1000000 END AS gap_s
    FROM parsed
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    user's most recent preceding view/click within a 7-day lookback — the
    canonical conversion-credit query of behavioral analytics.

    One window pass per user (the same `PARTITION BY user_id` Exchange the
    sessionize/funnel family shares): touch candidates are packed into a
    zero-padded `(epoch_us, event_id, type)` string (the `ts_ohlc` total-
    order trick — lexicographic == numeric, so `last_value IGNORE NULLS`
    picks the identical touch on both engines), carried forward LOCF-style
    to the strictly-prior frame, then unpacked and gated by the lookback.
    Purchases with no in-window touch report 'none'. At 100 TB: one
    user-keyed sort-window over the event stream, no join, no broadcast."""
    ev = table(spark, sf_dir, "events")
    pk = F.when(
        F.col("event_type").isin("view", "click"),
        F.format_string(
            "%020d-%019d-%s", F.unix_micros("ts"), F.col("event_id"), F.col("event_type")
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    parsed = (
        ev.select("user_id", "event_id", "ts", "event_type", pk.alias("pk"))
        .withColumn("lpk", F.last("pk", ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.split("lpk", "-").getItem(0).cast("bigint").alias("attr_ts_us"),
            F.split("lpk", "-").getItem(1).cast("bigint").alias("attr_event_id"),
            F.split("lpk", "-").getItem(2).alias("attr_type"),
        )
    )
    in_window = F.col("attr_ts_us").isNotNull() & (
        F.unix_micros("ts") - F.col("attr_ts_us") <= ATTR_WINDOW_US
    )
    gap_s = F.expr(
        "CAST((unix_micros(ts) - attr_ts_us) DIV 1000000 AS BIGINT)"
    )
    return parsed.select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("ts_s"),
        F.when(in_window, F.col("attr_type")).otherwise("none").alias("attr_type"),
        F.when(in_window, F.col("attr_event_id")).alias("attr_event_id"),
        F.when(in_window, gap_s).alias("gap_s"),
    )


@register(
    "events_dau_mau",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    d AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               strftime(ts, '%Y-%m') AS month,
               user_id
        FROM ev
    ),
    dau AS (
        SELECT day, any_value(month) AS month,
               count(DISTINCT user_id) AS dau
        FROM d GROUP BY day
    ),
    mau AS (SELECT month, count(DISTINCT user_id) AS mau FROM d GROUP BY month)
    SELECT dau.day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(floor(CAST((dau.dau) * 20000 + (mau.mau) AS DOUBLE) / (2 * (mau.mau))) AS DOUBLE) / 10000.0 AS stickiness
    FROM dau JOIN mau USING (month)
    """,
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU engagement: distinct active users per day, per calendar
    month, and the day's stickiness ratio (DAU/MAU — the canonical
    product-health KPI). Two distinct-count aggregations over the SAME
    (day, month, user) projection; the months-sized MAU relation broadcasts
    back onto the days-sized DAU relation, so the output join costs
    nothing. At 100 TB both counts are exact distincts keyed by calendar
    units — partial-aggregated map-side; swap `approx_count_distinct` in
    at the same plan shape if exactness stops being worth the shuffle."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "user_id",
    )
    dau = d.groupBy("day").agg(
        F.first("month").alias("month"),
        F.countDistinct("user_id").alias("dau"),
    )
    mau = d.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "month")
        .select(
            "day",
            "dau",
            "mau",
            ratio(F.col("dau"), F.col("mau")).alias("stickiness"),
        )
    )


# Shared lag-24h Pearson text for ts_autocorr: exact int64 count sums in,
# one correctly-rounded IEEE division over a correctly-rounded sqrt — no
# round(), so the raw doubles are bit-identical across engines (the
# agg_linreg parity argument; sqrt is correctly rounded per IEEE-754).
_AC_FORMULA = (
    "CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL"
    " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE)) END"
)


@register(
    "ts_autocorr",
    oracle=f"""
    WITH {SQL_EVENTS_US}, c AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               count(*) AS cnt
        FROM ev GROUP BY event_type, date_trunc('hour', ts)
    ), p AS (
        SELECT x.event_type, x.cnt AS xc, y.cnt AS yc
        FROM c x JOIN c y
          ON x.event_type = y.event_type
         AND y.h = x.h + INTERVAL 24 HOUR
    ), s AS (
        SELECT event_type, count(*) AS n,
               sum(xc) AS sx, sum(yc) AS sy, sum(xc * yc) AS sxy,
               sum(xc * xc) AS sxx, sum(yc * yc) AS syy
        FROM p GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs, {_AC_FORMULA} AS r_lag24
    FROM s
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-24h autocorrelation of the hourly event rate per type — the
    seasonality detector that justifies (or refutes) the daily profile
    `events_hour_heatmap` assumes and `ts_ewma` smooths over.

    Shape: the corpus reduces FIRST to a calendar-sized (type, hour)
    count relation (map-side-combined hash agg — the only pass that
    touches fact rows); the lag pairing is a self-equi-join on
    (type, hour+24h) over that tiny relation, then one more hash agg of
    exact int64 moment sums. Pearson r comes out of the shared
    `_AC_FORMULA` text raw (no round) — bit-identical on both engines.
    Gap-robust: hours missing on either side simply produce no pair
    (join semantics), rather than silently pairing misaligned rows the
    way a ROWS-frame lag() over a gappy series would.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    y = c.select(
        F.col("event_type").alias("et"),
        F.col("cnt").alias("yc"),
        (F.col("h") - F.expr("INTERVAL 24 HOURS")).alias("h_prev"),
    )
    p = c.join(
        y,
        (F.col("event_type") == F.col("et")) & (F.col("h") == F.col("h_prev")),
    ).select("event_type", F.col("cnt").alias("xc"), "yc")
    s = p.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
        F.sum(F.col("xc") * F.col("xc")).alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.expr(_AC_FORMULA).alias("r_lag24"),
    )


@register(
    "ts_pct_change",
    oracle=f"""
    WITH {SQL_EVENTS_US}, c AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        FROM ev GROUP BY event_type, date_trunc('hour', ts)
    ), l AS (
        SELECT event_type, h, cnt,
               lag(cnt) OVER (PARTITION BY event_type ORDER BY h) AS prev
        FROM c
    )
    SELECT event_type, {sql_epoch_s("h")} AS hour_s, cnt, prev,
           CASE WHEN prev IS NULL THEN NULL
                ELSE {sql_sratio("cnt - prev", "prev")} END AS pct_change
    FROM l
    """,
)
def ts_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period percent change of the hourly event rate — the
    day-one growth metric next to `ts_ewma` (level) and `ts_autocorr`
    (seasonality). Change vs the previous OBSERVED hour (lag over the
    present series; a gap simply widens the comparison period, it does
    not fabricate a zero denominator).

    First registered user of the SIGNED integer-quotient ratio
    (`parity.sratio`): deltas go negative, and a float `round((c-p)/p,4)`
    sits on the same half-boundary class the round-4 `ts_ohlc` red proved
    real — the signed integer form is boundary-proof with one lag()
    window over the calendar-sized count relation.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("h")
    l = c.withColumn("prev", F.lag("cnt").over(w))
    return l.select(
        "event_type",
        F.unix_timestamp("h").alias("hour_s"),
        "cnt",
        "prev",
        F.when(
            F.col("prev").isNull(), F.lit(None).cast("double")
        )
        .otherwise(sratio(F.col("cnt") - F.col("prev"), F.col("prev")))
        .alias("pct_change"),
    )


@register(
    "events_type_overlap",
    oracle=f"""
    WITH {SQL_EVENTS_US}, d AS (
        SELECT DISTINCT event_type, user_id FROM ev
    ), sz AS (
        SELECT event_type, count(*) AS n FROM d GROUP BY event_type
    ), ix AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_both
        FROM d a JOIN d b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT ix.type_a, ix.type_b, sa.n AS n_a, sb.n AS n_b, ix.n_both,
           {sql_ratio("ix.n_both", "sa.n + sb.n - ix.n_both")} AS jaccard
    FROM ix
    JOIN sz sa ON sa.event_type = ix.type_a
    JOIN sz sb ON sb.event_type = ix.type_b
    """,
)
def events_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the USER SETS behind
    every pair of event types — the segmentation question ("do purchasers
    also click?") behind campaign targeting and funnel design.

    Shape (ONE pass over the fact table — plan-pinned): collapse to each
    user's SORTED type set (collect_set per user, ≤|types| elements),
    explode every self-inclusive ordered pair (x,y), x ≤ y, from the set
    (≤ |types|²/2 tiny rows per user), and hash-count the pairs. The
    SAME aggregation then yields both outputs: (a,a) counts ARE the set
    sizes, (a,b) counts the intersections — so marginals need no second
    derivation of the corpus subtree (a distinct+self-join formulation
    costs 4 fact scans; this one costs 1, with the marginal/intersection
    split reusing one exchange). Jaccard = n∩/(n_a+n_b−n∩) through the
    boundary-proof integer quotient (`parity.sql_ratio`); swap the final
    ratio for containment or lift.
    """
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ts")
    )
    pairs = u.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) ->"
                " transform(slice(ts, i + 1, size(ts) - i),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    cnt = pairs.groupBy("a", "b").agg(F.count("*").alias("n"))
    sz = cnt.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("t"), F.col("n").alias("nt")
    )
    ix = cnt.where(F.col("a") < F.col("b"))
    sa = F.broadcast(sz.select(F.col("t").alias("ta"), F.col("nt").alias("n_a")))
    sb = F.broadcast(sz.select(F.col("t").alias("tb"), F.col("nt").alias("n_b")))
    return (
        ix.join(sa, F.col("a") == F.col("ta"))
        .join(sb, F.col("b") == F.col("tb"))
        .select(
            F.col("a").alias("type_a"),
            F.col("b").alias("type_b"),
            "n_a",
            "n_b",
            F.col("n").alias("n_both"),
            ratio(
                F.col("n"),
                F.col("n_a") + F.col("n_b") - F.col("n"),
            ).alias("jaccard"),
        )
    )


@register(
    "events_active_streaks",
    oracle=f"""
    WITH {SQL_EVENTS_US}, d AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM ev
    ), g AS (
        SELECT user_id, day,
               (day - DATE '1970-01-01')
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
        FROM d
    ), s AS (
        SELECT user_id, grp, count(*) AS len
        FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           count(*) AS n_streaks
    FROM s GROUP BY user_id
    """,
)
def events_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (gaps-and-islands) — the
    engagement metric behind "7-day streak" product mechanics, and the
    canonical sessionize-in-calendar-time shape.

    The corpus reduces FIRST to distinct (user, day) — at most
    users×days rows — then the island id is the classic
    `day_number − row_number()` constant-within-streak trick: one
    user-partitioned window over the reduced relation (millions of tiny
    partitions at scale — the partitioned-window shape that parallelizes,
    not the global kind the plan pins forbid), and two hash aggs. All
    integer arithmetic — EXACT oracle with no parity caveats.
    """
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("1970-01-01")) - F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return s.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


# Gini bucket width: order totals in cents DIV 5e6 = $50k bands (~12 buckets
# over TPC-H's o_totalprice domain) — granular enough that per-bucket local
# windows stay ~1/12th of a group.
_GINI_BUCKET = 5_000_000

# Shared final text: S (Σ global_rank·x), n, T are exact int64 at gate SFs
# (documented decimal switch at 100 TB); the classic identity
# G = 2S/(nT) − (n+1)/n evaluates in doubles with identical association on
# both engines — raw correctly-rounded output, no round().
_GINI_FORMULA = (
    "CASE WHEN t <= 0 OR n <= 0 THEN NULL ELSE"
    " (2.0 * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))"
    " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) END"
)


@register(
    "agg_gini",
    oracle=f"""
    WITH c AS (
        SELECT o_orderstatus AS st, o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x,
               CAST(round(o_totalprice * 100) AS BIGINT) // {_GINI_BUCKET}
               AS bkt
        FROM orders
    ), b AS (
        SELECT st, bkt, sum(x) AS sumx, count(*) AS cnt
        FROM c GROUP BY st, bkt
    ), cb AS (
        SELECT st, bkt, sumx, cnt,
               sum(cnt) OVER (PARTITION BY st ORDER BY bkt)
               - cnt AS off,
               sum(sumx) OVER (PARTITION BY st) AS t,
               sum(cnt) OVER (PARTITION BY st) AS n
        FROM b
    ), t1 AS (
        -- decimal(38,0) accumulation: the rank-weighted products reach
        -- ~0.7·n·T ≈ 7e18 for the big status groups already at sf1 and
        -- blow past int64 around sf≥2 — where Spark's long cast would
        -- WRAP silently and DuckDB would RAISE (divergent failure).
        -- 128-bit unscaled decimals keep both engines exact to ~1e38.
        SELECT st,
               CAST(sum(CAST(off AS DECIMAL(19,0)) * CAST(sumx AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS term1,
               max(t) AS t, max(n) AS n
        FROM cb GROUP BY st
    ), lr AS (
        SELECT st, x,
               row_number() OVER (
                   PARTITION BY st, bkt ORDER BY x, okey
               ) AS r
        FROM c
    ), t2 AS (
        SELECT st,
               CAST(sum(CAST(r AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS term2
        FROM lr GROUP BY st
    )
    SELECT t1.st AS o_orderstatus, CAST(t1.n AS BIGINT) AS n,
           {_GINI_FORMULA.replace("s AS DOUBLE", "term1 + term2 AS DOUBLE")}
           AS gini
    FROM t1 JOIN t2 ON t1.st = t2.st
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of order totals per status — the inequality
    metric (revenue concentration, whale analysis), which classically
    needs a GLOBAL per-group sort for the rank-weighted sum Σ rank·x.

    Distributed exactly without one (the `events_rfm_segments` /
    `agg_weighted_median` decomposition): a row's global rank =
    prefix-count offset of its $50k value band + its LOCAL rank inside
    the band, so Σ rank·x splits into Σ_band offset·Σx(band) — computed
    on the TINY band relation — plus Σ local_rank·x under band-PARTITIONED
    windows (every sort is 1/|bands| of a group, fully parallel; no
    "No Partition Defined" WindowExec anywhere, pinned). Ties carry
    distinct ranks via the (value, orderkey) total order, which the
    rank-sum identity makes order-independent for equal values. Exact
    int64 throughout; final identity in shared double text, no round().
    """
    o = table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") / _GINI_BUCKET)
        .cast("long")
        .alias("bkt"),
    )
    b = c.groupBy("st", "bkt").agg(
        F.sum("x").alias("sumx"), F.count("*").alias("cnt")
    )
    wb = Window.partitionBy("st").orderBy("bkt")
    wt = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cb = b.select(
        "st",
        "bkt",
        "sumx",
        "cnt",
        (F.sum("cnt").over(wb) - F.col("cnt")).alias("off"),
        F.sum("sumx").over(wt).alias("t"),
        F.sum("cnt").over(wt).alias("n"),
    )
    # decimal(38,0) products+sums (mirrors the oracle): the rank-weighted
    # terms overflow int64 around sf≥2 and the two engines fail DIVERGENTLY
    # there (Spark long cast wraps, DuckDB HUGEINT→BIGINT raises); 128-bit
    # decimals stay exact to ~1e38 and are still one-pass partial aggs.
    t1 = cb.groupBy("st").agg(
        F.sum(
            F.col("off").cast("decimal(19,0)") * F.col("sumx").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("term1"),
        F.max("t").alias("t"),
        F.max("n").alias("n"),
    )
    wl = Window.partitionBy("st", "bkt").orderBy("x", "okey")
    lr = c.select("st", "x", F.row_number().over(wl).alias("r"))
    t2 = lr.groupBy("st").agg(
        F.sum(
            F.col("r").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("term2")
    )
    return (
        t1.join(F.broadcast(t2.withColumnRenamed("st", "st2")),
                F.col("st") == F.col("st2"))
        .select(
            F.col("st").alias("o_orderstatus"),
            F.col("n").cast("long").alias("n"),
            F.expr(
                _GINI_FORMULA.replace("s AS DOUBLE", "term1 + term2 AS DOUBLE")
            ).alias("gini"),
        )
    )


# Wilson 95% score interval over exact integer (conversions, trials).
# Shared expression TEXT evaluated in doubles on BOTH engines from the same
# exact bigint inputs (the _SM_FORMULAS discipline): /,*,+,sqrt are all
# correctly-rounded IEEE ops, so bit-equal inputs give bit-equal doubles;
# only the final round() is applied, and its argument is sqrt-transcendental
# (the legal ROUNDED class — never a terminating-decimal ratio).
_WILSON_Z2 = "3.8416"  # 1.96² exactly (the literal parses identically)
_WILSON = {
    "lo": (
        "((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)"
        f" + {_WILSON_Z2} / (2.0 * CAST(n_users AS DOUBLE)))"
        " - 1.96 * sqrt((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)"
        " * (1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))"
        f" + {_WILSON_Z2} / (4.0 * CAST(n_users AS DOUBLE))) / CAST(n_users AS DOUBLE)))"
        f" / (1.0 + {_WILSON_Z2} / CAST(n_users AS DOUBLE))"
    ),
    "hi": (
        "((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)"
        f" + {_WILSON_Z2} / (2.0 * CAST(n_users AS DOUBLE)))"
        " + 1.96 * sqrt((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)"
        " * (1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))"
        f" + {_WILSON_Z2} / (4.0 * CAST(n_users AS DOUBLE))) / CAST(n_users AS DOUBLE)))"
        f" / (1.0 + {_WILSON_Z2} / CAST(n_users AS DOUBLE))"
    ),
}


@register(
    "agg_conversion_wilson",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    u AS (SELECT DISTINCT user_id, event_type FROM ev),
    p AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'),
    s AS (
        SELECT u.event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(p.user_id) AS BIGINT) AS n_conv
        FROM u LEFT JOIN p USING (user_id)
        GROUP BY u.event_type
    )
    SELECT event_type, n_users, n_conv,
           {sql_ratio("n_conv", "n_users")} AS rate,
           round({_WILSON["lo"]}, 4) + 0.0 AS wilson_lo,
           round({_WILSON["hi"]}, 4) + 0.0 AS wilson_hi
    FROM s
    """,
)
def agg_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type purchase-conversion rate WITH a Wilson 95% score
    interval — the uncertainty-aware funnel metric (a 3/7 segment and a
    300/700 segment have the same rate but very different evidence; every
    experimentation/metrics stack ships Wilson or Jeffreys bounds for
    exactly this). Point rate via the boundary-proof integer quotient;
    interval endpoints via the shared-text double formula over exact
    integer (n, k) — sqrt is correctly-rounded IEEE, so both engines agree
    bit-for-bit before the final (transcendental-class) round.

    Scale shape: one distinct-reduce of events to (user, type) pairs, the
    purchase-user set as a broadcast semi-ish LEFT join, one hash agg —
    types-sized output, no window, no fact-fact shuffle."""
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("is_conv", F.lit(1))
    )
    s = (
        u.join(F.broadcast(p), "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_users"),
            F.count("is_conv").alias("n_conv"),
        )
    )
    return s.select(
        "event_type",
        "n_users",
        "n_conv",
        ratio(F.col("n_conv"), F.col("n_users")).alias("rate"),
        (F.round(F.expr(_WILSON["lo"]), 4) + F.lit(0.0)).alias("wilson_lo"),
        (F.round(F.expr(_WILSON["hi"]), 4) + F.lit(0.0)).alias("wilson_hi"),
    )


BOT_MIN_EVENTS = 5  # users below this have too little evidence to profile
BOT_GAP_US = 60_000_000  # median inter-event gap under 60 s → automation-like


@register(
    "events_bot_flags",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    t AS (
        SELECT user_id, {sql_epoch_s('ts')} * 1000000
               + (epoch_us(CAST(ts AS TIMESTAMP)) % 1000000) AS tsu,
               event_id
        FROM ev
    ),
    g AS (
        SELECT user_id,
               tsu - lag(tsu) OVER (
                   PARTITION BY user_id ORDER BY tsu, event_id
               ) AS gap
        FROM t
    ),
    gg AS (
        SELECT user_id, gap,
               row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_gaps
        FROM g WHERE gap IS NOT NULL
    ),
    med AS (
        SELECT user_id, CAST(gap AS BIGINT) AS med_gap_us
        FROM gg WHERE rn = (n_gaps + 1) // 2
    ),
    s AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               max(tsu) - min(tsu) AS span_us
        FROM t GROUP BY user_id HAVING count(*) >= {BOT_MIN_EVENTS}
    )
    SELECT s.user_id, s.n_events, med.med_gap_us,
           {sql_ratio("s.n_events * 60000000", "s.span_us")} AS events_per_min,
           med.med_gap_us < {BOT_GAP_US} AS is_bot
    FROM s JOIN med ON s.user_id = med.user_id
    """,
)
def events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot detection by inter-event timing — the traffic-hygiene
    filter a training-data pipeline runs over behavioral logs before
    trusting engagement signals (scrapers and replay bots have machine-
    regular, sub-minute median gaps; humans do not). Per user with ≥
    {BOT_MIN_EVENTS} events: the LOWER MEDIAN inter-event gap (the
    ⌈n/2⌉-th smallest — an ORDER STATISTIC of exact integer microseconds,
    not an interpolated quantile, so both engines select the identical
    value with no float anywhere), overall event rate via the boundary-
    proof integer quotient, and the is_bot flag.

    Scale shape: ONE shuffle on user_id feeds the lag window, the ranking
    window and the per-user rollup (same partitioning — Catalyst reuses
    the exchange); millions of tiny user partitions parallelize. The
    rank-based median avoids `percentile()`'s engine-specific
    interpolation entirely."""
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_id"
    )
    wl = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    g = t.select(
        "user_id", (F.col("tsu") - F.lag("tsu").over(wl)).alias("gap")
    ).where(F.col("gap").isNotNull())
    wr = Window.partitionBy("user_id").orderBy("gap")
    wc = Window.partitionBy("user_id")
    med = (
        g.select(
            "user_id",
            "gap",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wc).alias("n_gaps"),
        )
        .where(F.col("rn") == F.floor((F.col("n_gaps") + 1) / 2))
        .select("user_id", F.col("gap").alias("med_gap_us"))
    )
    s = (
        t.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("tsu") - F.min("tsu")).alias("span_us"),
        )
        .where(F.col("n_events") >= BOT_MIN_EVENTS)
    )
    return s.join(med, "user_id").select(
        "user_id",
        "n_events",
        "med_gap_us",
        ratio(F.col("n_events") * 60_000_000, F.col("span_us")).alias(
            "events_per_min"
        ),
        (F.col("med_gap_us") < BOT_GAP_US).alias("is_bot"),
    )


@register(
    "events_user_entropy",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    c AS (
        SELECT user_id, event_type, count(*) AS k
        FROM ev GROUP BY user_id, event_type
    ),
    n AS (SELECT user_id, sum(k) AS n FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(max(n.n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(sum(-(k * 1.0 / n.n) * ln(k * 1.0 / n.n)), 4) + 0.0
               AS entropy_nats
    FROM c JOIN n USING (user_id)
    GROUP BY c.user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy (nats) of the user's
    event-type distribution — the engagement-diversity / anomaly feature
    (entropy ≈ 0 = single-action bots and scrapers, high entropy = broad
    organic use; pairs with `events_bot_flags` as the second axis of the
    traffic-hygiene screen).

    p-terms are exact bigint ratios evaluated identically on both engines;
    the ln/sum/round tail is the accepted transcendental ROUNDED class
    (the `llm_unigram_logprob` precedent — ≤ |event types| terms per user,
    boundary probability negligible). Scale shape: two hash aggs on the
    same user_id clustering plus a vocabulary-free re-join of the tiny
    per-user totals — no window, no fact-fact join."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("k"))
    n = c.groupBy("user_id").agg(F.sum("k").alias("n"))
    p = F.col("k") * 1.0 / F.col("n")
    return (
        c.join(n, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count("*").alias("n_types"),
            (F.round(F.sum(-p * F.log(p)), 4) + F.lit(0.0)).alias(
                "entropy_nats"
            ),
        )
    )


_PARETO_BUCKET = 100_000  # $1000 bands over o_totalprice cents
_PARETO_NUM, _PARETO_DEN = 4, 5  # revenue coverage target 4/5 = 80%


@register(
    "agg_pareto_cut",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS pr, o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x,
               CAST(round(o_totalprice * 100) AS BIGINT) // {_PARETO_BUCKET}
                   AS bkt
        FROM orders
    ), b AS (
        SELECT pr, bkt, sum(x) AS wsum, count(*) AS cnt
        FROM c GROUP BY pr, bkt
    ), cb AS (
        SELECT pr, bkt, wsum, cnt,
               sum(wsum) OVER (PARTITION BY pr ORDER BY bkt DESC) AS cum,
               sum(cnt) OVER (PARTITION BY pr ORDER BY bkt DESC) AS cumrows,
               sum(wsum) OVER (PARTITION BY pr) AS total,
               sum(cnt) OVER (PARTITION BY pr) AS n_orders
        FROM b
    ), tb AS (
        SELECT pr, max(bkt) AS tbkt FROM cb
        WHERE {_PARETO_DEN} * cum >= {_PARETO_NUM} * total GROUP BY pr
    ), pp AS (
        SELECT cb.pr, cb.bkt,
               CAST(cb.cum - cb.wsum AS BIGINT) AS prior_rev,
               CAST(cb.cumrows - cb.cnt AS BIGINT) AS prior_rows,
               CAST(cb.total AS BIGINT) AS total,
               CAST(cb.n_orders AS BIGINT) AS n_orders
        FROM cb JOIN tb ON cb.pr = tb.pr AND cb.bkt = tb.tbkt
    ), f AS (
        SELECT c.pr, pp.prior_rev, pp.prior_rows, pp.total, pp.n_orders,
               sum(c.x) OVER (
                   PARTITION BY c.pr ORDER BY c.x DESC, c.okey
                   ROWS UNBOUNDED PRECEDING
               ) AS cum2,
               row_number() OVER (
                   PARTITION BY c.pr ORDER BY c.x DESC, c.okey
               ) AS rn
        FROM c JOIN pp
          ON c.pr = pp.pr AND c.bkt = pp.bkt
    ), k AS (
        SELECT pr, min(rn) AS k_in_band FROM f
        WHERE {_PARETO_DEN} * (prior_rev + cum2) >= {_PARETO_NUM} * total
        GROUP BY pr
    )
    SELECT f.pr AS o_orderpriority,
           max(f.n_orders) AS n_orders,
           CAST(max(f.prior_rows) + max(k.k_in_band) AS BIGINT) AS n_top,
           {sql_ratio("max(f.prior_rows) + max(k.k_in_band)", "max(f.n_orders)")}
               AS top_frac,
           {sql_ratio("max(f.prior_rev) + max(CASE WHEN f.rn = k.k_in_band THEN f.cum2 END)", "max(f.total)")}
               AS rev_share
    FROM f JOIN k ON f.pr = k.pr
    GROUP BY f.pr
    """,
)
def agg_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC revenue concentration: per order priority, the MINIMAL
    number of orders (by price desc, orderkey tiebreak) whose cumulative
    revenue reaches {_PARETO_NUM}/{_PARETO_DEN} = 80% of the group total —
    the "how few customers carry the business" cut behind ABC inventory
    classes and whale analysis, with the achieved revenue share.

    Same scale-first decomposition as `agg_weighted_median`/`agg_gini`:
    a naive formulation windows the ENTIRE fact table per group; here
    (1) rows hash-aggregate into $1000 price bands, (2) a window over
    the TINY band relation (desc order) locates the band where the 80%
    line crosses — the coverage test is INTEGER ({_PARETO_DEN}·cum ≥
    {_PARETO_NUM}·total; ≲8e16 at 10⁹ orders, provably inside int64 —
    no 0.8 float anywhere), (3) only that band's rows re-enter a
    ROWS-framed cumulative window with the (price desc, orderkey) total
    order, so the refine is deterministic and 1/|bands| of the group.
    All-integer until the two output ratios (boundary-proof quotient)."""
    o = table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") / _PARETO_BUCKET)
        .cast("long")
        .alias("bkt"),
    )
    b = c.groupBy("pr", "bkt").agg(
        F.sum("x").alias("wsum"), F.count("*").alias("cnt")
    )
    wb = Window.partitionBy("pr").orderBy(F.desc("bkt"))
    wt = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cb = (
        b.withColumn("cum", F.sum("wsum").over(wb))
        .withColumn("cumrows", F.sum("cnt").over(wb))
        .withColumn("total", F.sum("wsum").over(wt))
        .withColumn("n_orders", F.sum("cnt").over(wt))
    )
    pp = (
        cb.where(_PARETO_DEN * F.col("cum") >= _PARETO_NUM * F.col("total"))
        .groupBy(F.col("pr").alias("pr2"))
        .agg(
            F.max_by(
                F.struct(
                    F.col("bkt").alias("tbkt"),
                    (F.col("cum") - F.col("wsum")).alias("prior_rev"),
                    (F.col("cumrows") - F.col("cnt")).alias("prior_rows"),
                    "total",
                    "n_orders",
                ),
                F.col("bkt"),
            ).alias("s")
        )
        .select("pr2", "s.*")
    )
    wf = Window.partitionBy("pr").orderBy(F.desc("x"), F.asc("okey"))
    wfc = wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f = (
        c.join(
            F.broadcast(pp),
            (c.pr == F.col("pr2")) & (c.bkt == F.col("tbkt")),
        )
        .withColumn("cum2", F.sum("x").over(wfc))
        .withColumn("rn", F.row_number().over(wf))
    )
    hit = f.where(
        _PARETO_DEN * (F.col("prior_rev") + F.col("cum2"))
        >= _PARETO_NUM * F.col("total")
    )
    return (
        hit.groupBy("pr")
        .agg(
            F.max("n_orders").alias("n_orders"),
            (F.max("prior_rows") + F.min("rn")).alias("n_top"),
            F.max("prior_rev").alias("prior_rev"),
            F.max("total").alias("total"),
            F.min_by(F.col("cum2"), F.col("rn")).alias("cut_cum2"),
        )
        .select(
            F.col("pr").alias("o_orderpriority"),
            "n_orders",
            F.col("n_top").cast("long").alias("n_top"),
            ratio(F.col("n_top"), F.col("n_orders")).alias("top_frac"),
            ratio(
                F.col("prior_rev") + F.col("cut_cum2"), F.col("total")
            ).alias("rev_share"),
        )
    )


FUNNEL_CLICK_WIN_US = 3_600_000_000  # view → click within 1 h
FUNNEL_BUY_WIN_US = 86_400_000_000  # click → purchase within 24 h


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    t AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM ev),
    u1 AS (
        SELECT user_id,
               min(tsu) FILTER (WHERE event_type = 'view') AS s1
        FROM t GROUP BY user_id
    ),
    u2 AS (
        SELECT t.user_id, any_value(u1.s1) AS s1,
               min(t.tsu) FILTER (
                   WHERE t.event_type = 'click' AND t.tsu > u1.s1
                     AND t.tsu <= u1.s1 + {FUNNEL_CLICK_WIN_US}) AS s2
        FROM t JOIN u1 USING (user_id) GROUP BY t.user_id
    ),
    u3 AS (
        SELECT t.user_id, any_value(u2.s1) AS s1, any_value(u2.s2) AS s2,
               min(t.tsu) FILTER (
                   WHERE t.event_type = 'purchase' AND t.tsu > u2.s2
                     AND t.tsu <= u2.s2 + {FUNNEL_BUY_WIN_US}) AS s3
        FROM t JOIN u2 USING (user_id) GROUP BY t.user_id
    )
    SELECT count(*) AS n_users,
           count(s1) AS n_view,
           count(s2) AS n_click_1h,
           count(s3) AS n_purchase_24h,
           {sql_ratio("count(s3)", "count(*)")} AS conversion,
           {sql_ratio("count(s3)", "count(s1)")} AS view_to_buy
    FROM u3
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOXED ordered funnel view →(≤1 h) click →(≤24 h) purchase —
    the funnel product analytics actually ships: an unbounded funnel
    (`events_funnel`) credits a click that happens a month after the view;
    bounding each step's delay measures the *causal* journey. Same
    three-sequential-windowed-mins shape over ONE user_id exchange; each
    stage's window adds the upper delay bound, timestamps as exact integer
    microseconds; conversions via the boundary-proof quotient (NULL-safe
    on an empty view stage)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t, tsu = F.col("event_type"), F.unix_micros("ts")
    base = ev.select("user_id", t.alias("event_type"), tsu.alias("tsu"))
    tt, tu = F.col("event_type"), F.col("tsu")
    s1 = base.withColumn("s1", F.min(F.when(tt == "view", tu)).over(w))
    s2 = s1.withColumn(
        "s2",
        F.min(
            F.when(
                (tt == "click")
                & (tu > F.col("s1"))
                & (tu <= F.col("s1") + FUNNEL_CLICK_WIN_US),
                tu,
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "s3",
        F.min(
            F.when(
                (tt == "purchase")
                & (tu > F.col("s2"))
                & (tu <= F.col("s2") + FUNNEL_BUY_WIN_US),
                tu,
            )
        ).over(w),
    )
    per_user = s3.select("user_id", "s1", "s2", "s3").distinct()
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("s1").alias("n_view"),
        F.count("s2").alias("n_click_1h"),
        F.count("s3").alias("n_purchase_24h"),
        ratio(F.count("s3"), F.count("*")).alias("conversion"),
        ratio(F.count("s3"), F.count("s1")).alias("view_to_buy"),
    )


@register(
    "events_cohort_ltv",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM ev),
    first AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id),
    csize AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
    buy AS (
        SELECT e.user_id, date_trunc('week', e.ts) AS wk,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM ev e WHERE e.event_type = 'purchase'
    ),
    wkrev AS (
        SELECT first.cohort,
               CAST(date_diff('day', first.cohort, buy.wk) / 7 AS BIGINT)
                   AS week_no,
               CAST(sum(buy.cents) AS BIGINT) AS wk_rev_c
        FROM buy JOIN first USING (user_id)
        GROUP BY 1, 2
    ),
    tri AS (
        SELECT cohort, week_no, wk_rev_c,
               CAST(sum(wk_rev_c) OVER (
                   PARTITION BY cohort ORDER BY week_no
               ) AS BIGINT) AS cum_rev_c
        FROM wkrev
    )
    SELECT strftime(tri.cohort, '%Y-%m-%d') AS cohort_week,
           tri.week_no, tri.wk_rev_c, tri.cum_rev_c,
           CAST(csize.cohort_size AS BIGINT) AS cohort_size,
           {sql_ratio("tri.cum_rev_c", "100 * csize.cohort_size")} AS ltv
    FROM tri JOIN csize USING (cohort)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: per first-active-week cohort and week number,
    that week's purchase revenue, the CUMULATIVE revenue, and cumulative
    LTV per cohort user — the revenue twin of `events_retention_cohort`
    (retention says who came back; LTV says what coming back was worth,
    the number acquisition spend is actually judged against).

    Revenue accumulates as exact integer cents; the running sum windows
    the TINY (cohort × week) relation, never the fact table; cohort sizes
    join from the same user-keyed shuffle the cohort derivation used. LTV
    via the boundary-proof quotient (cents / (100 · users) → dollars)."""
    ev = table(spark, sf_dir, "events")
    act = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    csize = first.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    buy = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wkrev = (
        buy.join(first, "user_id")
        .groupBy(
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("long").alias("week_no"),
        )
        .agg(F.sum("cents").alias("wk_rev_c"))
    )
    wc = Window.partitionBy("cohort").orderBy("week_no")
    tri = wkrev.withColumn("cum_rev_c", F.sum("wk_rev_c").over(wc))
    return tri.join(F.broadcast(csize), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_no",
        "wk_rev_c",
        F.col("cum_rev_c").cast("long").alias("cum_rev_c"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        ratio(F.col("cum_rev_c"), 100 * F.col("cohort_size")).alias("ltv"),
    )


SKEW_TOP_N = 5  # heavy keys reported by the skew profiler


@register(
    "diag_key_skew",
    oracle=f"""
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY user_id
    ),
    t AS (
        SELECT CAST(sum(n_rows) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM c
    ),
    top AS (
        SELECT c.user_id, c.n_rows, t.total, t.n_keys,
               row_number() OVER (ORDER BY c.n_rows DESC, c.user_id) AS rk
        FROM c CROSS JOIN t
    )
    SELECT CAST(rk AS BIGINT) AS rank, user_id, n_rows, n_keys, total,
           {sql_ratio('n_rows', 'total')} AS share,
           {sql_ratio('n_rows * n_keys', 'total')} AS skew_x,
           CAST((n_rows * n_keys + total - 1) // total AS BIGINT)
               AS salt_parts
    FROM top WHERE rk <= {SKEW_TOP_N}
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the diagnostic a pipeline runs BEFORE a big
    keyed join/agg to decide whether (and how much) to salt. Reports the
    SKEW_TOP_N heaviest keys with their row share, their skew factor
    (`skew_x` = how many times the mean key weight this key carries — the
    number AQE's skew-join detector thresholds on), and the integer salt
    fan-out (`salt_parts` = ⌈key_rows / mean_rows⌉) that `join_skew_salted`
    would need to level that key across tasks.

    Scale shape: one partial+final hash agg builds the keys-sized count
    relation; the global totals reduce to ONE row (broadcast back via
    cross join); the top-N is a bounded TakeOrdered, never a full sort.
    All arithmetic is exact int64 (counts well under 2^31 even at 100 TB
    per-key, products under 2^62) with the boundary-proof quotient for the
    two ratios and a pure integer ceiling divide for the salt factor —
    no float anywhere an engine could disagree on.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    t = c.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.count("*").alias("n_keys"),
    )
    top = c.orderBy(F.desc("n_rows"), "user_id").limit(SKEW_TOP_N)
    w = Window.orderBy(F.desc("n_rows"), "user_id")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(t))
        .select(
            "rank",
            "user_id",
            "n_rows",
            "n_keys",
            "total",
            ratio(F.col("n_rows"), F.col("total")).alias("share"),
            ratio(F.col("n_rows") * F.col("n_keys"), F.col("total")).alias(
                "skew_x"
            ),
            F.expr(
                "(n_rows * n_keys + total - 1) div total"
            ).cast("long").alias("salt_parts"),
        )
    )


@register(
    "events_attribution_position",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    p AS (SELECT event_id AS pe, user_id, ts AS pts FROM ev
          WHERE event_type = 'purchase'),
    t AS (SELECT event_id AS te, user_id, ts AS tts, event_type AS ch
          FROM ev WHERE event_type IN ('view', 'click')),
    pairs AS (
        SELECT p.pe, t.te, t.ch,
               row_number() OVER (PARTITION BY p.pe
                                  ORDER BY t.tts, t.te) AS rn,
               count(*) OVER (PARTITION BY p.pe) AS n
        FROM p JOIN t USING (user_id)
        WHERE (t.tts < p.pts OR (t.tts = p.pts AND t.te < p.pe))
          AND epoch_us(p.pts) - epoch_us(t.tts) <= {ATTR_WINDOW_US}
    ),
    credited AS (
        SELECT ch, pe,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN rn = 1 OR rn = n THEN 400000
                    ELSE 200000 // (n - 2) END AS credit_u
        FROM pairs
    )
    SELECT ch,
           CAST(count(DISTINCT pe) AS BIGINT) AS n_conversions,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(credit_u) AS DOUBLE) / 1000000, 4) + 0.0
               AS credit
    FROM credited GROUP BY ch
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the third
    member of the attribution family next to last-touch: each purchase
    splits its credit 40% to the user's FIRST in-window touch, 40% to the
    LAST, and 20% evenly across the middle touches (1-touch paths get
    100%, 2-touch paths 50/50). Reported per channel with conversion and
    touch counts.

    EXACT by integer quantization: per-touch credit is a millionths
    integer (middle shares use integer division — the sub-millionth
    remainder is truncated identically in both engines), so the per-
    channel totals are order-free integer sums; no float accumulates.
    Scale shape: ONE user-keyed equi-join purchases×touches gated by the
    7-day lookback (the join is co-partitioned on user_id — the same
    exchange the sessionize family shares), then one window over
    per-purchase touch lists and one channel-keyed hash agg. Touch lists
    are lookback-bounded per purchase, so the window partitions stay
    small at any corpus size."""
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pe"), "user_id", F.col("ts").alias("pts")
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("te"),
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("ch"),
    )
    pairs = (
        p.join(t, "user_id")
        .where(
            (
                (F.col("tts") < F.col("pts"))
                | ((F.col("tts") == F.col("pts")) & (F.col("te") < F.col("pe")))
            )
            & (
                F.unix_micros("pts") - F.unix_micros("tts")
                <= ATTR_WINDOW_US
            )
        )
        .select("pe", "te", "ch", "tts")
    )
    w = Window.partitionBy("pe")
    wo = w.orderBy("tts", "te")
    credited = pairs.select(
        "ch",
        "pe",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(w).alias("n"),
    ).select(
        "ch",
        "pe",
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(400_000))
        .otherwise(F.expr("200000 div (n - 2)"))
        .alias("credit_u"),
    )
    return credited.groupBy("ch").agg(
        F.countDistinct("pe").alias("n_conversions"),
        F.count("*").alias("n_touches"),
        (
            F.round(F.sum("credit_u").cast("double") / 1_000_000, 4)
            + F.lit(0.0)
        ).alias("credit"),
    )


KS_TYPE_A = "purchase"
KS_TYPE_B = "click"
KS_PARTS = 8


@register(
    "agg_ks_test",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS ia
        FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ),
    g AS (
        SELECT v, CAST(sum(ia) AS BIGINT) AS c1,
               CAST(sum(1 - ia) AS BIGINT) AS c2
        FROM s GROUP BY v
    ),
    c AS (
        SELECT sum(c1) OVER (ORDER BY v) AS i,
               sum(c2) OVER (ORDER BY v) AS j
        FROM g
    ),
    t AS (SELECT CAST(sum(c1) AS BIGINT) AS n,
                 CAST(sum(c2) AS BIGINT) AS m FROM g)
    SELECT t.n, t.m,
           CAST(max(abs(c.i * t.m - c.j * t.n)) AS BIGINT) AS d_num,
           {sql_ratio("max(abs(c.i * t.m - c.j * t.n))", "t.n * t.m", 6)}
               AS d_stat
    FROM c, t
    GROUP BY t.n, t.m
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between the `{A}` and `{B}` value
    distributions — the standard distribution-drift test a pipeline runs
    before accepting a new data source against a reference sample.

    EXACT by integer arithmetic: at every merged-sample point,
    |F1(x) − F2(x)| = |i·m − j·n| / (n·m) with i, j the cumulative counts
    — so D's numerator is a pure int64 max and only the final report
    quantizes (6 dp).

    Scale shape: per-value partial counts (one hash agg) → range-bucketed
    cumulative sums (the `llm_global_sort_index` two-phase form: pivots
    from a deterministic percentile sketch, per-bucket window cumsum +
    driver prefix offsets of ≤ KS_PARTS longs) → one global max agg. The
    oracle's `sum() OVER (ORDER BY v)` total order would serialize into
    one task; every exchange here is bucket-parallel at any scale."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    g = (
        e.select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == KS_TYPE_A, 1)
            .otherwise(0)
            .alias("ia"),
        )
        .groupBy("v")
        .agg(
            F.sum("ia").cast("long").alias("c1"),
            F.sum(1 - F.col("ia")).cast("long").alias("c2"),
        )
    )
    pcts = [i / KS_PARTS for i in range(1, KS_PARTS)]
    pivots = g.agg(
        F.percentile_approx("v", pcts, 10_000).alias("p")
    ).first()["p"]
    bexpr = F.lit(0)
    for pv in pivots or ():  # None on an empty relation
        bexpr = bexpr + F.when(F.col("v") > F.lit(pv), 1).otherwise(0)
    b = g.withColumn("_b", bexpr)
    offs = sorted(
        b.groupBy("_b")
        .agg(F.sum("c1").alias("s1"), F.sum("c2").alias("s2"))
        .collect()
    )
    off1, off2, a1, a2 = {}, {}, 0, 0
    for r in offs:
        off1[r._b], off2[r._b] = a1, a2
        a1 += r.s1
        a2 += r.s2
    n, m = a1, a2  # sample sizes, known exactly from the offset pass
    def _off(d: dict) -> F.Column:
        return F.coalesce(
            *[F.when(F.col("_b") == k, F.lit(v)) for k, v in d.items()],
            F.lit(0),
        ) if d else F.lit(0)
    w = (
        Window.partitionBy("_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.select(
        (_off(off1) + F.sum("c1").over(w)).alias("i"),
        (_off(off2) + F.sum("c2").over(w)).alias("j"),
    )
    d_num = F.max(
        F.abs(F.col("i") * F.lit(m) - F.col("j") * F.lit(n))
    )
    return c.agg(
        F.lit(n).cast("long").alias("n"),
        F.lit(m).cast("long").alias("m"),
        d_num.cast("long").alias("d_num"),
        ratio(d_num, F.lit(n * m), 6).alias("d_stat"),
    ).where(F.lit(n + m > 0))  # no sample values: no group, as in SQL


agg_ks_test.__doc__ = agg_ks_test.__doc__.replace("{A}", KS_TYPE_A).replace(
    "{B}", KS_TYPE_B
)


@register(
    "win_pattern_vshape",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    s AS (
        SELECT user_id, value,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           min(v1) AS deepest_dip
    FROM s
    WHERE v1 < value AND v1 < v2
    GROUP BY user_id
    """,
)
def win_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection, the
    drop-then-recover "V": three consecutive events per user (ordered by
    ts, event_id) where the middle value is a strict local minimum —
    the SQL:2016 `PATTERN (A B C)` row-pattern shape expressed with the
    primitives Spark has (two `lead`s + a filter), since Spark lacks
    MATCH_RECOGNIZE.

    EXACT: only comparisons and a min over raw parquet doubles — no
    float arithmetic to diverge. Scale shape: one user-partitioned
    window (co-partitioned with every other per-user analytic — the
    sessionize/funnel shuffle reused), then a user-keyed hash agg;
    pattern matching never leaves the user's partition."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "value",
            F.lead("value", 1).over(w).alias("v1"),
            F.lead("value", 2).over(w).alias("v2"),
        )
        .where((F.col("v1") < F.col("value")) & (F.col("v1") < F.col("v2")))
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_vshapes"),
        F.min("v1").alias("deepest_dip"),
    )


@register(
    "events_concentration_hhi",
    oracle=f"""
    WITH c AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cu
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cu) AS BIGINT) AS n_events,
           {sql_ratio("sum(cu * cu)", "sum(cu) * sum(cu)", 6)} AS hhi
    FROM c
    GROUP BY event_type
    """,
)
def events_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman activity-concentration index per event type —
    the standard "is this traffic a few whales or a broad base" KPI
    (HHI = Σᵤ shareᵤ² ; 1/n_users for a uniform base, →1 for a single
    dominant user). The same number a data pipeline reads as key-skew
    risk before a user-keyed shuffle.

    EXACT: HHI = Σcᵤ²/N² is a pure int64 quotient, quantized only in the
    final 6-dp report. Scale shape: two stacked hash aggs — per
    (type,user) partial counts, then a types-sized reduce; both
    map-side-combinable, output bounded by the type vocabulary."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("long").alias("cu"))
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cu").cast("long").alias("n_events"),
        ratio(
            F.sum(F.col("cu") * F.col("cu")),
            F.sum("cu") * F.sum("cu"),
            6,
        ).alias("hhi"),
    )


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS ia
        FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ),
    g AS (
        SELECT v, CAST(sum(ia) AS BIGINT) AS c1,
               CAST(sum(1 - ia) AS BIGINT) AS c2
        FROM s GROUP BY v
    ),
    c AS (
        SELECT c1, c2,
               coalesce(sum(c1 + c2) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM g
    ),
    t AS (SELECT CAST(sum(c1) AS BIGINT) AS n,
                 CAST(sum(c2) AS BIGINT) AS m FROM g)
    SELECT t.n, t.m,
           CAST(sum(c.c1 * (2 * c.below + c.c1 + c.c2 + 1)) - t.n * (t.n + 1)
                AS BIGINT) AS u_a_x2,
           {sql_ratio(
               "sum(c.c1 * (2 * c.below + c.c1 + c.c2 + 1)) - t.n * (t.n + 1)",
               "2 * t.n * t.m", 6)} AS auc
    FROM c, t
    GROUP BY t.n, t.m
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between the same two samples as `agg_ks_test` —
    the rank-sum drift test whose normalized U IS the AUC ("probability
    a random A value exceeds a random B value"), the standard effect-size
    companion to KS's max-gap.

    EXACT with midrank ties entirely in int64: for a tied group of size
    c = c1+c2 preceded by `below` smaller values, twice the A-rank-sum
    contribution is c1·(2·below + c + 1), so 2U = Σ(...) − n(n+1) never
    touches a fraction; only the final AUC quantizes (6 dp).

    Scale shape: identical to `agg_ks_test` — per-value hash agg, then
    range-bucketed EXCLUSIVE cumulative counts (per-bucket window +
    driver prefix offsets), one global sum; no single-task total order
    anywhere."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    g = (
        e.select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == KS_TYPE_A, 1)
            .otherwise(0)
            .alias("ia"),
        )
        .groupBy("v")
        .agg(
            F.sum("ia").cast("long").alias("c1"),
            F.sum(1 - F.col("ia")).cast("long").alias("c2"),
        )
    )
    pcts = [i / KS_PARTS for i in range(1, KS_PARTS)]
    pivots = g.agg(
        F.percentile_approx("v", pcts, 10_000).alias("p")
    ).first()["p"]
    bexpr = F.lit(0)
    for pv in pivots or ():  # None on an empty relation
        bexpr = bexpr + F.when(F.col("v") > F.lit(pv), 1).otherwise(0)
    b = g.withColumn("_b", bexpr)
    offs = sorted(
        b.groupBy("_b")
        .agg(F.sum(F.col("c1") + F.col("c2")).alias("s"),
             F.sum("c1").alias("s1"))
        .collect()
    )
    off, a_tot, n = {}, 0, 0
    for r in offs:
        off[r._b] = a_tot
        a_tot += r.s
        n += r.s1
    m = a_tot - n
    offc = F.coalesce(
        *[F.when(F.col("_b") == k, F.lit(v)) for k, v in off.items()],
        F.lit(0),
    ) if off else F.lit(0)
    w = (
        Window.partitionBy("_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = b.select(
        "c1",
        "c2",
        (offc + F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0)))
        .alias("below"),
    )
    two_r1 = F.sum(
        F.col("c1") * (2 * F.col("below") + F.col("c1") + F.col("c2") + 1)
    )
    u_x2 = two_r1 - F.lit(n * (n + 1))
    return c.agg(
        F.lit(n).cast("long").alias("n"),
        F.lit(m).cast("long").alias("m"),
        u_x2.cast("long").alias("u_a_x2"),
        ratio(u_x2, F.lit(2 * n * m), 6).alias("auc"),
    ).where(F.lit(n + m > 0))  # no sample values: no group, as in SQL


@register(
    "agg_chi_square",
    oracle="""
    WITH o AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY source, lang
    ),
    r AS (SELECT source, CAST(sum(obs) AS BIGINT) AS rt FROM o GROUP BY source),
    c AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS ct FROM o GROUP BY lang),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
    grid AS (
        -- the FULL marginal cross product: zero cells (a (source, lang)
        -- combo never observed) still carry E = r·c/N into the statistic
        SELECT r.source, c.lang, r.rt, c.ct,
               coalesce(o.obs, 0) AS obs
        FROM r CROSS JOIN c
        LEFT JOIN o ON o.source = r.source AND o.lang = c.lang
    ),
    cells AS (
        -- residual cast to DOUBLE BEFORE squaring: the residual itself is
        -- <= N and exact in double up to 2^53, but its square reaches N^2
        -- and would wrap silently in int64 beyond ~3e9 total rows
        SELECT CAST(floor((2000000.0 *
                   (CAST(g.obs * t.n - g.rt * g.ct AS DOUBLE) *
                    CAST(g.obs * t.n - g.rt * g.ct AS DOUBLE))
                   + CAST(g.rt * g.ct * t.n AS DOUBLE))
                   / (2.0 * CAST(g.rt * g.ct * t.n AS DOUBLE))) AS BIGINT)
                   AS micro
        FROM grid g CROSS JOIN t
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM grid) AS n_cells,
           (SELECT CAST((count(DISTINCT source) - 1) AS BIGINT) *
                   (SELECT count(DISTINCT lang) - 1 FROM o) FROM o) AS dof,
           CAST(sum(micro) AS BIGINT) AS chi2_micro,
           CAST(sum(micro) AS DOUBLE) / 1000000.0 AS chi2
    FROM cells
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test of the source × lang contingency
    table — the categorical-drift screen ("does language mix depend on
    source?") run before trusting per-source quotas.

    Cross-engine determinism without HUGEINT: each cell's residual
    O·N − r·c is formed in EXACT int64, cast to double (≤ 2⁵³, lossless
    at these magnitudes), squared IN DOUBLE (the square would overflow
    int64 beyond ~3e9 rows), half-away-quantized to
    integer micros by the same floor((2e6·A + B)/(2B)) both engines
    evaluate with identical IEEE ops, then SUMMED AS INTEGERS — so the
    total is order-free and hash-stable, unlike a float χ² sum.

    Scale shape: one (source,lang) hash agg (vocab²-bounded), two
    marginal reductions broadcast back, map-side cell math, one global
    integer sum."""
    o = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("obs"))
    )
    r = o.groupBy("source").agg(F.sum("obs").cast("long").alias("rt"))
    c = o.groupBy("lang").agg(F.sum("obs").cast("long").alias("ct"))
    t = o.agg(F.sum("obs").cast("long").alias("n"))
    # the FULL marginal cross product: zero cells (a (source, lang) combo
    # never observed) still carry E = r·c/N into the statistic
    grid = (
        r.crossJoin(c)
        .join(F.broadcast(o), ["source", "lang"], "left")
        .select(
            "rt", "ct", F.coalesce(F.col("obs"), F.lit(0)).alias("obs")
        )
    )
    cells = grid.crossJoin(F.broadcast(t))
    # residual → double BEFORE squaring: the residual is ≤ N (exact in a
    # double up to 2⁵³) but its square reaches N² and would wrap silently
    # in non-ANSI int64 arithmetic beyond ~3e9 total rows
    resid = (
        F.col("obs") * F.col("n") - F.col("rt") * F.col("ct")
    ).cast("double")
    a = resid * resid
    bden = (F.col("rt") * F.col("ct") * F.col("n")).cast("double")
    micro = F.floor(
        (F.lit(2000000.0) * a + bden) / (F.lit(2.0) * bden)
    ).cast("long")
    stats = o.agg(
        (F.countDistinct("source") * F.countDistinct("lang"))
        .cast("long")
        .alias("n_cells"),
        (
            (F.countDistinct("source") - 1) * (F.countDistinct("lang") - 1)
        ).cast("long").alias("dof"),
    )
    total = cells.agg(F.sum(micro).cast("long").alias("chi2_micro"))
    return stats.crossJoin(total).select(
        "n_cells",
        "dof",
        "chi2_micro",
        (F.col("chi2_micro").cast("double") / F.lit(1000000.0)).alias("chi2"),
    )


@register(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    d AS (
        SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
        FROM ev GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(c) AS BIGINT) AS total FROM d),
    s AS (
        SELECT day,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
               CAST(sum(c) OVER (ORDER BY day) AS BIGINT) AS pre
        FROM d
    )
    SELECT t.nd AS n_days, t.total,
           CAST(max(abs(t.nd * s.pre - s.i * t.total)) AS BIGINT)
               AS cusum_peak,
           CAST(min(s.day) FILTER (WHERE abs(t.nd * s.pre - s.i * t.total) =
               (SELECT max(abs(t2.nd * s2.pre - s2.i * t2.total))
                FROM s s2, t t2)) AS TIMESTAMP) AS cp_day
    FROM s, t
    GROUP BY t.nd, t.total
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-count series —
    "did the level shift, and when": the peak of the cumulative deviation
    from the global mean marks the most likely changepoint (Page 1954's
    cumulative-sum chart in its retrospective form).

    EXACT: deviations are scaled by n_days so the cumulative statistic
    is the int64 `n_days·prefix_i − i·total` — no float mean anywhere;
    the argmax ties break to the earliest day. Scale shape: one
    day-keyed hash agg (map-side combinable) reduces the corpus to a
    days-BOUNDED relation; the single-partition window over days is a
    bounded post-reduction (same discipline as every other calendar
    window in this file), and the peak is one TakeOrdered row."""
    e = table(spark, sf_dir, "events")
    d = (
        e.select(F.date_trunc("day", "ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("c"))
    )
    t = d.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("c").cast("long").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wi = Window.orderBy("day")
    s = d.select(
        "day",
        F.row_number().over(wi).cast("long").alias("i"),
        F.sum("c").over(w).cast("long").alias("pre"),
    )
    stat = s.crossJoin(F.broadcast(t)).select(
        "day",
        "nd",
        "total",
        F.abs(F.col("nd") * F.col("pre") - F.col("i") * F.col("total")).alias(
            "dev"
        ),
    )
    return (
        stat.orderBy(F.desc("dev"), F.asc("day"))
        .limit(1)
        .select(
            F.col("nd").alias("n_days"),
            "total",
            F.col("dev").cast("long").alias("cusum_peak"),
            F.col("day").alias("cp_day"),
        )
    )


@register(
    "ts_max_drawdown",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT day, rev,
               CAST(max(rev) OVER (ORDER BY day) AS BIGINT) AS runmax
        FROM d
    )
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
           CAST(max(runmax - rev) AS BIGINT) AS max_drawdown_cents,
           CAST(min(day) FILTER (WHERE runmax - rev =
               (SELECT max(s2.runmax - s2.rev) FROM s s2)) AS TIMESTAMP)
               AS trough_day
    FROM s
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the DAILY order-revenue series — the worst
    drop from the best revenue day seen so far (runmax(rev) − rev, maxed
    over days): the slump-severity summary a revenue monitor pages on.
    Deliberately over the LEVEL series, not the cumulative curve — a
    cumulative sum of positive revenue is nondecreasing, so its drawdown
    is identically zero; the level series is where the signal lives.

    EXACT: revenue is integer cents, so rev / runmax / drawdown are all
    int64 and the argmax ties break to the earliest day — no float
    anywhere. Scale shape: one day-keyed hash agg (map-side combinable)
    reduces the corpus to a days-bounded relation; the ordered window
    and the final max run over that bounded series (same post-reduction
    discipline as the other calendar windows here)."""
    o = table(spark, sf_dir, "orders")
    d = (
        o.select(
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = d.select(
        "day", "rev", F.max("rev").over(wc).cast("long").alias("runmax")
    )
    n = d.agg(F.count("*").cast("long").alias("n_days"))
    worst = (
        s.select("day", (F.col("runmax") - F.col("rev")).alias("dd"))
        .orderBy(F.desc("dd"), F.asc("day"))
        .limit(1)
    )
    # n is one row even over no orders; the left join keeps it, with NULL
    # drawdown and day, as the oracle's ungrouped aggregate does
    return (
        n.join(worst, how="left")
        .select(
            "n_days",
            F.col("dd").cast("long").alias("max_drawdown_cents"),
            F.col("day").alias("trough_day"),
        )
    )


KM_CHURN_HOURS = 24  # a user silent this long before corpus end has churned


@register(
    "events_survival_km",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    m AS (SELECT max(ts) AS mt FROM ev),
    u AS (SELECT user_id, min(ts) AS f, max(ts) AS l FROM ev GROUP BY user_id),
    d AS (
        SELECT date_diff('day', u.f, u.l) AS t,
               CASE WHEN u.l < m.mt - INTERVAL {KM_CHURN_HOURS} HOUR
                    THEN 1 ELSE 0 END AS churn
        FROM u, m
    ),
    s AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n_at,
               CAST(sum(churn) AS BIGINT) AS n_churn
        FROM d GROUP BY t
    ),
    r AS (
        SELECT t, n_churn,
               CAST(sum(n_at) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk,
               CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
        FROM s
    ),
    fl AS (
        SELECT list(CAST(n_risk - n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE)
                    ORDER BY t) AS fs
        FROM r
    )
    SELECT r.t AS t_day, r.n_risk, r.n_churn,
           list_reduce(fl.fs[1:CAST(r.i AS INTEGER)], (x, y) -> x * y)
               AS survival
    FROM r, fl
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: lifetime = days
    between a user's first and last event; a user silent for
    {KM_CHURN_HOURS} h before the corpus's last timestamp counts as
    churned (event), everyone else is right-censored at corpus end — the
    product-limit estimator S(t) = Π_(t_i ≤ t) (1 − d_i/n_i) that
    retention analytics is built on (Kaplan & Meier 1958).

    Cross-engine determinism for the cumulative product: each step factor
    is the EXACT double (n_risk − d)/n_risk (int64 operands ≪ 2⁵³), and
    S(t_i) is a LEFT FOLD of the time-ordered factor prefix — Spark's
    `aggregate(slice(...))` and DuckDB's `list_reduce(l[1:i])` multiply
    the same doubles in the same order, so the result is bit-identical
    with no rounding step. Scale shape: one user-keyed hash agg reduces
    the corpus to users, one lifetime-day agg reduces users to ≤ span
    days; the window/fold run on that bounded relation (the factor array
    is days-sized, broadcast to days-sized rows)."""
    e = table(spark, sf_dir, "events")
    m = e.agg(F.max("ts").alias("mt"))
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    d = u.crossJoin(F.broadcast(m)).select(
        F.datediff("l", "f").cast("long").alias("t"),
        F.when(
            F.col("l") < F.col("mt") - F.expr(f"INTERVAL {KM_CHURN_HOURS} HOURS"),
            1,
        )
        .otherwise(0)
        .alias("churn"),
    )
    s = d.groupBy("t").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("churn").cast("long").alias("n_churn"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = s.select(
        "t",
        "n_churn",
        F.sum("n_at").over(wdesc).cast("long").alias("n_risk"),
        F.row_number().over(Window.orderBy("t")).cast("long").alias("i"),
    )
    fl = r.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("t", "n_risk", "n_churn"))
            ),
            lambda x: (x.n_risk - x.n_churn).cast("double")
            / x.n_risk.cast("double"),
        ).alias("fs")
    )
    return r.crossJoin(F.broadcast(fl)).select(
        F.col("t").alias("t_day"),
        "n_risk",
        "n_churn",
        F.aggregate(
            F.slice("fs", F.lit(1), F.col("i").cast("int")),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("survival"),
    )


@register(
    "agg_welch_ttest",
    oracle=f"""
    WITH g AS (
        SELECT CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS ia,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ),
    s AS (
        SELECT CAST(sum(ia) AS BIGINT) AS n1,
               CAST(count(*) - sum(ia) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN ia = 1 THEN c ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN ia = 0 THEN c ELSE 0 END) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN ia = 1 THEN c * c ELSE 0 END) AS BIGINT)
                   AS q1,
               CAST(sum(CASE WHEN ia = 0 THEN c * c ELSE 0 END) AS BIGINT)
                   AS q2
        FROM g
    ),
    m AS (
        SELECT n1, n2,
               CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
               (CAST(q1 AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / n1) * CAST(s1 AS DOUBLE)) / (n1 - 1)
                   AS v1,
               (CAST(q2 AS DOUBLE)
                - (CAST(s2 AS DOUBLE) / n2) * CAST(s2 AS DOUBLE)) / (n2 - 1)
                   AS v2
        FROM s
    )
    SELECT n1 AS n_a, n2 AS n_b,
           round(m1 / 100.0, 4) + 0.0 AS mean_a,
           round(m2 / 100.0, 4) + 0.0 AS mean_b,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) + 0.0 AS t_stat,
           round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) + 0.0 AS dof
    FROM m
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the same two event samples
    as `agg_ks_test`/`agg_mann_whitney` — the parametric mean-shift
    companion to their distribution/rank tests, with the
    Welch–Satterthwaite degrees of freedom.

    EXACT cross-engine: values carry exactly 2 decimals (fixture
    invariant the parity module's `ravg` already leans on), so cents are
    exact int64 and Σc, Σc² are order-free integer sums; every following
    op (divisions, subtraction, multiply, sqrt — all IEEE
    correctly-rounded) runs in the IDENTICAL order on both engines, and
    cents cancel in t and dof (scale-invariant statistics). Σc² stays
    exact in a double while < 2⁵³ ≈ 9e15 — holds past 1e9 rows at these
    magnitudes (the chi² docstring regime).

    Scale shape: ONE map-side partial + 1-row final agg over a pushed
    two-type scan filter — no shuffle beyond the 6-long exchange."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    ia = F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)
    c = F.round(F.col("value") * 100, 0).cast("long")
    g = e.select(ia.alias("ia"), c.alias("c"))
    s = g.agg(
        F.sum("ia").cast("long").alias("n1"),
        (F.count("*") - F.sum("ia")).cast("long").alias("n2"),
        F.sum(F.when(F.col("ia") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("ia") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("ia") == 1, F.col("c") * F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("q1"),
        F.sum(
            F.when(F.col("ia") == 0, F.col("c") * F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("q2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("q1").cast("double")
        - (F.col("s1").cast("double") / F.col("n1"))
        * F.col("s1").cast("double")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("q2").cast("double")
        - (F.col("s2").cast("double") / F.col("n2"))
        * F.col("s2").cast("double")
    ) / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    dof = (se2 * se2) / (
        (v1 / F.col("n1")) * (v1 / F.col("n1")) / (F.col("n1") - 1)
        + (v2 / F.col("n2")) * (v2 / F.col("n2")) / (F.col("n2") - 1)
    )
    return s.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        (F.round(m1 / 100.0, 4) + F.lit(0.0)).alias("mean_a"),
        (F.round(m2 / 100.0, 4) + F.lit(0.0)).alias("mean_b"),
        (F.round((m1 - m2) / F.sqrt(se2), 4) + F.lit(0.0)).alias("t_stat"),
        (F.round(dof, 4) + F.lit(0.0)).alias("dof"),
    )


DID_SPLIT = "2024-01-15"  # pre/post boundary inside the fixture's event month


@register(
    "events_diff_in_diff",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    g AS (
        SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
               CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}' THEN 1 ELSE 0 END
                   AS post,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM ev WHERE event_type = 'purchase'
    ),
    cells AS (
        SELECT treated, post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s
        FROM g GROUP BY treated, post
    ),
    w AS (
        SELECT
            max(CASE WHEN treated = 1 AND post = 0
                     THEN CAST(s AS DOUBLE) / n END) AS m_t0,
            max(CASE WHEN treated = 1 AND post = 1
                     THEN CAST(s AS DOUBLE) / n END) AS m_t1,
            max(CASE WHEN treated = 0 AND post = 0
                     THEN CAST(s AS DOUBLE) / n END) AS m_c0,
            max(CASE WHEN treated = 0 AND post = 1
                     THEN CAST(s AS DOUBLE) / n END) AS m_c1,
            CAST(sum(n) AS BIGINT) AS n_events
        FROM cells
    )
    SELECT n_events,
           round(m_t0 / 100.0, 4) + 0.0 AS mean_treated_pre,
           round(m_t1 / 100.0, 4) + 0.0 AS mean_treated_post,
           round(m_c0 / 100.0, 4) + 0.0 AS mean_control_pre,
           round(m_c1 / 100.0, 4) + 0.0 AS mean_control_post,
           round(((m_t1 - m_t0) - (m_c1 - m_c0)) / 100.0, 4) + 0.0 AS did
    FROM w
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over purchase values — the
    canonical quasi-experimental effect readout ((treated post − pre) −
    (control post − pre)) the product-analytics family (funnel, retention,
    Wilson CI) was missing. Treatment assignment is the deterministic
    user_id parity (a real rollout passes its assignment relation);
    period split at {DID_SPLIT}.

    EXACT cross-engine by the Welch discipline: 2-decimal values →
    exact int64 cent sums per (treated, post) cell (order-free), then an
    identical sequence of correctly-rounded IEEE divisions/subtractions;
    dollar rescale only at the output edge.

    Scale shape: ONE 4-cell hash agg over a pushed single-type scan
    filter, cells pivoted map-side — no join, no window, no shuffle
    beyond the 4-row exchange."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    g = e.select(
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treated"),
        F.when(F.col("ts") >= F.lit(DID_SPLIT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    cells = g.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )

    def cell_mean(t: int, p: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("s").cast("double") / F.col("n"),
            )
        )

    w = cells.agg(
        cell_mean(1, 0).alias("m_t0"),
        cell_mean(1, 1).alias("m_t1"),
        cell_mean(0, 0).alias("m_c0"),
        cell_mean(0, 1).alias("m_c1"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return w.select(
        "n_events",
        (F.round(F.col("m_t0") / 100.0, 4) + F.lit(0.0)).alias(
            "mean_treated_pre"
        ),
        (F.round(F.col("m_t1") / 100.0, 4) + F.lit(0.0)).alias(
            "mean_treated_post"
        ),
        (F.round(F.col("m_c0") / 100.0, 4) + F.lit(0.0)).alias(
            "mean_control_pre"
        ),
        (F.round(F.col("m_c1") / 100.0, 4) + F.lit(0.0)).alias(
            "mean_control_post"
        ),
        (
            F.round(
                (
                    (F.col("m_t1") - F.col("m_t0"))
                    - (F.col("m_c1") - F.col("m_c0"))
                )
                / 100.0,
                4,
            )
            + F.lit(0.0)
        ).alias("did"),
    )


# Shared formula text (the _CC_FORMULAS discipline): both engines apply the
# IDENTICAL expression string to bit-identical decimal->double sums, so the
# pre-round doubles agree even where n*sxy exceeds double's exact-integer
# range — identical rounding, not exactness, is what the gate needs.
_CUPED_FORMULAS = {
    "theta": "round((nd*sxy - sx*sy)/(nd*sxx - sx*sx), 4) + 0.0",
    "rho2": (
        "round(((nd*sxy - sx*sy)*(nd*sxy - sx*sy))"
        "/((nd*sxx - sx*sx)*(nd*syy - sy*sy)), 4) + 0.0"
    ),
}


@register(
    "events_cuped_adjustment",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '{DID_SPLIT}'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(sum(CASE WHEN ts < TIMESTAMP '{DID_SPLIT}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_post
        FROM ev WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    b AS (SELECT * FROM u WHERE n_pre > 0 AND n_post > 0),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        FROM b
    )
    SELECT n AS n_users,
           {_CUPED_FORMULAS["theta"]} AS theta,
           {_CUPED_FORMULAS["rho2"]} AS rho2
    FROM s
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, "Improving the
    Sensitivity of Online Controlled Experiments by Utilizing Pre-
    Experiment Data" — the standard A/B adjustment, public): per-user
    pre-period purchase spend is the covariate X, post-period spend the
    metric Y (both periods required — the paper's complete-case form);
    θ = cov(X,Y)/var(X) is the adjustment coefficient and ρ² the
    variance-reduction fraction var(Y−θX)/var(Y) achieves. Companion to
    `events_diff_in_diff`: DiD estimates the effect, CUPED says how much
    experiment sensitivity the pre-period buys.

    Parity: exact cent sums per user (int64), exact decimal(38) moment
    sums, then the SHARED `_CUPED_FORMULAS` expression text on both
    engines — identical doubles in, identical rounding out (the
    `agg_corr_cov` discipline).

    Scale shape: one users-keyed hash agg (map-side partial) → one 7-long
    global agg → a 1-row projection; no joins, no windows."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    split = F.lit(DID_SPLIT).cast("timestamp")
    c = F.round(F.col("value") * 100, 0).cast("long")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, c).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, c).otherwise(0))
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0))
        .cast("long")
        .alias("n_pre"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0))
        .cast("long")
        .alias("n_post"),
    )
    b = u.where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
    dec = "decimal(38,0)"
    s = b.agg(
        F.count("*").cast("long").alias("n"),
        F.count("*").cast("double").alias("nd"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.expr(_CUPED_FORMULAS["theta"]).alias("theta"),
        F.expr(_CUPED_FORMULAS["rho2"]).alias("rho2"),
    )


# upper bound on the daily-series length the Holt fold enumerates — far
# above any fixture span (the events table covers ~1 month; 4096 days is
# 11+ years) and GUARDED in the Spark path: a series that ever reached it
# would raise rather than silently truncate identically on both engines
# (which the parity gate could not catch).
HOLT_MAX_DAYS = 4096


def _holt_merge_sql() -> str:
    """The (acc, x) -> [level', trend'] lambda body, shared by eye between
    engines (α = β = 0.5; level' appears twice because neither engine's
    lambda has a let-binding — both evaluate the identical expression)."""
    newl = "0.5 * x[1] + 0.5 * (acc[1] + acc[2])"
    return f"[{newl}, 0.5 * (({newl}) - acc[1]) + 0.5 * acc[2]]"


@register(
    "ts_holt_smoothing",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    d AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM ev GROUP BY 1
    ),
    arr AS (
        -- mirror of the Spark-side HOLT_MAX_DAYS guard: past the bound
        -- BOTH engines fail loudly instead of one silently truncating
        SELECT list(y ORDER BY day) AS ys, list(day ORDER BY day) AS days,
               CASE WHEN count(*) >= {HOLT_MAX_DAYS}
                    THEN CAST(error('ts_holt_smoothing: series exceeds '
                                    'HOLT_MAX_DAYS={HOLT_MAX_DAYS}')
                              AS INTEGER)
                    ELSE CAST(count(*) AS INTEGER) END AS nd
        FROM d
    ),
    st AS (
        SELECT days[i] AS day, ys[i] AS y, i,
               list_reduce(
                   list_prepend(
                       [CAST(ys[1] AS DOUBLE),
                        CAST(ys[2] - ys[1] AS DOUBLE)],
                       list_transform(ys[2:i], v -> [CAST(v AS DOUBLE), 0.0])
                   ),
                   (acc, x) -> {_holt_merge_sql()}
               ) AS s
        FROM arr CROSS JOIN (SELECT unnest(range(1, {HOLT_MAX_DAYS})) AS i)
        WHERE i <= nd
    )
    SELECT day, y,
           round(s[1], 4) + 0.0 AS level,
           round(s[2], 4) + 0.0 AS trend,
           round(lag(s[1]) OVER (ORDER BY day)
                 + lag(s[2]) OVER (ORDER BY day), 4) + 0.0 AS forecast
    FROM st
    """,
)
def ts_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of the daily event-count series
    (level + trend, the forecast primitive one step up from `ts_ewma`),
    with the one-step-ahead forecast l_{{t-1}} + b_{{t-1}} per day — the
    capacity-planning readout.

    EXACT without any lattice: α = β = 0.5 are DYADIC, so every state is
    a dyadic rational whose mantissa grows ≤ 1 bit per step — with int64
    daily counts (~13 bits) and a ~30-day fixture the state stays EXACTLY
    representable in a double, and even past 53 bits both engines run the
    IDENTICAL fold (Spark `aggregate(slice(...))`, DuckDB
    `list_reduce(l[2:i])` — the `events_survival_km` device, with a
    2-slot array as the (level, trend) state) so results stay
    bit-identical. Scale shape: the corpus reduces to ≤ span-days rows in
    one hash agg; the O(D²) prefix folds run on that bounded relation."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    arr = (
        d.agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("rows"))
        .select(
            F.transform("rows", lambda r: r.y).alias("ys"),
            F.transform("rows", lambda r: r.day).alias("days"),
            F.size("rows").alias("nd"),
        )
        # guard, not truncation: a span beyond HOLT_MAX_DAYS raises
        # instead of silently dropping rows identically on both engines
        .where(
            F.when(F.col("nd") < F.lit(HOLT_MAX_DAYS), F.lit(True)).otherwise(
                F.raise_error(
                    F.format_string(
                        "ts_holt_smoothing: series of %s days exceeds "
                        "HOLT_MAX_DAYS=%s", F.col("nd"), F.lit(HOLT_MAX_DAYS)
                    )
                ).cast("boolean")
            )
        )
    )
    idx = spark.range(1, HOLT_MAX_DAYS).select(
        F.col("id").cast("int").alias("i")
    )
    init = F.array(
        F.element_at("ys", 1).cast("double"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).cast("double"),
    )

    def merge(acc, x):
        newl = F.lit(0.5) * F.element_at(x, 1) + F.lit(0.5) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        newb = F.lit(0.5) * (
            newl - F.element_at(acc, 1)
        ) + F.lit(0.5) * F.element_at(acc, 2)
        return F.array(newl, newb)

    st = (
        arr.crossJoin(F.broadcast(idx))
        .where(F.col("i") <= F.col("nd"))
        .select(
            F.element_at("days", F.col("i")).alias("day"),
            F.element_at("ys", F.col("i")).alias("y"),
            F.aggregate(
                F.transform(
                    F.slice("ys", 2, F.col("i") - 1),
                    lambda v: F.array(v.cast("double"), F.lit(0.0)),
                ),
                init,
                merge,
            ).alias("s"),
        )
    )
    w = Window.orderBy("day")
    return st.select(
        "day",
        "y",
        (F.round(F.element_at("s", 1), 4) + F.lit(0.0)).alias("level"),
        (F.round(F.element_at("s", 2), 4) + F.lit(0.0)).alias("trend"),
        (
            F.round(
                F.lag(F.element_at("s", 1)).over(w)
                + F.lag(F.element_at("s", 2)).over(w),
                4,
            )
            + F.lit(0.0)
        ).alias("forecast"),
    )


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    hourly AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, h, n,
               row_number() OVER (PARTITION BY event_type ORDER BY n, h)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS c
        FROM hourly
    ),
    med AS (
        SELECT event_type, n AS med FROM m WHERE rn = (c + 1) // 2
    ),
    dev AS (
        SELECT hourly.event_type, h, n, med, abs(n - med) AS d
        FROM hourly JOIN med USING (event_type)
    ),
    dm AS (
        SELECT event_type, h, n, med, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d, h)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS c
        FROM dev
    ),
    mad AS (
        SELECT event_type, d AS mad FROM dm WHERE rn = (c + 1) // 2
    )
    SELECT dev.event_type, dev.h, dev.n, dev.med, mad.mad,
           CASE WHEN mad.mad > 0 THEN
               round(0.6745 * (dev.n - dev.med) / mad.mad, 4) + 0.0
           END AS robust_z,
           (mad.mad > 0 AND
            abs(0.6745 * (dev.n - dev.med) / mad.mad) > 3.5) AS is_anomaly
    FROM dev JOIN mad USING (event_type)
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly flags over the hourly event-rate series
    — the outlier-resistant twin of `events_anomaly_zscore` (a single
    traffic spike inflates mean AND stddev, masking itself; the median
    and the median-absolute-deviation barely move). Robust z =
    0.6745·(n − med)/MAD with the |z| > 3.5 rule (Iglewicz & Hoaglin
    1993 — the standard modified-z-score test, public).

    Exactness: medians are POSITION-PICKED integers (the element at rank
    (c+1) div 2 of the sorted series — both engines pick the identical
    value, no interpolated float median), deviations are exact int64, and
    the only float expression is the final identical-text robust-z;
    MAD = 0 partitions emit NULL z instead of ±inf.

    Scale shape: the corpus reduces to a calendar-bounded hourly relation
    in one hash agg; two window passes + a types-sized broadcast join do
    the rest — cost independent of raw event volume."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("long").alias("n"))

    def pick_median(df: DataFrame, col: str, out: str) -> DataFrame:
        wp = Window.partitionBy("event_type").orderBy(col, "h")
        wc = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(col),
                F.row_number().over(wp).alias("rn"),
                F.count("*").over(wc).alias("c"),
            )
            .where(F.col("rn") == F.expr("(c + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = pick_median(hourly, "n", "med")
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("n") - F.col("med"))
    )
    mad = pick_median(dev, "d", "mad")
    out = dev.join(F.broadcast(mad), "event_type")
    rz = F.lit(0.6745) * (F.col("n") - F.col("med")) / F.col("mad")
    return out.select(
        "event_type",
        "h",
        "n",
        "med",
        "mad",
        F.when(F.col("mad") > 0, F.round(rz, 4) + F.lit(0.0)).alias(
            "robust_z"
        ),
        ((F.col("mad") > 0) & (F.abs(rz) > 3.5)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Robust trend / rank statistics over the daily event-rate series (round 15
# continuation). All three ops reduce the corpus to a CALENDAR-BOUNDED daily
# relation first (one map-side-combinable hash agg), so every window below
# runs on days × types rows — cost independent of raw event volume, the same
# discipline as `ts_ewma` / `events_anomaly_mad`.
# ---------------------------------------------------------------------------

# Shared daily rollup: (event_type, d, dd = epoch-day int, n = count,
# v = exact cent-scaled value sum). `ev` (ns→µs CTE) must precede it.
SQL_DAILY = """daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dd,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM ev GROUP BY event_type, CAST(ts AS DATE)
    )"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SQL_DAILY."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("v"),
        )
        .withColumn("dd", F.datediff("d", F.lit("1970-01-01")))
    )


TS_SLOPE_SCALE = 10_000  # Theil–Sen slope quantization lattice (1e-4)


@register(
    "ts_theil_sen",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    {SQL_DAILY},
    q AS (
        SELECT a.event_type, b.n - a.n AS dn, b.dd - a.dd AS gap,
               a.dd AS d1, b.dd AS d2,
               CAST(floor(CAST((b.n - a.n) * {2 * TS_SLOPE_SCALE}
                               + (b.dd - a.dd) AS DOUBLE)
                          / (2 * (b.dd - a.dd))) AS BIGINT) AS slope_i
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.dd > a.dd
    ),
    st AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN dn > 0 THEN 1 WHEN dn < 0 THEN -1
                             ELSE 0 END) AS BIGINT) AS mk_s
        FROM q GROUP BY event_type
    ),
    r AS (
        SELECT event_type, slope_i,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope_i, d1, d2) AS rn,
               count(*) OVER (PARTITION BY event_type) AS c
        FROM q
    ),
    med AS (
        SELECT event_type,
               CAST(sum(slope_i * (CASE WHEN c % 2 = 1 THEN 2 ELSE 1 END))
                    AS BIGINT) AS med_x2
        FROM r WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
        GROUP BY event_type
    ),
    nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type)
    SELECT nd.event_type, nd.n_days, st.n_pairs, st.mk_s,
           CAST(med.med_x2 AS DOUBLE) / {2.0 * TS_SLOPE_SCALE!r}
               AS theil_slope
    FROM nd JOIN st USING (event_type) JOIN med USING (event_type)
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event rate per type — the
    median of all pairwise slopes (n_j − n_i)/(d_j − d_i) — plus the
    Mann–Kendall S statistic Σ sign(Δn) from the same pair relation (the
    standard nonparametric trend test the slope estimate ships with).
    Up to ~29% outlier days cannot move the estimate, unlike
    `agg_linreg`'s OLS slope (one logging spike tilts the whole fit).

    EXACT: each pair slope is an int64/int64 ratio quantized ONCE to the
    {TS_SLOPE_SCALE}-lattice via the boundary-proof floor((2·S·Δn + Δd) /
    (2Δd)) half-away form (the `ratio` helper's shape, sign included);
    the median is a POSITION-PICKED integer pair-average (odd counts
    double the middle element), so the only float op is one exact
    int→double division by 2S — bit-identical on both engines.

    Scale shape: the corpus reduces to the calendar-bounded daily
    relation first, so the pair self-join is days²-bounded PER TYPE
    (equi-join on event_type + range predicate — never a corpus
    cartesian), and the ranking window runs partitioned on that bounded
    relation. At 10 years of days the pair relation is ~6.7M rows per
    type — still executor-trivial and independent of raw event volume."""
    daily = _daily(spark, sf_dir)
    a = daily.select(
        "event_type",
        F.col("dd").alias("d1"),
        F.col("n").alias("n1"),
    )
    b = daily.select(
        F.col("event_type").alias("event_type_b"),
        F.col("dd").alias("d2"),
        F.col("n").alias("n2"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("event_type_b"))
        & (F.col("d2") > F.col("d1")),
    ).select(
        "event_type",
        (F.col("n2") - F.col("n1")).alias("dn"),
        (F.col("d2") - F.col("d1")).alias("gap"),
        "d1",
        "d2",
    )
    q = pairs.withColumn(
        "slope_i",
        F.floor(
            (
                F.col("dn") * F.lit(2 * TS_SLOPE_SCALE) + F.col("gap")
            ).cast("double")
            / (2 * F.col("gap"))
        ).cast("long"),
    )
    st = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("dn") > 0, 1)
            .when(F.col("dn") < 0, -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("mk_s"),
    )
    wp = Window.partitionBy("event_type").orderBy("slope_i", "d1", "d2")
    wc = Window.partitionBy("event_type")
    r = q.select(
        "event_type",
        "slope_i",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(wc).alias("c"),
    )
    med = (
        r.where(
            (F.col("rn") == F.expr("(c + 1) div 2"))
            | (F.col("rn") == F.expr("(c + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("slope_i")
                * F.when(F.col("c") % 2 == 1, 2).otherwise(1)
            )
            .cast("long")
            .alias("med_x2")
        )
    )
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    return (
        nd.join(F.broadcast(st), "event_type")
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            "mk_s",
            (
                F.col("med_x2").cast("double")
                / F.lit(2.0 * TS_SLOPE_SCALE)
            ).alias("theil_slope"),
        )
    )


# Shared Spearman ρ text: identical expression evaluated by both engines
# over double-cast integer rank sums (the `_CC_FORMULAS` discipline), with
# the zero-variance guard decided on EXACT int64 products (a float epsilon
# test could disagree at the boundary).
_SPEARMAN_RHO = (
    "CASE WHEN vx > 0 AND vy > 0 THEN"
    " round((sxy - sx * sy / nd)"
    " / sqrt((sxx - sx * sx / nd) * (syy - sy * sy / nd)), 4) + 0.0 END"
)


@register(
    "agg_spearman_rank",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    {SQL_DAILY},
    rk AS (
        SELECT event_type,
               2 * rank() OVER (PARTITION BY event_type ORDER BY n)
                 + count(*) OVER (PARTITION BY event_type, n) - 1 AS rx2,
               2 * rank() OVER (PARTITION BY event_type ORDER BY v)
                 + count(*) OVER (PARTITION BY event_type, v) - 1 AS ry2
        FROM daily
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(rx2) AS DOUBLE) AS sx,
               CAST(sum(rx2 * rx2) AS DOUBLE) AS sxx,
               CAST(sum(ry2) AS DOUBLE) AS sy,
               CAST(sum(ry2 * ry2) AS DOUBLE) AS syy,
               CAST(sum(rx2 * ry2) AS DOUBLE) AS sxy,
               count(*) * sum(rx2 * rx2) - sum(rx2) * sum(rx2) AS vx,
               count(*) * sum(ry2 * ry2) - sum(ry2) * sum(ry2) AS vy
        FROM rk GROUP BY event_type
    )
    SELECT event_type, n_days, {_SPEARMAN_RHO} AS spearman_rho
    FROM s
    """,
)
def agg_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event VOLUME and daily
    event VALUE per type — "do busy days also move more value, in any
    monotone way?". The rank-based twin of `agg_corr_cov`'s Pearson:
    immune to outliers and to any monotone transform of either series;
    together with `ts_theil_sen`'s Mann–Kendall S this is the standard
    nonparametric toolkit over rate series.

    EXACT with midrank ties entirely in int64: the average rank of a
    tied run equals min-rank + (ties−1)/2, so TWICE it — 2·rank() +
    count(ties) − 1 — is an integer; Pearson on ranks is scale-invariant,
    so ρ over the doubled ranks is ρ over the true average ranks. All
    sums are exact int64 (days ≤ 10⁴ → every product < 2⁶³), the shared
    `_SPEARMAN_RHO` text is the only float expression, and degenerate
    (zero-rank-variance) groups emit NULL by exact integer test.

    Scale shape: corpus → calendar-bounded daily relation (one hash
    agg), rank windows partitioned by event_type over days-sized input,
    one final types-sized agg. No corpus-scale window or sort anywhere."""
    daily = _daily(spark, sf_dir)
    def r2(col: str) -> Column:
        wr = Window.partitionBy("event_type").orderBy(col)
        wt = Window.partitionBy("event_type", col)
        return 2 * F.rank().over(wr) + F.count("*").over(wt) - 1

    rk = daily.select(
        "event_type",
        r2("n").alias("rx2"),
        r2("v").alias("ry2"),
    )
    s = rk.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.count("*").cast("double").alias("nd"),
        F.sum("rx2").cast("double").alias("sx"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("double").alias("sxx"),
        F.sum("ry2").cast("double").alias("sy"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("double").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("double").alias("sxy"),
        (
            F.count("*") * F.sum(F.col("rx2") * F.col("rx2"))
            - F.sum("rx2") * F.sum("rx2")
        ).alias("vx"),
        (
            F.count("*") * F.sum(F.col("ry2") * F.col("ry2"))
            - F.sum("ry2") * F.sum("ry2")
        ).alias("vy"),
    )
    return s.select(
        "event_type", "n_days", F.expr(_SPEARMAN_RHO).alias("spearman_rho")
    )


@register(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    {SQL_DAILY},
    ma AS (
        SELECT event_type, d, dd, n,
               isodow(d) - 1 AS dow,
               sum(n) OVER w7 AS t7,
               count(*) OVER w7 AS c7,
               lag(dd, 3) OVER wo AS dd_m3,
               lead(dd, 3) OVER wo AS dd_p3
        FROM daily
        WINDOW wo AS (PARTITION BY event_type ORDER BY dd),
               w7 AS (PARTITION BY event_type ORDER BY dd
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    valid AS (
        SELECT event_type, dow, n, 7 * n - t7 AS detr_x7
        FROM ma WHERE c7 = 7 AND dd_p3 - dd_m3 = 6
    )
    SELECT event_type, CAST(dow AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_weeks,
           {sql_ratio("sum(n)", "count(*)")} AS mean_n,
           {sql_sratio("sum(detr_x7)", "7 * count(*)")} AS seasonal
    FROM valid
    GROUP BY event_type, dow
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event rate:
    trend = centered 7-day moving average, seasonal index per (type,
    day-of-week) = mean of the detrended residual — the "is Monday
    really our slow day, net of growth" profile that `events_hour_heatmap`
    gives for hours and this op gives for the weekly cycle, with the
    trend removed so a growing corpus doesn't masquerade as seasonality.

    EXACT: the MA is kept as the integer 7-day sum (detrended_x7 =
    7·n − Σ₇n, no division until the final report), centers are only
    accepted when all 7 CALENDAR days are present (window count = 7 AND
    lead₃ − lag₃ = 6 — a row count alone would silently span gaps), and
    the per-dow means are boundary-proof signed integer quotients
    (`sratio`). Day-of-week is Spark `weekday` == DuckDB `isodow − 1`
    (0 = Monday), pinned here since the engines' default dow differ.

    Scale shape: corpus → calendar-bounded daily relation, ONE ordered
    window pass per type (both specs share the (type | dd) sort), one
    types×7-sized final agg. Cost independent of raw event volume."""
    daily = _daily(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("dd")
    w7 = wo.rowsBetween(-3, 3)
    ma = daily.select(
        "event_type",
        F.weekday("d").alias("dow"),
        "n",
        F.sum("n").over(w7).alias("t7"),
        F.count("*").over(w7).alias("c7"),
        F.lag("dd", 3).over(wo).alias("dd_m3"),
        F.lead("dd", 3).over(wo).alias("dd_p3"),
    )
    valid = ma.where(
        (F.col("c7") == 7) & (F.col("dd_p3") - F.col("dd_m3") == 6)
    ).select(
        "event_type", "dow", "n", (7 * F.col("n") - F.col("t7")).alias("detr_x7")
    )
    return valid.groupBy("event_type", F.col("dow").cast("int").alias("dow")).agg(
        F.count("*").cast("long").alias("n_weeks"),
        ratio(F.sum("n"), F.count("*")).alias("mean_n"),
        sratio(F.sum("detr_x7"), 7 * F.count("*")).alias("seasonal"),
    )


# --- Deterministic Poisson bootstrap ---------------------------------------
BOOT_B = 40  # bootstrap replicates (≤ 64, the xhash family size)
_BOOT_M = 1 << 20  # uniform lattice: u = (h % M + 1) / (M + 2)
# P(Poisson(1) ≤ k) for k = 0..5, computed ONCE in Python and embedded as
# identical literal text in both engines (tail mass beyond 6 ≈ 1e-4 — the
# standard truncation; both engines compare the same double to the same
# literal, so the drawn counts are bit-identical).
import math as _math

_POIS_CDF = [
    _math.exp(-1.0) * sum(1.0 / _math.factorial(i) for i in range(k + 1))
    for k in range(6)
]


def _boot_oracle() -> str:
    from ..xhash import A as _XA, B as _XB, C as _XC, XH_P
    from ..xhash import xh1_sql, xh2_sql

    key = "l_orderkey || '|' || l_linenumber"
    vals = ", ".join(
        f"({b}, {_XA[b]}, {_XC[b]}, {_XB[b]})" for b in range(BOOT_B)
    )
    u = (
        f"((((ab * x1 + cb * x2 + bb) % {XH_P}) % {_BOOT_M}) + 1)"
        f" / {float(_BOOT_M + 2)!r}"
    )
    w = " + ".join(
        f"(CASE WHEN {u} > {c!r} THEN 1 ELSE 0 END)" for c in _POIS_CDF
    )
    return f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS q,
               {xh1_sql(key)} AS x1,
               {xh2_sql(key)} AS x2
        FROM lineitem
    ),
    reps AS (SELECT * FROM (VALUES {vals}) AS t(b, ab, cb, bb)),
    drawn AS (
        SELECT l_returnflag, b, q, ({w}) AS w
        FROM base CROSS JOIN reps
    ),
    means AS (
        SELECT l_returnflag, b,
               CAST(sum(w * q) AS BIGINT) AS swq,
               CAST(sum(w) AS BIGINT) AS sw
        FROM drawn GROUP BY l_returnflag, b
        HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT l_returnflag,
               {sql_ratio("swq", "100 * sw")} AS mean_b,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY {sql_ratio("swq", "100 * sw")}, b)
                   AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS c
        FROM means
    ),
    boot AS (
        SELECT l_returnflag,
               CAST(max(c) AS BIGINT) AS n_reps,
               max(CASE WHEN rn = 2 THEN mean_b END) AS boot_lo,
               max(CASE WHEN rn = c - 1 THEN mean_b END) AS boot_hi
        FROM ranked GROUP BY l_returnflag
    ),
    pt AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
               {sql_ravg("l_quantity", "mean_qty")}
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT pt.l_returnflag, pt.n_rows, pt.mean_qty,
           boot.n_reps, boot.boot_lo, boot.boot_hi
    FROM pt JOIN boot USING (l_returnflag)
    """


@register("agg_bootstrap_ci", oracle=_boot_oracle())
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean
    quantity — DERANDOMIZED: replicate b resamples each row with a
    Poisson(1) count drawn from the b-th xhash family member of the row
    key, so the interval is uniform-hash-random yet reproducible across
    runs, engines and re-shards (the `agg_reservoir_hash_sample`
    discipline applied to the resampling-inference primitive; Poisson
    bootstrap is the standard streaming/distributed form — per-row
    independent draws need no global n, Chamandy et al., Google 2012,
    public method).

    Parity: the uniform is the same lattice form as the DSIR Gumbel
    (identical int hash → identical double), the Poisson inverse-CDF is
    {BOOT_B} comparisons against Python-literal thresholds shared by both
    engines, replicate means are boundary-proof integer quotients
    (`ratio`), and the CI endpoints are POSITION-PICKED replicate means
    (rank 2 / rank B−1 of {BOOT_B} — a ~[2.6%, 97.4%] interval), never an
    interpolated percentile.

    Scale shape: ONE char-fold per row, then the {BOOT_B}× expansion is a
    map-side Generate feeding a partial-aggregable (group, b) hash agg —
    shuffled rows = groups × {BOOT_B}, independent of corpus size; the
    ranking window runs on that bounded relation. At 100 TB with
    `SPARK_GRAFT_XXHASH=1` the fold becomes one native xxhash64 call."""
    from ..xhash import A as _XA, B as _XB, C as _XC, XH_P, xh1, xh2

    li = table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("|"),
        F.col("l_linenumber").cast("string"),
    )
    # spread BEFORE the fold (guide §2.5): the per-row char-fold plus the
    # {BOOT_B}× Generate otherwise fuse into the single-row-group scan task
    # (measured 1.8 s for the fold alone + ~2.5 s expansion single-task at
    # sf0.1); the exchange moves 600 k narrow rows once and the whole
    # map side onto every core. No-op on a splittable source.
    src = spread(
        spark,
        li.select(
            "l_returnflag", "l_quantity", "l_orderkey", "l_linenumber"
        ),
        "l_orderkey",
        table_name="lineitem",
        sf_dir=sf_dir,
    )
    base = src.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("q"),
        xh1(key).alias("x1"),
        xh2(key).alias("x2"),
    )
    reps = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("b"),
                    F.lit(_XA[b]).alias("ab"),
                    F.lit(_XC[b]).alias("cb"),
                    F.lit(_XB[b]).alias("bb"),
                )
                for b in range(BOOT_B)
            ]
        )
    ).alias("r")
    drawn = base.select("l_returnflag", "q", "x1", "x2", reps).select(
        "l_returnflag",
        "q",
        F.col("r.b").alias("b"),
        (
            (
                (
                    F.col("r.ab") * F.col("x1")
                    + F.col("r.cb") * F.col("x2")
                    + F.col("r.bb")
                )
                % F.lit(XH_P)
                % F.lit(_BOOT_M)
                + 1
            )
            / F.lit(float(_BOOT_M + 2))
        ).alias("u"),
    )
    w = sum(
        (
            F.when(F.col("u") > F.lit(c), 1).otherwise(0)
            for c in _POIS_CDF
        ),
        start=F.lit(0),
    )
    means = (
        drawn.withColumn("w", w)
        .groupBy("l_returnflag", "b")
        .agg(
            F.sum(F.col("w") * F.col("q")).cast("long").alias("swq"),
            F.sum("w").cast("long").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "l_returnflag",
            "b",
            ratio(F.col("swq"), 100 * F.col("sw")).alias("mean_b"),
        )
    )
    wr = Window.partitionBy("l_returnflag").orderBy("mean_b", "b")
    wc = Window.partitionBy("l_returnflag")
    ranked = means.select(
        "l_returnflag",
        "mean_b",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("c"),
    )
    boot = ranked.groupBy("l_returnflag").agg(
        F.max("c").cast("long").alias("n_reps"),
        F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("boot_lo"),
        F.max(
            F.when(F.col("rn") == F.col("c") - 1, F.col("mean_b"))
        ).alias("boot_hi"),
    )
    pt = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        ravg("l_quantity", "mean_qty"),
    )
    return pt.join(F.broadcast(boot), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "mean_qty",
        "n_reps",
        "boot_lo",
        "boot_hi",
    )


@register(
    "events_path_trigrams",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    seq AS (
        SELECT user_id, event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || ' > ' || t2 || ' > ' || t3 AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1 || ' > ' || t2 || ' > ' || t3
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step behavioral path mining: every consecutive event-type
    trigram per user, counted corpus-wide — the "what do users actually
    do around a purchase" sequence table one order up from
    `events_markov_transitions`' 2-step transition matrix (a first-order
    Markov chain cannot distinguish view→click→purchase from
    search→click→purchase; the trigram table can).

    Scale shape: ONE window pass per user — both lead() calls share the
    (user_id | ts, event_id) spec, the same single Exchange the
    sessionize/funnel/attribution family rides — then a hash agg keyed on
    the trigram whose output is bounded by |type vocabulary|³, with the
    per-path distinct-user count shuffling (path, user) pairs at most
    once. No joins, no corpus-scale sort."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(" > ", "t1", "t2", "t3").alias("path"), "user_id"
        )
        .groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# Shared one-way ANOVA texts (the `_CC_FORMULAS` discipline): the
# between-group sum Σ s_g²/n_g is written as an EXPLICIT fixed-order
# three-term expression — a cross-group float sum() would be
# partial-order-dependent across engines, an enumerated a+n+r chain is
# evaluated left-to-right identically by both. k = 3 (the TPC-H
# returnflag domain {A, N, R}, asserted by the n_a/n_n/n_r guard).
_ANOVA_SSB = (
    "(sa * sa / na + sn * sn / nn + sr * sr / nr"
    " - (sa + sn + sr) * (sa + sn + sr) / (na + nn + nr))"
)
_ANOVA_SSW = "(ssq - (sa * sa / na + sn * sn / nn + sr * sr / nr))"
_ANOVA_F = (
    f"CASE WHEN na > 0 AND nn > 0 AND nr > 0 AND {_ANOVA_SSW} > 0 THEN"
    f" round(({_ANOVA_SSB} / 2) / ({_ANOVA_SSW} / (na + nn + nr - 3)), 4)"
    " + 0.0 END"
)
_ANOVA_ETA = (
    f"CASE WHEN na > 0 AND nn > 0 AND nr > 0"
    f" AND {_ANOVA_SSB} + {_ANOVA_SSW} > 0 THEN"
    f" round({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}), 6) + 0.0 END"
)


@register(
    "agg_anova_oneway",
    oracle=f"""
    WITH s AS (
        SELECT CAST(count(*) FILTER (l_returnflag = 'A') AS DOUBLE) AS na,
               CAST(count(*) FILTER (l_returnflag = 'N') AS DOUBLE) AS nn,
               CAST(count(*) FILTER (l_returnflag = 'R') AS DOUBLE) AS nr,
               CAST(sum(CAST(round(l_quantity) AS BIGINT))
                    FILTER (l_returnflag = 'A') AS DOUBLE) AS sa,
               CAST(sum(CAST(round(l_quantity) AS BIGINT))
                    FILTER (l_returnflag = 'N') AS DOUBLE) AS sn,
               CAST(sum(CAST(round(l_quantity) AS BIGINT))
                    FILTER (l_returnflag = 'R') AS DOUBLE) AS sr,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)
                        * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
                   AS ssq
        FROM lineitem
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nn AS BIGINT) AS n_n,
           CAST(nr AS BIGINT) AS n_r,
           {_ANOVA_F} AS f_stat,
           {_ANOVA_ETA} AS eta_sq
    FROM s
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test of mean quantity across the three returnflag
    populations — the k-group generalization of `agg_welch_ttest`'s
    two-sample comparison, plus η² (SSB/SST), the standard effect-size
    readout ("how much of the variance is BETWEEN groups").

    EXACT: quantities are fixture-integer, so every accumulated sum
    (n_g, Σq, Σq², via decimal partials that cannot overflow at 100 TB)
    is exact; the F and η² expressions are SHARED formula text over those
    sums cast to double, with the between-group term an enumerated
    fixed-order three-term chain (a float sum() across groups would be
    partial-order-dependent; a+n+r left-to-right is engine-identical).
    Degenerate inputs (a missing group, zero within-variance) emit NULL
    by exact predicate, not ±inf.

    Scale shape: ONE partial→final HashAggregate over the corpus with
    FILTER clauses doing the group pivot map-side — no groupBy+collect,
    no second pass, output is a single row at any corpus size."""
    li = table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity"), 0).cast("long")
    dec = "decimal(38,0)"

    def fsum(col: Column, flag: str) -> Column:
        return F.sum(
            F.when(F.col("l_returnflag") == flag, col)
            .otherwise(F.lit(0))
            .cast(dec)
        ).cast("double")

    s = li.agg(
        F.count(F.when(F.col("l_returnflag") == "A", 1)).cast("double").alias("na"),
        F.count(F.when(F.col("l_returnflag") == "N", 1)).cast("double").alias("nn"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).cast("double").alias("nr"),
        fsum(q, "A").alias("sa"),
        fsum(q, "N").alias("sn"),
        fsum(q, "R").alias("sr"),
        F.sum((q * q).cast(dec)).cast("double").alias("ssq"),
    )
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nn").cast("long").alias("n_n"),
        F.col("nr").cast("long").alias("n_r"),
        F.expr(_ANOVA_F).alias("f_stat"),
        F.expr(_ANOVA_ETA).alias("eta_sq"),
    )


# Shared lag-1 Granger texts over the ten exact sums cast to double
# (n, sy, su, sv, syy, suu, svv, syu, syv, suv) — y = today's purchase
# count, u = yesterday's purchase count, v = yesterday's click count.
# Centered moments, the 2×2 normal-equation solve (Cramer), and the
# R²/F-change readouts are ONE expression text evaluated by both engines;
# every guard reads the same computed doubles, so the NULL boundary can
# never disagree between engines.
_GR_C = {
    "cyy": "(syy - sy * sy / n)",
    "cuu": "(suu - su * su / n)",
    "cvv": "(svv - sv * sv / n)",
    "cyu": "(syu - sy * su / n)",
    "cyv": "(syv - sy * sv / n)",
    "cuv": "(suv - su * sv / n)",
}
_GR_DET = f"({_GR_C['cuu']} * {_GR_C['cvv']} - {_GR_C['cuv']} * {_GR_C['cuv']})"
_GR_B = (
    f"(({_GR_C['cyu']} * {_GR_C['cvv']} - {_GR_C['cyv']} * {_GR_C['cuv']})"
    f" / {_GR_DET})"
)
_GR_CC = (
    f"(({_GR_C['cyv']} * {_GR_C['cuu']} - {_GR_C['cyu']} * {_GR_C['cuv']})"
    f" / {_GR_DET})"
)
_GR_SSRF = f"({_GR_B} * {_GR_C['cyu']} + {_GR_CC} * {_GR_C['cyv']})"
_GR_RSSR = f"({_GR_C['cyy']} - {_GR_C['cyu']} * {_GR_C['cyu']} / {_GR_C['cuu']})"
_GR_RSSF = f"({_GR_C['cyy']} - {_GR_SSRF})"
_GR_OK = (
    f"n > 3 AND {_GR_C['cyy']} > 0 AND {_GR_C['cuu']} > 0"
    f" AND {_GR_DET} > 0 AND {_GR_RSSF} > 0"
)
_GR_OUT = {
    "coef_self": f"CASE WHEN {_GR_OK} THEN round({_GR_B}, 4) + 0.0 END",
    "coef_cross": f"CASE WHEN {_GR_OK} THEN round({_GR_CC}, 4) + 0.0 END",
    "r2_restricted": (
        f"CASE WHEN {_GR_OK} THEN"
        f" round({_GR_C['cyu']} * {_GR_C['cyu']}"
        f" / ({_GR_C['cuu']} * {_GR_C['cyy']}), 6) + 0.0 END"
    ),
    "r2_full": (
        f"CASE WHEN {_GR_OK} THEN"
        f" round({_GR_SSRF} / {_GR_C['cyy']}, 6) + 0.0 END"
    ),
    "f_change": (
        f"CASE WHEN {_GR_OK} THEN"
        f" round(({_GR_RSSR} - {_GR_RSSF}) * (n - 3) / {_GR_RSSF}, 4)"
        " + 0.0 END"
    ),
}


@register(
    "ts_granger_lag1",
    oracle=f"""
    WITH {SQL_EVENTS_US},
    {SQL_DAILY},
    d2 AS (
        SELECT dd,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN n
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN n
                             ELSE 0 END) AS BIGINT) AS x
        FROM daily WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY dd
    ),
    p AS (
        SELECT c.y AS yt, pv.y AS u, pv.x AS v
        FROM d2 c JOIN d2 pv ON c.dd = pv.dd + 1
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(yt) AS DOUBLE) AS sy,
               CAST(sum(u) AS DOUBLE) AS su,
               CAST(sum(v) AS DOUBLE) AS sv,
               CAST(sum(yt * yt) AS DOUBLE) AS syy,
               CAST(sum(u * u) AS DOUBLE) AS suu,
               CAST(sum(v * v) AS DOUBLE) AS svv,
               CAST(sum(yt * u) AS DOUBLE) AS syu,
               CAST(sum(yt * v) AS DOUBLE) AS syv,
               CAST(sum(u * v) AS DOUBLE) AS suv
        FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           {_GR_OUT['coef_self']} AS coef_self,
           {_GR_OUT['coef_cross']} AS coef_cross,
           {_GR_OUT['r2_restricted']} AS r2_restricted,
           {_GR_OUT['r2_full']} AS r2_full,
           {_GR_OUT['f_change']} AS f_change
    FROM s
    """,
)
def ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger-style predictability screen (Granger 1969, public
    method): does yesterday's CLICK rate help predict today's PURCHASE
    rate beyond purchase's own history? Fits the restricted AR(1)
    y_t ~ y_{{t-1}} and the full y_t ~ y_{{t-1}} + x_{{t-1}} in closed
    form and reports both R²s, the cross coefficient, and the F-change
    statistic — the standard "does the leading indicator lead" readout
    over two rate series (the causal-direction companion to
    `ts_autocorr`'s self-similarity and `agg_spearman_rank`'s
    contemporaneous association).

    EXACT: the lag pairing is a self-equi-join on dd = dd+1 over the
    calendar-bounded pivoted daily relation (gap-robust — a ROWS-frame
    lag would silently pair across missing days; `ts_autocorr`'s
    device), the ten sufficient sums accumulate exactly (decimal
    partials), and every model quantity — Cramer solve, R², F — is ONE
    shared expression text over those sums, guarded by predicates on the
    same computed doubles (NULL, never ±inf, on degenerate/collinear
    series).

    Scale shape: corpus → daily relation (one map-combinable hash agg) →
    days-sized pivot + self-join → a 10-sum single-row reduce. Cost
    independent of raw event volume; nothing corpus-sized past the first
    aggregation."""
    daily = _daily(spark, sf_dir)
    d2 = (
        daily.where(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
        .groupBy("dd")
        .agg(
            F.sum(
                F.when(F.col("event_type") == KS_TYPE_A, F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
            F.sum(
                F.when(F.col("event_type") == KS_TYPE_B, F.col("n")).otherwise(0)
            )
            .cast("long")
            .alias("x"),
        )
    )
    cur = d2.select(F.col("dd"), F.col("y").alias("yt"))
    prev = d2.select(
        (F.col("dd") + 1).alias("dd"),
        F.col("y").alias("u"),
        F.col("x").alias("v"),
    )
    p = cur.join(prev, "dd")
    dec = "decimal(38,0)"
    s = p.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("yt").cast(dec)).cast("double").alias("sy"),
        F.sum(F.col("u").cast(dec)).cast("double").alias("su"),
        F.sum(F.col("v").cast(dec)).cast("double").alias("sv"),
        F.sum((F.col("yt") * F.col("yt")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("u") * F.col("u")).cast(dec)).cast("double").alias("suu"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).cast("double").alias("svv"),
        F.sum((F.col("yt") * F.col("u")).cast(dec)).cast("double").alias("syu"),
        F.sum((F.col("yt") * F.col("v")).cast(dec)).cast("double").alias("syv"),
        F.sum((F.col("u") * F.col("v")).cast(dec)).cast("double").alias("suv"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_obs"),
        *[F.expr(txt).alias(name) for name, txt in _GR_OUT.items()],
    )


# Per-cell / per-marginal information terms, quantized ONCE to the 1e-8
# lattice (the DSIR λ / Gumbel guard-distance discipline: ln() is the one
# per-engine libm call; everything entering it is an exact integer ratio,
# and a finite cell vocabulary makes a lattice-boundary landing
# negligible). Identical text on both engines; the ratios are written
# overflow-free ((obs/rt)·(n/ct), never obs·n in int64).
_MI_SCALE = 100_000_000
_MI_CELL = (
    f"CAST(round((obs / n) * ln((obs / rt) * (n / ct)) * {_MI_SCALE})"
    " AS BIGINT)"
)
_MI_MARG = (
    f"CAST(round(-(m / n) * ln(m / n) * {_MI_SCALE}) AS BIGINT)"
)


@register(
    "agg_mutual_information",
    oracle=f"""
    WITH o AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY source, lang
    ),
    r AS (SELECT source, CAST(sum(obs) AS BIGINT) AS m FROM o GROUP BY source),
    c AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS m FROM o GROUP BY lang),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
    mi AS (
        SELECT CAST(sum({_MI_CELL}) AS BIGINT) AS mi_micro,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM (SELECT o.obs, r.m AS rt, c.m AS ct, t.n
              FROM o JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t)
    ),
    hs AS (SELECT CAST(sum({_MI_MARG}) AS BIGINT) AS hs_micro
           FROM r CROSS JOIN t),
    hl AS (SELECT CAST(sum({_MI_MARG}) AS BIGINT) AS hl_micro
           FROM c CROSS JOIN t)
    SELECT t.n AS n_docs, mi.n_cells,
           round(CAST(mi.mi_micro AS DOUBLE) / {_MI_SCALE}, 6) + 0.0
               AS mi_nats,
           round(CAST(hs.hs_micro AS DOUBLE) / {_MI_SCALE}, 6) + 0.0
               AS h_source_nats,
           round(CAST(hl.hl_micro AS DOUBLE) / {_MI_SCALE}, 6) + 0.0
               AS h_lang_nats
    FROM t CROSS JOIN mi CROSS JOIN hs CROSS JOIN hl
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information of the source × lang contingency table, with
    both marginal entropies — the STRENGTH companion to `agg_chi_square`'s
    significance on the same table (χ² says "the language mix depends on
    source"; I(X;Y) in nats says how much, bounded by min(H) — the number
    a mixing/quota decision actually consumes). Zero cells contribute
    exactly 0 to MI, so only observed cells are enumerated.

    Parity: every ln() input is an exact integer ratio evaluated in
    IDENTICAL text ((obs/rt)·(n/ct) — overflow-free where obs·n is not),
    each cell/marginal term is quantized ONCE to the 1e-8 lattice before
    an ORDER-FREE integer sum (a float Σ over cells would be
    partial-order-dependent; the DSIR λ-lattice guard-distance argument
    covers the per-engine libm ulp on a finite cell vocabulary).

    Scale shape: one (source,lang) hash agg over the corpus, then
    everything is cells-sized (marginals are sub-aggregates of it);
    three 1-row cross joins assemble the report. Cost independent of
    corpus size past the first aggregation."""
    d = table(spark, sf_dir, "documents")
    o = d.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("obs")
    )
    r = o.groupBy("source").agg(F.sum("obs").cast("long").alias("rt"))
    c = o.groupBy("lang").agg(F.sum("obs").cast("long").alias("ct"))
    t = o.agg(F.sum("obs").cast("long").alias("n"))
    cells = (
        o.join(F.broadcast(r), "source")
        .join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(t))
    )
    mi = cells.agg(
        F.sum(F.expr(_MI_CELL)).cast("long").alias("mi_micro"),
        F.count("*").cast("long").alias("n_cells"),
    )
    hs = (
        r.select(F.col("rt").alias("m"))
        .crossJoin(F.broadcast(t))
        .agg(F.sum(F.expr(_MI_MARG)).cast("long").alias("hs_micro"))
    )
    hl = (
        c.select(F.col("ct").alias("m"))
        .crossJoin(F.broadcast(t))
        .agg(F.sum(F.expr(_MI_MARG)).cast("long").alias("hl_micro"))
    )
    out = (
        t.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hl))
    )
    sc = float(_MI_SCALE)
    return out.select(
        F.col("n").alias("n_docs"),
        "n_cells",
        (F.round(F.col("mi_micro").cast("double") / sc, 6) + F.lit(0.0)).alias("mi_nats"),
        (F.round(F.col("hs_micro").cast("double") / sc, 6) + F.lit(0.0)).alias("h_source_nats"),
        (F.round(F.col("hl_micro").cast("double") / sc, 6) + F.lit(0.0)).alias("h_lang_nats"),
    )
