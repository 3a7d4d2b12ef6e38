"""Skew-stress evidence run (VERDICT r11 item 1 — the last plan-pinned-but-
never-measured 100 TB claim).

Every scale number through round 11 was taken on benign key distributions
(TPC-H-uniform keys; the sf1.0 corpus deliberately flat-tailed for oracle
feasibility). This study measures the skew MITIGATIONS against a planted
hot key, on the axes that actually degrade at 1000 executors: wall-clock
AND max-task-time (stragglers), plus result equality so the mitigation is
proven identical, not just faster.

Fixture: ``gen_scale_fixture --docs 50000 --full --skew`` — 6M-row
lineitem with one supplier key carrying ~15% of rows, events with one
user_id carrying ~15% of rows, documents with one term carrying ~15% of
all token occurrences (the stopword case).

Measured pairs:
- `join_skew_salted` (registered, joins.py) vs the identical UNSALTED
  shuffle-hash join — the explicit mitigation;
- the same join as sort-merge with AQE skew-split ON vs OFF (thresholds
  lowered so the ~36 MB hot partition is visible to the splitter at local
  scale — at cluster scale the defaults fire on multi-GB partitions) —
  the automatic mitigation;
- `text_wordcount_salted` vs `text_wordcount` — the agg-side pair (partial
  aggregation already absorbs countable skew; the honest expectation is
  parity, and the row exists to prove that claim rather than assume it);
- `text_index_flat` — the collect-postings op whose hot-term reduce task
  CANNOT be absorbed by partial agg (a ~410k-element postings array built
  by one task): measured as the straggler-finding row;
- `diag_key_skew` over the skewed events — its `salt_parts` fan-out
  recommendation printed next to what AQE's splitter actually did to the
  events join, so the diagnostic's advice is checked against the engine.

Max-task-time comes from the Spark UI REST API (`taskSummary` at
quantile 1.0 over the stages each rep created); the study session enables
the UI that `session.get_spark` turns off.

Usage::

    python tools/skew_study.py [--fixture /tmp/skew_sf1.0] [--docs 50000]

Prints one JSON line per measured run and a final markdown table for
BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class StageMetrics:
    """Diff-based stage watcher over the UI REST API."""

    def __init__(self, spark):
        self.ui = spark.sparkContext.uiWebUrl
        self.app = _get_json(f"{self.ui}/api/v1/applications")[0]["id"]

    def _completed(self) -> dict[tuple[int, int], dict]:
        stages = _get_json(
            f"{self.ui}/api/v1/applications/{self.app}/stages?status=complete"
        )
        return {(s["stageId"], s["attemptId"]): s for s in stages}

    def snapshot(self):
        return set(self._completed())

    def since(self, before: set) -> dict:
        """Max task duration (ms), its stage's task count, and total task
        count across all stages completed since ``before``."""
        now = self._completed()
        new = [s for k, s in now.items() if k not in before]
        max_task_ms, max_stage_tasks, total_tasks = 0, 0, 0
        for s in new:
            total_tasks += s.get("numCompleteTasks", 0)
            try:
                summ = _get_json(
                    f"{self.ui}/api/v1/applications/{self.app}/stages/"
                    f"{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0"
                )
                dur = summ.get("duration", [0])[0]
            except Exception:
                # stage evicted or summary unavailable: stage wall is the
                # straggler bound when one task dominates
                dur = 0
            if dur > max_task_ms:
                max_task_ms = dur
                max_stage_tasks = s.get("numCompleteTasks", 0)
        return {
            "max_task_ms": round(max_task_ms),
            "max_stage_tasks": max_stage_tasks,
            "new_stages": len(new),
            "total_tasks": total_tasks,
        }


def checksum(df) -> tuple[int, int]:
    """(order-insensitive content hash, row count) — equality proof that a
    mitigation returns the identical relation, same recipe as the DuckDB
    gate's value hash (sum over per-row xxhash64 of the sorted columns)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = df.agg(
        # decimal(38,0) accumulator: a sum of ~6M int64 hashes overflows
        # long under ANSI mode
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row.h or 0), int(row.n)


def build_session():
    from pyspark.sql import SparkSession

    from sdu_hadoop_indexer_spark.session import _RUNTIME_CONF, tune

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName("skew_study")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")  # the study READS task metrics
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.warehouse.dir", "/tmp/sdu-spark-warehouse")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


# AQE skew-split thresholds for the SMJ comparison: the hot partition here
# is ~36 MB of shuffle bytes — under the 256 MB production default (which
# is sized for multi-GB cluster partitions), so the splitter needs a
# local-scale operating point to demonstrate the SPLIT, not the threshold.
AQE_SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
}


def plain_join(spark, sf_dir, hint="shuffle_hash"):
    from pyspark.sql import functions as F

    from sdu_hadoop_indexer_spark.catalog import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return li.join(
        s.hint(hint), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_orderkey", "l_linenumber", "s_name")


def run(fixture: str) -> list[dict]:
    from pyspark.sql import functions as F

    from sdu_hadoop_indexer_spark.catalog import table
    from sdu_hadoop_indexer_spark.operators.joins import join_skew_salted
    from sdu_hadoop_indexer_spark.operators.analytics import diag_key_skew
    from sdu_hadoop_indexer_spark.text import indexer

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    sm = StageMetrics(spark)

    def events_join(spark, sf_dir):
        ev = table(spark, sf_dir, "events").select("event_id", "user_id")
        dim = (
            table(spark, sf_dir, "events")
            .select("user_id")
            .distinct()
            .withColumn("grp", F.pmod("user_id", F.lit(7)))
        )
        return ev.join(dim.hint("merge"), "user_id").select(
            "event_id", "user_id", "grp"
        )

    # documents.parquet is ~12 MB compressed: the default split driver is
    # openCostInBytes (4 MB floor) -> 3 scan tasks regardless of
    # maxPartitionBytes. Both knobs drop so the scan fans to ~24 tasks.
    SPLITS = {
        "spark.sql.files.maxPartitionBytes": "512kb",
        "spark.sql.files.openCostInBytes": "128kb",
    }
    runs = [
        # explicit mitigation pair (both pin shuffle_hash; the dim would
        # broadcast at this scale, which makes shuffle skew moot — the
        # study measures the SHUFFLED path a 100 TB dim forces)
        ("join_plain_shufflehash", plain_join, {}),
        ("join_skew_salted", join_skew_salted, {}),
        # automatic mitigation pair (sort-merge, AQE splitter on/off)
        ("join_smj_aqe_skew_on", lambda s, d: plain_join(s, d, "merge"),
         AQE_SKEW_CONF),
        ("join_smj_aqe_skew_off", lambda s, d: plain_join(s, d, "merge"),
         {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        # agg-side pair (SPLITS: see the index rows below)
        ("text_wordcount", indexer.wordcount, SPLITS),
        ("text_wordcount_salted", indexer.wordcount_salted, SPLITS),
        # index_flat keys on (term, doc_id) — the hot TERM spreads over
        # doc_ids, so its max task is the 3-split input scan, not reduce
        # skew; index_nested keys on term alone and must collect the hot
        # term's ~50k-doc postings array in ONE reduce task — the
        # partial-agg-immune hot-reducer case. SPLITS conf: the fixture
        # is ONE parquet file (128 MB default split → 3 scan tasks whose
        # 5 s tokenize wall MASKS the reduce skew being measured); 4 MB
        # splits restore the many-files scan parallelism a real corpus
        # has, so the max-task column shows the REDUCE straggler
        ("text_index_flat", indexer.index_flat, SPLITS),
        ("text_index_nested", indexer.index_nested, SPLITS),
        # the mitigation for the index_nested hot reducer: document-
        # sharded postings — the hot term's array splits over
        # N_POSTING_SHARDS reduce groups
        ("text_index_sharded", indexer.index_sharded, SPLITS),
        # the diagnostic + the automatic splitter on its table
        ("events_join_aqe_on", events_join, AQE_SKEW_CONF),
        ("events_join_aqe_off", events_join,
         {"spark.sql.adaptive.skewJoin.enabled": "false"}),
    ]
    # Second operating point: 256 shuffle partitions. At 32 partitions the
    # hot partition is only ~5x the mean and hides inside the stage
    # envelope; at 256 the mean reduce partition drops to ~23k rows while
    # the hot key still pins ~912k in ONE — a 39x straggler, the shape a
    # 1000-executor shuffle has. This is where mitigation must start to
    # pay: salting levels it, AQE's splitter must fire, the unmitigated
    # plans must show the straggler in max-task. (AQE coalescing is ON, so
    # the non-hot partitions re-merge — exactly the production config.)
    P256 = {"spark.sql.shuffle.partitions": "256"}
    runs += [
        (f"{name}_p256", fn, {**conf, **P256})
        for name, fn, conf in runs[:4]
    ]
    # untimed warmup: JVM codegen, parquet footers, noop-writer classes —
    # without it the first matrix row pays ~4 s of session warmup that
    # reads as a skew effect (bench.py discipline)
    table(spark, fixture, "lineitem").count()
    table(spark, fixture, "events").count()
    plain_join(spark, fixture).write.format("noop").mode("overwrite").save()

    results = []
    sums: dict[str, tuple[int, int]] = {}
    from sdu_hadoop_indexer_spark import session as session_mod

    for name, fn, conf in runs:
        saved = {k: spark.conf.get(k, None) for k in conf}
        # catalog.table re-applies session._RUNTIME_CONF (tune) on every
        # query build, which would clobber a per-run shuffle-partitions
        # override set only on spark.conf — route overrides of tuned keys
        # through the module dict too, and restore after.
        saved_rt = {
            k: session_mod._RUNTIME_CONF[k]
            for k in conf
            if k in session_mod._RUNTIME_CONF
        }
        for k, v in conf.items():
            spark.conf.set(k, v)
            if k in saved_rt:
                session_mod._RUNTIME_CONF[k] = v
        try:
            reps = []
            for _rep in range(3):
                # the index rows time the build, not the persisted pins
                indexer.clear_index()
                before = sm.snapshot()
                t0 = time.monotonic()
                fn(spark, fixture).write.format("noop").mode(
                    "overwrite"
                ).save()
                wall = round(time.monotonic() - t0, 2)
                reps.append((wall, sm.since(before)))
            walls = [w for w, _ in reps]
            # median rep's wall + ITS task metrics (a straggler that shows
            # in the median rep is structural, not a draw)
            med_wall, metrics = sorted(reps, key=lambda t: t[0])[
                len(reps) // 2
            ]
            sums[name] = checksum(fn(spark, fixture))
            rec = {"op": name, "walls_s": walls, "median_s": med_wall,
                   **metrics, "rows": sums[name][1]}
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            for k, v in saved_rt.items():
                session_mod._RUNTIME_CONF[k] = v
        results.append(rec)
        print(json.dumps(rec), flush=True)

    # equality proofs: the mitigation returns the identical relation
    eq = {
        "salted_join_equals_plain":
            sums["join_skew_salted"] == sums["join_plain_shufflehash"],
        "smj_variants_equal_plain":
            sums["join_smj_aqe_skew_on"] == sums["join_plain_shufflehash"]
            == sums["join_smj_aqe_skew_off"],
        "salted_wordcount_equals_plain":
            sums["text_wordcount_salted"] == sums["text_wordcount"],
        "events_aqe_on_equals_off":
            sums["events_join_aqe_on"] == sums["events_join_aqe_off"],
        "p256_variants_equal_plain": all(
            sums[f"{n}_p256"] == sums["join_plain_shufflehash"]
            for n in ("join_plain_shufflehash", "join_skew_salted",
                      "join_smj_aqe_skew_on", "join_smj_aqe_skew_off")
        ),
    }
    print(json.dumps({"equality": eq}), flush=True)
    assert all(eq.values()), f"mitigation changed the result: {eq}"

    # the diagnostic's advice, for comparison with the splitter's action
    diag = diag_key_skew(spark, fixture).collect()
    for r in diag[:3]:
        print(json.dumps({"diag_key_skew": r.asDict()}, default=str),
              flush=True)

    print("\n| run | median s | reps s | max task ms | tasks (max stage) | "
          "total tasks | rows |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        reps = "/".join(str(w) for w in r["walls_s"])
        print(f"| `{r['op']}` | {r['median_s']} | {reps} | "
              f"{r['max_task_ms']} | {r['max_stage_tasks']} | "
              f"{r['total_tasks']} | {r['rows']} |")
    return results


def _conf_override(spark, conf: dict):
    """Apply conf to BOTH the session and session._RUNTIME_CONF (tune()
    re-applies the latter on every catalog.table call); returns a restore
    closure."""
    from sdu_hadoop_indexer_spark import session as session_mod

    saved = {k: spark.conf.get(k, None) for k in conf}
    saved_rt = {
        k: session_mod._RUNTIME_CONF[k]
        for k in conf
        if k in session_mod._RUNTIME_CONF
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
        if k in saved_rt:
            session_mod._RUNTIME_CONF[k] = v

    def restore():
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for k, v in saved_rt.items():
            session_mod._RUNTIME_CONF[k] = v

    return restore


def sweep_hot_share(root: str, shares=(0.15, 0.35, 0.5)) -> None:
    """Hot-share crossover sweep: WHERE does explicit salting start to
    beat the engine's own behavior? The main study found that at 15% /
    256 initial partitions AQE's coalescer isolates the hot key and plain
    ≈ salted; this sweep raises the share until the isolated partition
    itself dominates the stage (the salted join's 8-way split of the hot
    key is then the only thing that levels it). One relational fixture
    per share (K=10 replicas of sf0.1 → 6M lineitem rows), join quad at
    256 initial partitions, 3 reps, checksum equality within each share."""
    from gen_scale_fixture import generate_relational, skew_hot_keys

    from sdu_hadoop_indexer_spark.operators.joins import join_skew_salted

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    sm = StageMetrics(spark)
    P256 = {"spark.sql.shuffle.partitions": "256"}
    variants = [
        ("plain_shufflehash", plain_join, P256),
        ("skew_salted", join_skew_salted, P256),
        ("smj_aqe_skew_on", lambda s, d: plain_join(s, d, "merge"),
         {**AQE_SKEW_CONF, **P256}),
        ("smj_aqe_skew_off", lambda s, d: plain_join(s, d, "merge"),
         {"spark.sql.adaptive.skewJoin.enabled": "false", **P256}),
    ]
    rows = []
    for share in shares:
        d = os.path.join(root, f"share{int(share * 100)}")
        if not os.path.exists(os.path.join(d, "lineitem.parquet")):
            generate_relational("/root/testdata/sf0.1", d, 10)
            skew_hot_keys(d, share)
        plain_join(spark, d).write.format("noop").mode("overwrite").save()
        sums = {}
        for name, fn, conf in variants:
            restore = _conf_override(spark, conf)
            try:
                reps = []
                for _ in range(3):
                    before = sm.snapshot()
                    t0 = time.monotonic()
                    fn(spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    reps.append(
                        (round(time.monotonic() - t0, 2), sm.since(before))
                    )
                med, metrics = sorted(reps, key=lambda t: t[0])[1]
                sums[name] = checksum(fn(spark, d))
            finally:
                restore()
            rec = {"share": share, "op": name, "median_s": med,
                   "walls_s": [w for w, _ in reps], **metrics}
            rows.append(rec)
            print(json.dumps(rec), flush=True)
        assert len({v for v in sums.values()}) == 1, (
            f"variants disagree at share={share}: {sums}"
        )
    print("\n| hot share | run | median s | max task ms |")
    print("|---|---|---|---|")
    for r in rows:
        print(f"| {r['share']:.0%} | `{r['op']}` | {r['median_s']} | "
              f"{r['max_task_ms']} |")


def p2048_point(fixture: str) -> None:
    """Third operating point: 2048 shuffle partitions (VERDICT r12 item 6).

    256 partitions was the r12 compromise; 2048 is the true 1000-executor
    shuffle shape (2-4 reduce partitions per core is the production
    guideline). On the 6M-row skew fixture the mean reduce partition drops
    to ~3k rows while the hot supplier key still pins ~912k rows in ONE —
    a ~300x skew ratio, the regime where per-task overhead (2048 task
    launches over 32 cores = 64 waves) competes with straggler relief, so
    the point answers BOTH 100 TB questions: does the mitigation still
    level the straggler, and does the task-launch overhead at production
    partition counts swamp local walls (it must not — 1000 executors
    launch those 2048 tasks 64x wider). Join quad + the hot-reducer index
    pair, 3 reps, checksum equality within the quad."""
    from sdu_hadoop_indexer_spark.operators.joins import join_skew_salted
    from sdu_hadoop_indexer_spark.text import indexer

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    sm = StageMetrics(spark)
    P2048 = {"spark.sql.shuffle.partitions": "2048"}
    SPLITS = {
        "spark.sql.files.maxPartitionBytes": "512kb",
        "spark.sql.files.openCostInBytes": "128kb",
    }
    variants = [
        ("plain_shufflehash_p2048", plain_join, P2048),
        ("skew_salted_p2048", join_skew_salted, P2048),
        ("smj_aqe_skew_on_p2048", lambda s, d: plain_join(s, d, "merge"),
         {**AQE_SKEW_CONF, **P2048}),
        ("smj_aqe_skew_off_p2048", lambda s, d: plain_join(s, d, "merge"),
         {"spark.sql.adaptive.skewJoin.enabled": "false", **P2048}),
        # the partial-agg-immune hot reducer and its sharded mitigation at
        # 2048 reduce partitions (equality not asserted across these two —
        # different output contracts by design; each vs its own 256-point
        # number is the comparison)
        ("text_index_nested_p2048", indexer.index_nested,
         {**SPLITS, **P2048}),
        ("text_index_sharded_p2048", indexer.index_sharded,
         {**SPLITS, **P2048}),
    ]
    plain_join(spark, fixture).write.format("noop").mode("overwrite").save()
    sums = {}
    rows = []
    for name, fn, conf in variants:
        restore = _conf_override(spark, conf)
        try:
            reps = []
            for _ in range(3):
                before = sm.snapshot()
                t0 = time.monotonic()
                fn(spark, fixture).write.format("noop").mode(
                    "overwrite"
                ).save()
                reps.append(
                    (round(time.monotonic() - t0, 2), sm.since(before))
                )
            med, metrics = sorted(reps, key=lambda t: t[0])[1]
            if name.startswith(("plain", "skew", "smj")):
                sums[name] = checksum(fn(spark, fixture))
        finally:
            restore()
        rec = {"op": name, "median_s": med,
               "walls_s": [w for w, _ in reps], **metrics}
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    assert len(set(sums.values())) == 1, (
        f"join variants disagree at p=2048: {sums}"
    )
    print(json.dumps({"p2048_join_quad_equal": True}), flush=True)
    print("\n| run (p=2048) | median s | reps s | max task ms | "
          "tasks (max stage) |")
    print("|---|---|---|---|---|")
    for r in rows:
        reps_s = "/".join(str(w) for w in r["walls_s"])
        print(f"| `{r['op']}` | {r['median_s']} | {reps_s} | "
              f"{r['max_task_ms']} | {r['max_stage_tasks']} |")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", default="/tmp/skew_sf1.0")
    ap.add_argument("--docs", type=int, default=50000)
    ap.add_argument(
        "--sweep", action="store_true",
        help="hot-share crossover sweep (15/35/50%) instead of the matrix",
    )
    ap.add_argument(
        "--p2048", action="store_true",
        help="2048-shuffle-partition operating point (the 1000-executor "
        "shuffle shape) over the existing skew fixture",
    )
    args = ap.parse_args()
    if args.sweep:
        sweep_hot_share("/tmp/skew_sweep")
        return 0
    if not os.path.exists(os.path.join(args.fixture, "lineitem.parquet")):
        from gen_scale_fixture import (
            HOT_SHARE,
            generate,
            generate_embeddings,
            generate_relational,
            skew_hot_keys,
        )

        print(f"# generating skew fixture at {args.fixture}", flush=True)
        generate(args.docs, args.fixture, "/root/testdata/sf0.1",
                 vocab_terms=20000, mix_fixture_vocab=True,
                 hot_term_share=HOT_SHARE)
        generate_embeddings(args.docs * 2 // 5, args.fixture, 43)
        generate_relational("/root/testdata/sf0.1", args.fixture, 10)
        print(f"# hot keys: {skew_hot_keys(args.fixture)}", flush=True)
    if args.p2048:
        p2048_point(args.fixture)
        return 0
    run(args.fixture)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
