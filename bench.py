"""Benchmark harness — headline queries at sf0.1 (BASELINE.md protocol).

Runs each headline query 5 times warm (after one untimed warmup of the
flagship to absorb JVM/codegen startup), takes the median, and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"name": sec, ...}, "sf": 0.1,
     "samples": {"name": [sec, ...], ...},
     "canary": {"spin_ms": [...], "median_ms": ..., "calibration_ms": 40}}

Materialization is the noop sink (``df.write.format("noop")``) so we measure
full distributed execution without driver-collect overhead — the same way
spark-sql-perf style harnesses do.

Contention self-diagnosis (round-4): the round-3 driver run recorded 27.7 s
for a suite that measures 11.7 s idle (verified independently by the judge)
— co-running load inflated the tail queries 4-6× and cost a round of
confusion. The bench now carries its own evidence:

* ``samples`` — every raw per-rep wall-clock, so uniform inflation
  (contention) is distinguishable from a bimodal outlier (GC pause).
* ``canary`` — a fixed-work single-thread CPU spin (calibrated to ~40 ms
  idle) timed before the suite and after every query. The spin does
  constant work, so its wall-clock scales directly with CPU steal: canary
  medians well above ``calibration_ms`` mean the HOST was busy and the
  suite numbers are inflated by the same factor — read the bench against
  the canary before reading it against the baseline.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default local[*] core count).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sdu_hadoop_indexer_spark import caching
from sdu_hadoop_indexer_spark.registry import all_queries
from sdu_hadoop_indexer_spark.session import get_spark
from sdu_hadoop_indexer_spark.text.indexer import clear_index

# Representative spread of SURVEY.md §2.B: flagship index, relational core
# (scan/filter/agg/join/window/topk), search layer, streaming batch-forms,
# and the LLM-pipeline ops. Keep this list stable between rounds so the
# BENCH gate compares like with like.
HEADLINE = [
    "text_index_nested",  # flagship — the reference's whole pipeline
    "text_index_flat",
    "text_bm25",
    "text_phrase",
    "agg_hash_groupby",  # TPC-H Q1 shape
    "sql_revenue_topn",  # TPC-H Q3 shape, SQL-text surface
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank",
    "topk_per_group",
    "sort_limit",
    "stream_session",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_cluster",
    "join_self_positional",
    "sim_topk_search",
    "sim_nearest_pairs",
    "text_quality_stats",
]

# Second, NON-frozen section (round-5): the ~15 most expensive operators
# OUTSIDE the frozen headline list — without tracked wall-times a
# performance regression in the newer 60% of the registry was invisible to
# BENCH_r*.json (round-4 verdict, missing item 5). Same median-of-reps +
# canary protocol; reported under "extended"/"extended_total" so the frozen
# headline "value" stays comparable across rounds. r5 numbers become the
# frozen reference for r6.
EXTENDED = [
    "text_pagerank_keywords",
    "llm_bpe_train",
    "llm_bpe_encode",
    "sim_topk_ivf",
    "sim_pca_power",
    "dedup_exact_substring",
    "text_dup_spans",
    "graph_triangle_count",
    "agg_gini",
    "agg_weighted_median",
    "dedup_lsh_quality_eval",
    "events_type_overlap",
    "llm_global_sort_index",
    "stream_cdc_apply",
    # round-6 additions (new entries never break comparability of the
    # existing frozen rows): the exact-join family's heavyweight (its
    # staged edge relation is cache-cleared before every sample — see
    # COLD_CACHES — so the row keeps measuring the BUILD, not the pin),
    # and the new ANN pair miner + its gate.
    "dedup_containment",
    "sim_nearest_pairs_ann",
    "sim_pairs_recall_eval",
    "dedup_minhash_incremental",
    "dedup_minhash_est_quality",
    "sim_topk_pq",
    "sim_pq_recall_eval",
    "sim_topk_ivfpq",
    "sim_ivfpq_recall_eval",
    # composer of the staged containment edges: runs right after
    # dedup_containment's cold samples, so its number shows the staged-
    # artifact reuse the pin exists for (cf. dedup_lsh_quality_eval).
    "llm_contamination_matrix",
    # round-7 additions: the semantic dedup (per-cell pair stage), DSIR
    # (distinct-feature hash + bucket aggs), soft-dedup (CC composer),
    # the two-stage MRL retrieval, and the largest SQL join tree.
    "dedup_semantic_ivf",
    "llm_dsir_weights",
    "llm_soft_dedup_weights",
    "sim_topk_matryoshka",
    "sql_volume_shipping",
    "dedup_simhash_hamming",
    # like graph_triangle_count, runs AFTER the near-jaccard rows so the
    # memoized edge relation is warm: the row isolates the peel itself.
    "graph_kcore",
    # round-12 addition: the skew-hardened index form (BASELINE r12 skew
    # study) — tracked from birth; gets a frozen band at the next freeze.
    "text_index_sharded",
    # round-13 additions: the scale-safe k ∝ N SemDeDup registered point
    # (runs right after the fixed-k row above, so the pair of numbers IS
    # the fixed-vs-auto contrast at the protocol SF), and one tracked row
    # for the bigram-count family (text_cooccur_llr shares the PMI bigram
    # shuffle; neither had a wall-time anywhere before — VERDICT r12
    # wrong-item 2).
    "dedup_semantic_ivf_auto",
    # round-13 additions (late): the multi-probe recall-recovery pair on
    # the auto geometry — probe runs right after the auto row (shared
    # session-cached trainer, same as the bench's other IVF-family rows),
    # its eval right after it, so the triple (fixed, auto, probe) plus the
    # probe recall row is the whole SemDeDup cost/recall story in four
    # adjacent numbers.
    "dedup_semantic_ivf_probe",
    "dedup_semantic_ivf_probe_eval",
    "text_cooccur_llr",
    # round-14 additions: the whole radius-search family (brute baseline,
    # IVF-pruned path, recall gate) and the stored-layout trio (top-k probe,
    # radius lookup, incremental append) — the r13/r14 retrieval contracts
    # had no tracked wall-time anywhere before. The sink rows time the FULL
    # store->prune->scan round trip (write included — that's the contract);
    # they run adjacent so the store write cost reads directly against the
    # pruned-read cost. Bands at the next idle freeze.
    "sim_range_search",
    "sim_range_search_ivf",
    "sim_range_recall_eval",
    "sink_ivf_partitioned_ann",
    "sink_ivf_range_lookup",
    "sink_ivf_ann_append",
    # round-15 addition: the Gumbel-top-k importance-resampling draw —
    # same staged DSIR weight core as llm_dsir_weights (already tracked)
    # plus the keying/TakeOrdered tail; tracked from birth. Its cheap
    # sibling dedup_url_canonical is a one-agg map op and doesn't need a
    # tracked wall-time. Band at the birth freeze below.
    "llm_dsir_resample",
    # round-15 continuation additions — the three nontrivial-cost ops of
    # the batch (the rest of the continuation's nine are calendar-bounded
    # daily-series reductions or type³-bounded aggs, all sub-second class
    # and not worth a tracked row): the 40× Poisson-bootstrap expansion,
    # the wedge join over the capped near-dup graph (runs AFTER the
    # near-jaccard family rows, so the memoized edge relation is warm and
    # the row isolates the wedge+screen itself, like graph_kcore), and
    # the days²-pair Theil–Sen median. Bands at the birth freeze below.
    "agg_bootstrap_ci",
    "ts_theil_sen",
    "graph_common_neighbors",
]


def bench_minhash_family(spark, sf_dir: str, reps: int) -> dict[str, list[float]]:
    """Time the MinHash signature build under both hash families — the
    empirical evidence for the SPARK_GRAFT_XXHASH production swap (the
    signature build is the stage the swap accelerates; it is NOT memoized,
    unlike the band relation, so both runs do full work)."""
    from sdu_hadoop_indexer_spark.llm.dedup import minhash_signatures

    out: dict[str, list[float]] = {}
    prior = os.environ.get("SPARK_GRAFT_XXHASH")  # restore, don't clobber
    try:
        for label, env in (("minhash_sig_portable", ""), ("minhash_sig_xxhash", "1")):
            os.environ["SPARK_GRAFT_XXHASH"] = env
            out[label] = [
                run_once(minhash_signatures, spark, sf_dir) for _ in range(reps)
            ]
    finally:
        if prior is None:
            os.environ.pop("SPARK_GRAFT_XXHASH", None)
        else:
            os.environ["SPARK_GRAFT_XXHASH"] = prior
    return out


# Frozen per-row regression envelope for the extended section (round-11,
# VERDICT r10 item 3): reference = the round-11 idle re-run (canary
# 38.2 ms), the run that also established the r10 +11.7% headline drift
# was host interference, not code. A row WARNS when its canary-deflated
# median exceeds reference × EXT_BAND_FACTOR — 1.5 clears the documented
# ±10-20% box spread plus small-row sample jitter while catching the
# r8-ivfpq-class (+41%) episode on top of ordinary drift. Warnings are
# advisory (re-run idle before believing them), but they make a drift
# visible in BENCH_r{N}.json itself instead of relying on round memory.
# New extended entries get a band at the next freeze; absent names skip.
EXTENDED_BANDS: dict[str, float] = {
    "text_pagerank_keywords": 2.745,
    "llm_bpe_train": 2.741,
    "llm_bpe_encode": 3.562,
    "sim_topk_ivf": 2.186,
    "sim_pca_power": 2.782,
    "dedup_exact_substring": 1.106,
    "text_dup_spans": 0.970,
    # r15 re-freeze: capped-edge pin is a checkpoint leaf — 3.5 -> 0.7 s
    # warm (deflated 0.47-0.73 across probe + two suite reads)
    "graph_triangle_count": 0.9,
    "agg_gini": 0.615,
    "agg_weighted_median": 0.966,
    # 2.0 not the r11 freeze's 1.627 (VERDICT r11 wrong-item 1,
    # adjudicated r12): the r11 driver close fired this row at 2.546
    # deflated; an idle r12 re-run read 2.184 deflated (canary 37.2 /
    # membw 26.5 — clean box) with the same code, and the row's history is
    # 1.6-2.5 s across r6-r11 (1.6 s at sf1.0). 1.627 was a low draw that
    # left the row's ROUTINE variance straddling the 1.5x ceiling — the
    # llm_contamination_matrix precedent; 2.0 is the cross-round idle
    # median.
    "dedup_lsh_quality_eval": 2.0,
    "events_type_overlap": 0.495,
    "llm_global_sort_index": 0.385,
    "stream_cdc_apply": 0.502,
    # 5.1 under the r12 warm-in protocol (WARM_IN): the old 5.462
    # reference was a median straddling the verify stage's JIT tier
    # transition (see WARM_IN note); with one untimed warm-in rep the
    # idle samples read 5.9/5.1/4.8 (fully-warm floor ~4 s) and the
    # within-run spread drops from 7.5 s to ~1 s.
    # PROTOCOL BREAK (ADVICE r12): medians before r12 include the
    # cold-code JIT rep this protocol now discards — do NOT compare this
    # row's numbers across the r12 boundary without that caveat. First
    # dedicated post-change idle run (r13 fresh-boot open, canary
    # 36.1 ms, after ~0 GB fixture churn): 3.379 s deflated ratio 0.66 —
    # the r12 close's elevated draws were the predicted page-cache state,
    # band holds.
    "dedup_containment": 5.1,
    # 1.0 not the r11 freeze's 0.682 (adjudicated r12): the row warned
    # twice in four idle runs (1.156, 1.267) and passed twice
    # (0.631, 0.825-range) with clean canaries and untouched code — its
    # post-pin-read wall oscillates 0.6-1.3 s, so 0.682 was a low draw
    # (the lsh_quality_eval precedent; note its first sample builds the
    # band pin at ~2-6 s and the median rests on the two pin reads).
    "sim_nearest_pairs_ann": 1.0,
    "sim_pairs_recall_eval": 1.365,
    "dedup_minhash_incremental": 0.405,
    # r16 re-freeze: one fused sig+token-array agg feeding two joins
    # (was two passes / four joins) — probe deflated medians 2.10-2.22,
    # steady samples to 1.89; the row's floor is the candidates-sized
    # verify (6.05M pairs × array_intersect at sf0.1)
    "dedup_minhash_est_quality": 2.4,
    # (dedup_containment re-frozen r12 below — see the WARM_IN note)
    # r16 re-freeze (Arrow ADC rewrite, VERDICT r15 next-round #3): the
    # whole candidate side — PQ encode, coarse assign, probe filter, ADC
    # gather, batch-local top-k prune — is one exact-int64 mapInPandas
    # pass; near-idle probe deflated medians 0.89 / 0.74 / 0.53 / 0.66
    # (old join/agg shape read 1.8-2.1 / 2.1 / 2.1-2.3 / 2.6-3.0 on the
    # same windows). Frozen at max observed deflated × ~1.3 margin; the
    # eval rows' first sample builds the shared exact-topk pin, medians
    # rest on pin reads as before.
    "sim_topk_pq": 1.2,
    "sim_pq_recall_eval": 1.0,
    "sim_topk_ivfpq": 0.75,
    "sim_ivfpq_recall_eval": 0.9,
    # 1.1 not the morning run's 0.684: that was a low draw — the row's
    # history is 1.0-2.1 s (r6 close samples, r11 close 1.01/1.24/2.14)
    # because its first sample pays pin-read warmup; the first band
    # warning ever fired was this row at the too-tight reference.
    "llm_contamination_matrix": 1.1,
    # r15 optimization re-freeze (grouped Arrow verify): 1.65-2.52 raw on
    # post-change reads; folded from REFREEZE_R15 at the r16 collapse.
    "dedup_semantic_ivf": 2.6,
    "llm_soft_dedup_weights": 2.045,
    "sim_topk_matryoshka": 0.577,
    # r15 re-freeze: lineitem view spread — 0.51-0.85 raw across three
    # suite reads
    "sql_volume_shipping": 0.9,
    "dedup_simhash_hamming": 0.798,
    "graph_kcore": 2.945,
    "minhash_sig_portable": 0.729,
    "minhash_sig_xxhash": 0.746,
    # r12 birth freeze (idle, canary ~36 ms): median of 5 warm reps at the
    # sf0.1 protocol point, measured standalone at registration.
    "text_index_sharded": 0.826,
    # r13 birth freeze (idle, canary 37.6-38.2 ms): median of 5 warm reps
    # standalone at registration. The auto row's first rep pays centroid
    # training for k=32 (~2.6 s, cached per session after); the median
    # rests on the cached-trainer reps, same as the other IVF-family rows.
    "dedup_semantic_ivf_auto": 1.095,
    "text_cooccur_llr": 1.271,
    # r13 birth freeze (idle, canary 35-37 ms): median of 5 warm reps
    # standalone at registration, measured after one untimed auto-row rep
    # (= the bench's own run order — the probe shares the session-cached
    # auto trainer). First rep pays the probe-ranking pin warmup (~5.6 s /
    # ~3.4 s); medians rest on the cached-trainer reps like the other
    # IVF-family rows.
    "dedup_semantic_ivf_probe": 1.203,
    "dedup_semantic_ivf_probe_eval": 1.226,
    # r14 birth freeze: pooled median of TWO back-to-back standalone 5-rep
    # runs (canaries 40-55 ms — mildly elevated vs the 36-38 idle class;
    # pooling 10 samples and sitting at the cross-run median errs slightly
    # HIGH, which for a 1.5x regression envelope trades a little
    # sensitivity for no false-warn churn — the lsh_quality_eval /
    # sim_nearest_pairs_ann adjudication direction, applied at birth).
    # The sink rows include the full store write each rep (that's the
    # contract); first samples pay the session trainer + pin warmup, so
    # like the other IVF-family rows the medians rest on cached-trainer
    # reps.
    "sim_range_search": 0.67,
    "sim_range_search_ivf": 2.78,
    # r15 birth freeze: pooled median of THREE standalone 5-rep probe runs
    # on a volatile evening host (brackets 25-107 ms membw — the r15
    # BASELINE addenda document the swings; no clean window appeared all
    # evening). Pooling 15 samples and sitting at the cross-run median
    # errs HIGH like the r14 sink freezes — first samples pay the staged
    # DSIR-core warmup (5.5-10.7 s), steady-state class ~2.5-2.6 s even
    # contended. Revisit downward from an idle read if one lands.
    # r16 re-freeze (VERDICT r15 next-round #1): the r15 gate's 5.109
    # warning on llm_dsir_weights adjudicated on the first near-idle window
    # since the bucket-direct rewrite — deflated 1.17 (samples 1.67-2.05
    # steady after the staged-core warmup rep), builder r15 standalone probe
    # 1.53. Derived per ADVICE r15: max recorded post-change deflated median
    # (1.53) x 1.2 margin ≈ 1.8. Resample same window: deflated 0.916, r15
    # driver gate raw 1.285; max recorded deflated 1.29 x 1.2 ≈ 1.5 (the
    # 2.74 birth freeze was a volatile-evening pool erring far high).
    "llm_dsir_weights": 1.8,
    "llm_dsir_resample": 1.5,
    # r15-continuation birth freeze: median of three standalone 5-rep
    # probe runs (membw brackets 26.4-33.2 ms — one clean-class window,
    # two mildly elevated; deflated per-run medians pooled). Notes:
    # graph_common_neighbors' FIRST sample pays the memoized capped-edge
    # build cold (13-15 s) and is median-excluded — in the suite the row
    # runs after the near-jaccard family, warm, like graph_kcore;
    # agg_bootstrap_ci's wall is the 40x Generate + (group, b) partial
    # agg, steady 4.3-5.7 s across all runs.
    # r15 re-freeze: spread off the single-task scan — 1.49-2.0 raw
    "agg_bootstrap_ci": 2.2,
    "ts_theil_sen": 0.94,
    # r15 re-freeze: leaf pin + earlier checkpoint staging — suite reads
    # 0.42-0.83 raw, standalone probes to 1.38 deflated on contended
    # evenings (rides the memoized pin freshness): err higher here
    "graph_common_neighbors": 1.2,
    "sim_range_recall_eval": 3.46,
    # r15 re-freeze: _emb_spread + per-cell re-cluster before the
    # partitionBy write — 1.56-1.94 raw
    "sink_ivf_partitioned_ann": 2.2,
    "sink_ivf_range_lookup": 2.0,
    "sink_ivf_ann_append": 3.04,
}
# (r16 hygiene, VERDICT r15 wrong-item 5: the r15 REFREEZE_R15 override
# layer is collapsed into the base table above — exactly one value per
# row; the git history of this dict is the freeze ledger.)
EXT_BAND_FACTOR = 1.5


def band_warnings(extended: dict[str, float], deflate: float) -> list[str]:
    """Rows whose canary-deflated median left their frozen band."""
    warns = []
    for name, ref in EXTENDED_BANDS.items():
        got = extended.get(name)
        if got is not None and got * deflate > ref * EXT_BAND_FACTOR:
            warns.append(
                f"BAND: {name} deflated {got * deflate:.3f}s > "
                f"{EXT_BAND_FACTOR}x frozen {ref:.3f}s"
            )
    return warns


# Fixed-work CPU canary: iteration count chosen so one spin takes ~40 ms of
# uncontended single-thread CPU on this class of box. The value itself does
# not matter — only its STABILITY across the run and across rounds does.
CANARY_ITERS = 500_000
CANARY_CALIBRATION_MS = 40.0

# Memory-bandwidth canary (round-11): the r10 headline ran +11.7% at an
# IDENTICAL CPU canary and fully reversed on the r11 idle re-run — the
# interference was in the memory subsystem (bandwidth/page-cache), which a
# register-resident CPU spin cannot see. One 256 MB streaming sum (~31 ms
# idle on this box) scales with memory-bus contention, so future uniform
# drifts carry their own evidence for/against the box-variance explanation.
MEMBW_CANARY_BYTES = 256 * 1024 * 1024
MEMBW_CALIBRATION_MS = 30.0
_MEMBW_BUF = None


def canary_membw_ms() -> float:
    """Constant-traffic streaming read; wall-clock grows with memory-bus
    contention that the CPU spin canary is blind to."""
    global _MEMBW_BUF
    import numpy as np

    if _MEMBW_BUF is None:
        _MEMBW_BUF = np.ones(MEMBW_CANARY_BYTES // 8, dtype=np.float64)
    t0 = time.perf_counter()
    s = float(_MEMBW_BUF.sum())
    dt = (time.perf_counter() - t0) * 1000.0
    return dt if s >= 0 else dt


def canary_spin_ms() -> float:
    """Constant-work spin; wall-clock grows 1:1 with host CPU contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CANARY_ITERS):
        acc = (acc + i * i) & 0xFFFFFFFF
    dt = (time.perf_counter() - t0) * 1000.0
    # keep `acc` live so the loop cannot be optimized away
    return dt if acc >= 0 else dt


# Ops whose registered fn returns a pinned staged artifact: the pin exists
# for composers (llm_contamination_matrix reads the containment edges the
# way dedup_lsh_quality_eval reads the tau=0.9 set), but THIS op's bench
# row is defined as the cost of BUILDING the artifact — so the pin is
# cleared before every timed sample. Without this, samples 2+
# read the pin (~0.2 s) and the frozen row silently changes meaning.
# The index-build rows are the same kind: the flat index, doc lengths and
# lexicon are persisted pins per input, and each of these rows times
# building them.
COLD_CACHES = {
    "dedup_containment": lambda: caching.clear("containment"),
    **dict.fromkeys(
        (
            "text_index_flat",
            "text_index_nested",
            "text_index_sharded",
            "text_index_incremental",
            "text_doclen",
        ),
        clear_index,
    ),
}

# Ops that get ONE untimed warm-in rep before their timed samples
# (COLD_CACHES still clears per rep, so the data work stays cold).
# Round-12 profiling of dedup_containment's 5.9-13.4 s within-run spread:
# the heavy verify stage's GENERATED code runs ~330 CPU-s with 15-19 s of
# GC on its first invocations and ~62 CPU-s / 3-4 s GC once C2-compiled —
# the row's variance was the JIT tier transition landing mid-samples, not
# data or host. The row means "cold caches, warm code": this op's codegen
# is unique to it, so the suite-level warmup can't warm it, and without
# the warm-in the first timed sample is a compiler benchmark.
WARM_IN = {"dedup_containment"}


def run_once(fn, spark, sf_dir: str, name: str | None = None) -> float:
    if name in COLD_CACHES:
        COLD_CACHES[name]()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_main(names: list[str]) -> int:
    """Targeted idle re-read of specific extended/probe rows — the ADVICE
    r12 band-adjudication protocol as a command instead of a full suite:

        python bench.py --probes graph_kcore,minhash_sig_portable

    Runs ONLY the named rows (5 reps each after the standard warm-in),
    brackets them with both canaries, and prints one JSON line with
    per-row medians, deflated values, and band verdicts. Never touches
    bench_out.json — the frozen-suite record stays the driver's."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    spark = get_spark("bench-probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    run_once(queries["text_index_nested"], spark, sf_dir)
    run_once(queries["sim_nearest_pairs"], spark, sf_dir)
    canary = [round(canary_spin_ms(), 1)]
    membw = [round(canary_membw_ms(), 1)]
    rows: dict[str, dict] = {}
    for name in names:
        if name.startswith("minhash_sig_"):
            fam = bench_minhash_family(spark, sf_dir, reps)
            times = fam[name]
        else:
            fn = queries[name]
            if name in WARM_IN:
                run_once(fn, spark, sf_dir, name)
            times = [run_once(fn, spark, sf_dir, name) for _ in range(reps)]
        canary.append(round(canary_spin_ms(), 1))
        membw.append(round(canary_membw_ms(), 1))
        rows[name] = {"median": round(statistics.median(times), 3),
                      "samples": [round(t, 3) for t in times]}
        print(f"# probe {name}: {rows[name]['median']}s {times}", file=sys.stderr)
    canary_median = statistics.median(canary)
    deflate = CANARY_CALIBRATION_MS / canary_median if canary_median else 1.0
    # bands are frozen at the sf0.1 protocol point (same guard as the
    # suite) — another SF's rows would "warn" by construction
    at_protocol_sf = sf_dir.rstrip("/").endswith("sf0.1")
    for name, r in rows.items():
        ref = EXTENDED_BANDS.get(name)
        r["deflated"] = round(r["median"] * deflate, 3)
        if ref is not None and at_protocol_sf:
            r["frozen"] = ref
            r["in_band"] = r["deflated"] <= ref * EXT_BAND_FACTOR
    print(json.dumps({
        "probe_rows": rows,
        "canary_median_ms": round(canary_median, 1),
        "canary_membw_median_ms": round(statistics.median(membw), 1),
        "deflate": round(deflate, 4),
        "sf_dir": sf_dir,
    }))
    return 0


def main() -> int:
    if len(sys.argv) >= 3 and sys.argv[1] == "--probes":
        return probe_main(sys.argv[2].split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:  # non-"sf<N>" dir name — report the path instead
        sf = sf_dir
    # 5 reps (was 3): this box shows transient 2-3× slow windows on an
    # otherwise idle machine; a median of 3 can land entirely inside one.
    # Five samples make the median robust to two bad draws — same metric
    # definition, tighter estimator.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Untimed warmup: JVM classloading, codegen, parquet footer cache —
    # plus one Arrow/pandas-UDF query to spin up the Python worker pool
    # (first applyInPandas in a session pays ~10 s of worker spawns).
    run_once(queries["text_index_nested"], spark, sf_dir)
    run_once(queries["sim_nearest_pairs"], spark, sf_dir)

    canary: list[float] = [round(canary_spin_ms(), 1)]
    membw: list[float] = [round(canary_membw_ms(), 1)]
    per_query: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        times = [run_once(queries[name], spark, sf_dir) for _ in range(reps)]
        samples[name] = [round(t, 3) for t in times]
        per_query[name] = round(statistics.median(times), 3)
        canary.append(round(canary_spin_ms(), 1))
        membw.append(round(canary_membw_ms(), 1))
        print(f"# {name}: {per_query[name]}s {times}", file=sys.stderr)

    # median-of-3 for the extended heavyweights (5 for headline): the two
    # iterative ANN/graph ops run tens of seconds each at sf0.1 and the
    # driver's per-round bench budget is shared with the frozen section.
    ext_reps = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_REPS", min(reps, 3)))
    extended: dict[str, float] = {}
    ext_samples: dict[str, list[float]] = {}
    ext_list = [(n, queries[n]) for n in EXTENDED]
    for name, fn in ext_list:
        if name in WARM_IN:
            run_once(fn, spark, sf_dir, name)  # untimed JIT warm-in
        times = [run_once(fn, spark, sf_dir, name) for _ in range(ext_reps)]
        ext_samples[name] = [round(t, 3) for t in times]
        extended[name] = round(statistics.median(times), 3)
        canary.append(round(canary_spin_ms(), 1))
        membw.append(round(canary_membw_ms(), 1))
        print(f"# ext {name}: {extended[name]}s {times}", file=sys.stderr)
    for name, times in bench_minhash_family(spark, sf_dir, ext_reps).items():
        ext_samples[name] = [round(t, 3) for t in times]
        extended[name] = round(statistics.median(times), 3)
        canary.append(round(canary_spin_ms(), 1))
        membw.append(round(canary_membw_ms(), 1))
        print(f"# ext {name}: {extended[name]}s {times}", file=sys.stderr)

    # Canary-deflated totals (round-7, VERDICT r6 item 6): round-over-round
    # comparisons kept needing manual deflation when the host was
    # contended. factor = calibration/canary_median normalizes the totals
    # to the 40 ms reference box in BOTH directions (a contended run
    # deflates, an unusually fast box inflates) — `value` stays the raw
    # measurement; `value_deflated` is the cross-round comparable one.
    canary_median = statistics.median(canary)
    deflate = CANARY_CALIBRATION_MS / canary_median if canary_median else 1.0
    # bands are frozen at the sf0.1 protocol point — comparing another SF's
    # rows against them would warn on every row by construction
    warns = band_warnings(extended, deflate) if sf == 0.1 else []
    for w in warns:
        print(f"# WARNING {w}", file=sys.stderr)
    out = {
        "metric": "headline suite wall-clock (median of %d warm runs/query)" % reps,
        "value": round(sum(per_query.values()), 3),
        "value_deflated": round(sum(per_query.values()) * deflate, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "samples": samples,
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "extended_total_deflated": round(sum(extended.values()) * deflate, 3),
        "extended_samples": ext_samples,
        "band_warnings": warns,
        "canary": {
            "spin_ms": canary,
            "median_ms": round(statistics.median(canary), 1),
            "calibration_ms": CANARY_CALIBRATION_MS,
            "note": "fixed-work CPU spin; median_ms >> calibration_ms means "
            "the host was contended and suite numbers are inflated",
        },
        "canary_membw": {
            "sum_ms": membw,
            "median_ms": round(statistics.median(membw), 1),
            "calibration_ms": MEMBW_CALIBRATION_MS,
            "note": "256MB streaming-sum; elevated vs calibration means "
            "memory-bus contention the CPU spin cannot see (the r10 "
            "+11.7% drift class)",
        },
    }
    # Full record (with raw samples) to a file: the driver captures only a
    # 2000-char output tail, which truncated BENCH_r05's headline value
    # (VERDICT r5 item 7) — a round's headline number must never have to be
    # reconstructed from samples.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(out, f)
        f.write("\n")
    # stdout gets a COMPACT line (no per-rep samples) guaranteed to fit
    # whole inside the driver's tail window, so `value` always parses.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "value_deflated": out["value_deflated"],
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "extended_total": out["extended_total"],
        "extended_total_deflated": out["extended_total_deflated"],
        "canary_median_ms": out["canary"]["median_ms"],
        "canary_membw_median_ms": out["canary_membw"]["median_ms"],
        "band_warnings": warns,
        "detail": "bench_out.json",
    }
    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
