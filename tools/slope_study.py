"""Scale-slope study for the exact-join dedup family (round 6) and the
ANN/embedding family (round 7).

Measures wall-clock of `dedup_near_jaccard`, `dedup_containment`,
`text_paragraph_dedup`, `graph_triangle_count`, `llm_contamination_matrix`
(over synthetic documents) and `dedup_embedding_ann` (over synthetic
embeddings) on matched corpora at two sizes (default 5 000 vs 50 000 docs/
vectors, an OPEN 20 000-term vocabulary via ``gen_scale_fixture
--synth-vocab``) so the prefix-filter and sign-LSH-banding "linear at
scale" claims are empirical, not theory + one SF step.

Protocol (matches the round-5 study in BASELINE.md):
- corpora come from the SAME generator at both sizes — never generated
  vs driver fixture;
- two reps per operator; the SECOND (JVM-warm) rep is reported;
- `dedup_near_jaccard`'s pin is cleared (`caching.clear`) before each of its
  own reps (so rep 2 measures the build, not a cache read), but left warm
  for `graph_triangle_count` — production semantics, and it isolates the
  triangle join's own slope from the edge relation it consumes.

Round 12 (VERDICT r11 items 5/6): a THIRD scale point — two-point slopes
cannot separate fixed cost from growth; the default grid is now
5 000 / 15 000 / 50 000 — and two `dedup_semantic_ivf` rows, fixed-k vs
``cells='auto'`` (the k ∝ N SemDeDup rule), so the auto path's
near-linearity is measured against the fixed-k quadratic it replaces.

Usage::

    python tools/slope_study.py [--sizes 5000,15000,50000]
                                [--vocab 20000] [--out /tmp/slope]

Prints one JSON line per (docs, operator) and a final summary table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(sizes: list[int], vocab: int, out_root: str) -> dict:
    from gen_scale_fixture import generate, generate_embeddings

    from sdu_hadoop_indexer_spark import caching
    from sdu_hadoop_indexer_spark.llm import dedup
    from sdu_hadoop_indexer_spark.session import get_spark

    spark = get_spark("slope_study")
    ops = [
        ("dedup_near_jaccard", dedup.dedup_near_jaccard),
        # containment decomposition (VERDICT r10 item 4): candidates-only
        # stage FIRST (token-set memo warms on rep 1; rep 2 isolates the
        # prefix/size/position-filtered join + distinct), then the full
        # cold build with the edge pin evicted per rep — verify wall ≈
        # full − candidates, both JVM-warm over the same staged inputs.
        ("containment_candidates", dedup._containment_candidates),
        ("dedup_containment", dedup.dedup_containment),
        ("text_paragraph_dedup", dedup.text_paragraph_dedup),
        # AFTER near_jaccard so the memoized edge relation is warm: the
        # number isolates the degree-cap + wedge join itself.
        ("graph_triangle_count", dedup.graph_triangle_count),
        # the peel loop and the per-node wedge rollup read the same warm
        # `_capped_edges_persisted` pin as the triangle count (VERDICT r10
        # item 8: re-measure the family after the r10 shared-pin changes).
        ("graph_kcore", dedup.graph_kcore),
        ("graph_clustering_coeff", dedup.graph_clustering_coeff),
        # AFTER containment, same logic: the composer row measures the
        # per-source-pair rollup over the warm staged edge relation —
        # exactly its production position in a contamination audit.
        ("llm_contamination_matrix", dedup.llm_contamination_matrix),
        # banded sign-LSH pair dedup over the synthetic embeddings: the
        # band-table memo is evicted per rep so the number is the full
        # band-build + slim bucket self-join + Arrow verify.
        ("dedup_embedding_ann", dedup.dedup_embedding_ann),
        # SemDeDup fixed-k (the registered oracle-parity point — its
        # Σ|cell|² grows quadratically at fixed N_CELLS, the one named
        # super-linear row of the r11 sf1.0 bench) vs the k ∝ N auto
        # path (VERDICT r11 item 5): expected occupancy constant →
        # candidates ≈ N·SEMANTIC_TARGET_CELL, near-linear wall.
        ("dedup_semantic_ivf", dedup.dedup_semantic_ivf),
        (
            "semantic_ivf_auto",
            lambda spark, d: dedup.dedup_semantic_ivf(spark, d, cells="auto"),
        ),
    ]
    # pins evicted before every rep, so each rep measures the cold build
    # (for containment: candidates + verify), not a pin read
    evicted_pins = {
        "dedup_near_jaccard": "near_jaccard",
        "dedup_containment": "containment",
        "dedup_embedding_ann": "pair_bands",
    }
    # fixed-k SemDeDup is Θ(N²/k): ~312 M candidate pairs at 50 k vectors
    # (~8 min/rep) — the quadratic is already established by the 15 k point
    # plus the r11 sf1.0 bench row; don't burn the study's wall on it.
    skip_above = {"dedup_semantic_ivf": 15000}
    results: dict[str, dict[int, dict]] = {name: {} for name, _ in ops}
    for n_docs in sizes:
        d = os.path.join(out_root, f"docs{n_docs}")
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            generate(n_docs, d, "/root/testdata/sf0.1", vocab_terms=vocab)
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            generate_embeddings(n_docs, d)
        for name, fn in ops:
            if n_docs > skip_above.get(name, float("inf")):
                continue
            walls, rows = [], 0
            for _rep in range(2):
                if name in evicted_pins:
                    caching.clear(evicted_pins[name])
                t0 = time.monotonic()
                rows = fn(spark, d).count()
                walls.append(time.monotonic() - t0)
            rec = {"docs": n_docs, "op": name, "warm_s": round(walls[1], 2),
                   "cold_s": round(walls[0], 2), "rows": rows}
            results[name][n_docs] = rec
            print(json.dumps(rec), flush=True)
    hdr = " | ".join(f"{n} docs" for n in sizes)
    # per-step slopes (wall ratio / data ratio pairs) expose whether growth
    # is in the fixed cost (step slopes fall) or the data term (they hold)
    steps = list(zip(sizes, sizes[1:]))
    step_hdr = " | ".join(f"slope {a // 1000}k->{b // 1000}k" for a, b in steps)
    print(f"\n| operator | {hdr} | {step_hdr} | rows {sizes[0]}->{sizes[-1]} |")
    print("|---" * (1 + len(sizes) + len(steps) + 1) + "|")
    for name, _ in ops:
        r = results[name]
        walls = " | ".join(
            f"{r[n]['warm_s']} s" if n in r else "—" for n in sizes
        )
        slopes = " | ".join(
            f"**{r[b]['warm_s'] / max(r[a]['warm_s'], 1e-9):.1f}x**"
            if a in r and b in r else "—"
            for a, b in steps
        )
        last = max(n for n in sizes if n in r)
        print(f"| `{name}` | {walls} | {slopes} | "
              f"{r[sizes[0]]['rows']} -> {r[last]['rows']} |")
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sizes", default="5000,15000,50000",
        help="comma-separated corpus sizes (docs = vectors per point)",
    )
    ap.add_argument("--vocab", type=int, default=20000)
    ap.add_argument("--out", default="/tmp/slope_r6")
    args = ap.parse_args()
    run([int(s) for s in args.sizes.split(",")], args.vocab, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
