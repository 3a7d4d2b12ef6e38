"""Synthesize a `documents.parquet` at an arbitrary scale for SLOPE studies.

The driver's fixtures stop at sf0.1 (5 000 docs) and are read-only, and its
generator is not shipped — so scale-slope claims ("linear at 10×") need a
local extrapolation. This generator mimics the fixture documents table's
observable distributions (token vocabulary harvested from the real sf0.1
fixture, ~40-60 tokens/doc, 5 langs, 20 sources, an exact-duplicate clone
rate and a near-duplicate mutation rate for the dedup family) with a fixed
seed, writing `<out>/documents.parquet`.

IMPORTANT: slope numbers must compare runs of THIS generator at two sizes
(e.g. --docs 5000 vs --docs 50000), never a generated corpus against the
driver fixture — the duplicate structure differs in detail, and only the
within-generator ratio isolates the algorithmic slope.

Usage::

    python tools/gen_scale_fixture.py --docs 50000 --out /tmp/slope_sf1
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXACT_DUP_RATE = 0.06  # fraction of docs that are verbatim clones
NEAR_DUP_RATE = 0.05  # fraction that are 1-2-token mutations of another doc


def harvest_vocab(fixture: str) -> list[str]:
    import duckdb

    rows = duckdb.sql(
        "SELECT DISTINCT unnest(string_split(text, ' ')) AS t FROM "
        f"read_parquet('{fixture}/documents.parquet') ORDER BY t"
    ).fetchall()
    return [r[0] for r in rows if r[0]]


def synth_vocab(n_terms: int) -> list[str]:
    """Open synthetic vocabulary (``w00000``…): the harvested fixture vocab
    is only ~31 terms, so random 40-60-token docs over it are ALL
    near-identical — true near-dup structure Θ(n²) by construction, which
    measures output growth, not the algorithm (the round-5 LSH slope row's
    diagnosis). The exact-join family's slope claim is about the PREFIX
    FILTER, so it needs a corpus where true near-dups are the injected
    clones/mutations only — i.e. a vocabulary wide enough that random docs
    share few tokens."""
    return [f"w{i:05d}" for i in range(n_terms)]


def generate(
    n_docs: int,
    out: str,
    fixture: str,
    seed: int = 42,
    vocab_terms: int = 0,
    mix_fixture_vocab: bool = False,
    hot_term_share: float = 0.0,
) -> str:
    rng = np.random.default_rng(seed)
    base_vocab = (
        synth_vocab(vocab_terms) if vocab_terms else harvest_vocab(fixture)
    )
    if mix_fixture_vocab and vocab_terms:
        # Full-suite fixtures (--full): the search operators query FIXED
        # literal terms from the driver fixture's vocabulary ("join",
        # "hash", …) — a pure synthetic vocab makes them all return 0 rows
        # (vacuous PASSes at sf1.0, round-11 finding), and terms spliced at
        # RANDOM Zipf ranks leave phrase/conjunction queries empty
        # (P(all query terms co-occur) ≈ 0 at tail frequencies). But a
        # Zipf HEAD placement over-corrects: a term with df ≈ N makes the
        # NAIVE all-pairs DuckDB oracles of the exact-join dedup family
        # Θ(df²) — ~10^10 join rows at 50k docs — so the parity check, not
        # the engine, becomes the bottleneck. The full-suite corpus
        # therefore uses a FLAT two-tier distribution: every fixture term
        # at p = 0.002 (df ≈ 10% of docs — phrase adjacency ≈ 10
        # occurrences, 3-term conjunctions ≈ 50 docs, per-term oracle pairs
        # ≈ 13M × 31 terms: DuckDB-feasible) over a UNIFORM synthetic tail
        # (df ≈ 130). Expected shared terms between random docs ≈ 0.4 →
        # Jaccard ≈ 0.01: true near-dups remain the injected clones only.
        # Plain --synth-vocab runs keep the unmixed Zipf corpus so the
        # r6/r9 slope-study protocol is unchanged.
        fixture_terms = sorted(set(harvest_vocab(fixture)))
        tail = [t for t in base_vocab if t not in set(fixture_terms)]
        vocab = np.array(fixture_terms + tail)
        p_fix = 0.002
        weights = np.concatenate(
            [
                np.full(len(fixture_terms), p_fix),
                np.full(
                    len(tail), (1 - p_fix * len(fixture_terms)) / len(tail)
                ),
            ]
        )
        weights /= weights.sum()
    else:
        vocab = np.array(base_vocab)
        # Zipf-ish token popularity like the fixture's (a few hot terms)
        weights = 1.0 / np.arange(1, len(vocab) + 1)
        weights /= weights.sum()
        order = rng.permutation(len(vocab))
        vocab = vocab[order]

    if hot_term_share:
        # Skew-stress mode (VERDICT r11 item 1): ONE term carries
        # hot_term_share of all token occurrences — the stopword-class hot
        # key the salted-aggregation operators exist for. Applied on top
        # of whichever base distribution is active; the boosted term is
        # vocab[0] (in the plain Zipf path that term is already the head,
        # so this sharpens the natural Zipf into a measurable hot key).
        weights = weights * (1.0 - hot_term_share)
        weights[0] += hot_term_share
        weights /= weights.sum()

    texts: list[str] = []
    n_base = int(n_docs * (1 - EXACT_DUP_RATE - NEAR_DUP_RATE))
    lengths = rng.integers(40, 61, size=n_base)
    for ln in lengths:
        toks = rng.choice(vocab, size=ln, p=weights)
        texts.append(" ".join(toks))
    while len(texts) < n_docs * (1 - NEAR_DUP_RATE):  # exact clones
        texts.append(texts[int(rng.integers(0, n_base))])
    while len(texts) < n_docs:  # near-dups: mutate 1-2 tokens
        src = texts[int(rng.integers(0, n_base))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            src[int(rng.integers(0, len(src)))] = str(
                rng.choice(vocab)
            )
        texts.append(" ".join(src))

    perm = rng.permutation(n_docs)
    texts = [texts[i] for i in perm]
    langs = rng.choice(
        np.array(["en", "fr", "es", "de", "zh"]), size=n_docs,
        p=[0.5, 0.15, 0.15, 0.1, 0.1],
    )
    # a list, not np.array: an empty array of strings would be float64
    sources = [f"src{i}" for i in rng.integers(0, 20, size=n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    # bounded row groups: pyarrow's default is 1M rows = ONE row group for
    # any corpus this generator writes, and parquet scans parallelize at
    # row-group granularity — a single group caps the scan at ONE task no
    # matter the split conf (the skew study's first run measured exactly
    # that as a phantom straggler). 4096 docs/group ≈ 1 MB compressed —
    # the many-splits shape a real multi-file corpus has.
    pq.write_table(table, path, row_group_size=4096)
    return path


EMB_DUP_RATE = 0.05  # fraction of vectors that are near-clones (cos ≥ ~0.99)
EMB_DIM = 64
EMB_LABELS = 8


def generate_embeddings(n_vecs: int, out: str, seed: int = 43) -> str:
    """Synthesize an `embeddings.parquet` matching the driver fixture's
    schema (vec_id int64, embedding list<float>, label int32) for the
    ANN/embedding-dedup slope rows: base vectors are unit-normalized
    Gaussians (the fixture's near-random regime), plus an injected
    EMB_DUP_RATE of near-clones (tiny perturbation, cosine ≥ ~0.99) so the
    ANN dedup family has a true duplicate set whose size scales linearly —
    the candidate/edge growth the banding-linearity claim is about."""
    rng = np.random.default_rng(seed)
    n_base = int(n_vecs * (1 - EMB_DUP_RATE))
    base = rng.standard_normal((n_base, EMB_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    src = rng.integers(0, n_base, size=n_vecs - n_base)
    clones = base[src] + 0.02 * rng.standard_normal(
        (n_vecs - n_base, EMB_DIM)
    )
    clones /= np.linalg.norm(clones, axis=1, keepdims=True)
    vecs = np.vstack([base, clones])[rng.permutation(n_vecs)].astype(
        np.float32
    )
    table = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v for v in vecs.tolist()], pa.list_(pa.float32())
            ),
            "label": pa.array(
                rng.integers(0, EMB_LABELS, size=n_vecs).tolist(), pa.int32()
            ),
        }
    )
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "embeddings.parquet")
    pq.write_table(table, path, row_group_size=4096)  # see generate()
    return path


# ---------------------------------------------------------------------------
# Full-fixture scale-up (round-11, VERDICT r10 item 1): every suite run above
# sf0.1 needs ALL TEN tables, not just documents/embeddings. The relational
# star schema is scaled by K-fold REPLICATION WITH KEY SHIFTING — each copy i
# shifts every synthetic key by i × (max_key + 1), with foreign keys shifted
# by their referenced table's stride, so referential integrity, per-key
# cardinalities, selectivities, and value distributions are all preserved
# exactly (the same technique dbgen-style generators use for update sets).
# Key-embedding names (Customer#..., Supplier#...) are re-derived from the
# shifted key so name-keyed operators see K× distinct names, not K copies.
# region/nation are fixed dimensions and copy through unchanged.
# ---------------------------------------------------------------------------

# per-table (key-shift expressions). {i} = copy index, {s_<t>} = stride of
# table <t> (max key + 1 in the source fixture).
_REPL_SQL = {
    "customer": """
        SELECT c_custkey + {i} * {s_customer} AS c_custkey,
               printf('Customer#%09d', c_custkey + {i} * {s_customer}) AS c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM src""",
    "supplier": """
        SELECT s_suppkey + {i} * {s_supplier} AS s_suppkey,
               printf('Supplier#%09d', s_suppkey + {i} * {s_supplier}) AS s_name,
               s_nationkey, s_acctbal
        FROM src""",
    "part": """
        SELECT p_partkey + {i} * {s_part} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM src""",
    "orders": """
        SELECT o_orderkey + {i} * {s_orders} AS o_orderkey,
               o_custkey + {i} * {s_customer} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM src""",
    "lineitem": """
        SELECT l_orderkey + {i} * {s_orders} AS l_orderkey,
               l_partkey + {i} * {s_part} AS l_partkey,
               l_suppkey + {i} * {s_supplier} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM src""",
    "events": """
        SELECT event_id + {i} * {s_events} AS event_id,
               ts,
               user_id + {i} * {s_events_user} AS user_id,
               event_type, value, props
        FROM src""",
}
_KEY_COLS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
}


def generate_relational(fixture: str, out: str, k: int) -> None:
    """Write K-fold key-shifted replicas of the 8 relational tables under
    ``out`` (see banner comment). K=10 on sf0.1 ≈ a dbgen sf1.0."""
    import shutil

    import duckdb

    os.makedirs(out, exist_ok=True)
    strides = {
        f"s_{t}": duckdb.sql(
            f"SELECT max({c}) + 1 FROM read_parquet('{fixture}/{t}.parquet')"
        ).fetchone()[0]
        for t, c in _KEY_COLS.items()
    }
    strides["s_events_user"] = duckdb.sql(
        f"SELECT max(user_id) + 1 FROM read_parquet('{fixture}/events.parquet')"
    ).fetchone()[0]
    for t in ("region", "nation"):  # fixed dims: copy through
        shutil.copyfile(
            os.path.join(fixture, f"{t}.parquet"),
            os.path.join(out, f"{t}.parquet"),
        )
    for t, tmpl in _REPL_SQL.items():
        copies = " UNION ALL ".join(
            tmpl.format(i=i, **strides) for i in range(k)
        )
        duckdb.sql(
            f"""
            COPY (WITH src AS (
                      SELECT * FROM read_parquet('{fixture}/{t}.parquet'))
                  {copies})
            TO '{os.path.join(out, f"{t}.parquet")}' (FORMAT PARQUET)
            """
        )


HOT_SHARE = 0.15  # fraction of fact rows re-pointed at the single hot key


def skew_hot_keys(out: str, hot_share: float = HOT_SHARE) -> dict[str, int]:
    """Plant a hot key in the fact tables of an already-generated fixture
    dir, IN PLACE (VERDICT r11 item 1 — the skew-stress fixture):

    - `lineitem`: ``hot_share`` of rows get their ``l_suppkey`` re-pointed
      at the smallest supplier key (a mega-supplier carrying ~15% of a
      6M-row fact table at K=10);
    - `events`: ``hot_share`` of rows get ``user_id`` re-pointed at the
      smallest user id (the bot/whale account every real event log has).

    Row selection is deterministic (DuckDB ``hash()`` of the primary key,
    mod 10 000 < share·10 000), so the fixture is reproducible and both
    the salted and plain operators see the identical table. Referential
    integrity is preserved — the hot key is an EXISTING dimension key.
    Returns the planted hot key per table for the study's assertions."""
    import duckdb

    thresh = int(round(hot_share * 10_000))
    hot: dict[str, int] = {}
    li, sup, ev = (
        os.path.join(out, f"{t}.parquet")
        for t in ("lineitem", "supplier", "events")
    )
    hot["lineitem"] = duckdb.sql(
        f"SELECT min(s_suppkey) FROM read_parquet('{sup}')"
    ).fetchone()[0]
    hot["events"] = duckdb.sql(
        f"SELECT min(user_id) FROM read_parquet('{ev}')"
    ).fetchone()[0]
    rewrites = {
        li: f"""
            SELECT * REPLACE (
                CASE WHEN hash(l_orderkey * 8 + l_linenumber) % 10000
                          < {thresh}
                     THEN {hot['lineitem']} ELSE l_suppkey END AS l_suppkey)
            FROM read_parquet('{{src}}')""",
        ev: f"""
            SELECT * REPLACE (
                CASE WHEN hash(event_id) % 10000 < {thresh}
                     THEN {hot['events']} ELSE user_id END AS user_id)
            FROM read_parquet('{{src}}')""",
    }
    for path, sql in rewrites.items():
        tmp = path + ".skewed"
        duckdb.sql(
            f"COPY ({sql.format(src=path)}) TO '{tmp}' (FORMAT PARQUET)"
        )
        os.replace(tmp, path)
    return hot


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--fixture", default="/root/testdata/sf0.1")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--synth-vocab", type=int, default=0,
        help="use an open synthetic vocabulary of N terms instead of "
        "harvesting the fixture's (~31-term) one — required for exact-join "
        "slope studies where true near-dups must stay sparse",
    )
    ap.add_argument(
        "--full", action="store_true",
        help="also write embeddings (docs/2.5 vectors, the fixture ratio) "
        "and K-fold key-shifted replicas of the 8 relational tables, where "
        "K = docs / fixture-docs — a complete 10-table suite fixture "
        "(--docs 50000 on the sf0.1 fixture ≈ sf1.0)",
    )
    ap.add_argument(
        "--skew", action="store_true",
        help=f"skew-stress fixture: one term carries {HOT_SHARE:.0%} of all "
        "document tokens, and (with --full) one supplier key carries "
        f"{HOT_SHARE:.0%} of lineitem rows / one user_id {HOT_SHARE:.0%} of "
        "events rows — NOT for oracle-parity runs (hot-key df² makes naive "
        "oracles infeasible); for tools/skew_study.py",
    )
    args = ap.parse_args()
    if args.full and not args.synth_vocab:
        # --full's mix_fixture_vocab only takes effect when a synthetic
        # vocabulary exists; --full alone used to fall back silently to the
        # harvested ~31-term fixture vocab, producing the degenerate
        # all-docs-near-dup corpus (Θ(df²) oracle blow-up) the banner
        # comment warns against (ADVICE r11). Default to the sf1.0-run
        # vocabulary size instead of failing.
        args.synth_vocab = 20000
        print("# --full without --synth-vocab: defaulting to "
              "--synth-vocab 20000 (open vocabulary)", file=sys.stderr)
    path = generate(
        args.docs,
        args.out,
        args.fixture,
        args.seed,
        args.synth_vocab,
        mix_fixture_vocab=args.full,
        hot_term_share=HOT_SHARE if args.skew else 0.0,
    )
    if args.full:
        import duckdb

        fixture_docs = duckdb.sql(
            "SELECT count(*) FROM "
            f"read_parquet('{args.fixture}/documents.parquet')"
        ).fetchone()[0]
        k = max(1, round(args.docs / fixture_docs))
        generate_embeddings(args.docs * 2 // 5, args.out, args.seed + 1)
        generate_relational(args.fixture, args.out, k)
        if args.skew:
            hot = skew_hot_keys(args.out)
            print(f"# planted hot keys: {hot}", file=sys.stderr)
    print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
