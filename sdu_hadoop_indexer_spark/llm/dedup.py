"""Deduplication operators for training-data pipelines (SURVEY.md §2.B-10).

Charter-mandated extensions over the `documents` corpus: exact hashing,
token-set / n-gram Jaccard near-dup (the EXACT-oracle baselines), and the
scale paths — MinHash-LSH and SimHash — built on the cross-engine hash
family in ``xhash.py`` so even the sketch operators carry EXACT DuckDB
oracles (round 3; previously ROWS-ONLY on xxhash64). The Jaccard-recall
tests (SURVEY §5.2 rule 6) remain as semantic validation on top.

Scale notes (100 TB):
- exact dedup is one hash-shuffle on sha256(text) — embarrassingly scalable;
- pairwise Jaccard is quadratic in docs-per-shared-token: it is the local
  correctness oracle, NOT the scale path;
- MinHash-LSH is the scale path: O(docs × signature) work, candidates only
  collide within band buckets, and the band groupBy is a single shuffle whose
  hot buckets AQE splits. Band/row choice (4 bands × 4 rows) targets the
  τ≈0.9 similarity knee: P(candidate) = 1-(1-s^4)^4.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import table
from ..iteration import RoundStager, stage_round
from ..operators.parity import ratio, sql_ratio
from ..registry import register
from ..text.indexer import TOK_SQL, tokenize
from ..xhash import (
    COMBINE_BOUND,
    XH_P,
    combine,
    combine_sql,
    hfam,
    hfam_sql,
    xh1,
    xh1_sql,
    xh2,
    xh2_sql,
)

JACCARD_TAU = 0.9

# Distinct (doc_id, token) pairs + per-doc set size — shared by the Jaccard
# family. DuckDB twin below.
DSET_SQL = f"""
{TOK_SQL},
tset AS (SELECT DISTINCT doc_id, term FROM tok),
tsize AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY doc_id)
"""


def _token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized-corpus relation every exact-join operator starts from
    (near-jaccard, containment, minhash signatures, triangle counting).
    Pinned per input (``caching.pin``): it is docs×distinct-tokens rows
    (116 k at sf0.1 — tiny next to the pipelines it feeds), and without
    the pin each consumer re-runs the scan→tokenize→distinct shuffle from
    parquet (measured 5.6 s per rebuild at sf0.1). At cluster scale this
    is the tokenized corpus a dedup pipeline stages ONCE as parquet and
    every downstream stage reads — the same staged-artifact discipline as
    the band table (`_lsh_bands`) and the τ=0.9 edge set."""
    return caching.pin(
        "token_sets",
        spark,
        sf_dir,
        lambda: tokenize(spark, sf_dir).select("doc_id", "term").distinct(),
        "persist",
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id.

    sha2(text, 256) and DuckDB sha256 both emit lowercase hex → EXACT oracle.
    """
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_normalized_text",
    oracle="""
    WITH norm AS (
        SELECT doc_id, text,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r]', '', 'g'),
                   '[ \\t\\n\\r]+', ' ', 'g')) AS ntext
        FROM documents
    )
    SELECT sha256(ntext) AS norm_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT text) AS BIGINT) AS n_raw_variants
    FROM norm GROUP BY sha256(ntext)
    """,
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup — the C4/CCNet first-pass between byte-exact
    and fuzzy dedup: lowercase, strip non-alphanumerics, collapse
    whitespace, THEN hash — so case/punctuation/spacing re-encodings of the
    same content collapse into one group. `n_raw_variants` counts the
    distinct raw texts each normalized group absorbed (the added catch over
    `dedup_exact`; > 1 ⇒ normalization did real work, a number worth
    monitoring before turning the dedup into deletions).

    Same 100 TB shape as `dedup_exact`: normalization is map-side string
    work fused into the scan, then ONE hash agg keyed by digest —
    map-partial combinable, linear, no skew beyond true duplicate mass.
    EXACT oracle: the regex classes are spelled as explicit ASCII sets
    ([^a-z0-9 \\t\\n\\r]) so Java and DuckDB regex engines agree on every
    byte, and sha2/sha256 both emit lowercase hex."""
    d = table(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 \\t\\n\\r]", ""),
            "[ \\t\\n\\r]+",
            " ",
        )
    )
    return (
        d.select("doc_id", "text", ntext.alias("ntext"))
        .groupBy(F.sha2("ntext", 256).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
            F.countDistinct("text").alias("n_raw_variants"),
        )
    )


URL_GROUPS = 23  # synthetic path/id collision modulus (see docstring)


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END)
               || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
               || '.Example.COM'
               || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
               || '/docs' || (CASE WHEN doc_id % 11 = 0 THEN '//' ELSE '/' END)
               || 'item-' || CAST(doc_id % {URL_GROUPS} AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
               || '?id=' || CAST(doc_id % {URL_GROUPS} AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 1 THEN '&utm_source=feed' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN '&fbclid=x1' ELSE '' END)
               || (CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END) AS url
        FROM documents
    ),
    c AS (
        SELECT doc_id, url,
               'https://'
               || lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1))
               || regexp_replace(regexp_replace(
                      regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                      '/{{2,}}', '/', 'g'), '/$', '')
               || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
                   AS canonical_url
        FROM u
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
    FROM c GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the CommonCrawl-pipeline first pass
    BEFORE content dedup: the same page is typically crawled under many
    raw URL spellings (scheme/host case, explicit default port, duplicate
    or trailing slashes, tracking parameters, fragments), and collapsing
    them at the STRING level costs one projection instead of a content
    hash over the body. Canonical form: lowercase host, drop `:443`,
    collapse `//` runs, strip the trailing slash, drop the fragment and
    the tracking params (utm_*/fbclid), keep the id param — the explicit
    keep-list approach production crawlers use (a generic param sort
    would canonicalize `?b=2&a=1`, but silently keeps session junk).

    The fixture has no URL column, so raw URLs are synthesized
    deterministically from (doc_id, source) with all six dirt classes
    injected on residue classes — docs sharing (source, doc_id % 23)
    collapse to one canonical URL, so the op demonstrably merges
    variants (n_raw_variants > 1) rather than hashing distinct strings.

    Scale shape: identical to `dedup_exact` — the canonicalization is
    map-side regex work fused into the scan, then ONE hash agg keyed on
    the canonical string; combinable, linear, skew bounded by true
    duplicate mass. EXACT oracle: both engines run byte-identical ASCII
    regexes (RE2/Java agree on these classes) over the identically
    synthesized string."""
    d = table(spark, sf_dir, "documents")

    def m(k: int):
        return F.col("doc_id") % k

    gid = m(URL_GROUPS).cast("string")
    url = F.concat(
        F.when(m(7) == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(m(3) == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(m(5) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs"),
        F.when(m(11) == 0, F.lit("//")).otherwise(F.lit("/")),
        F.lit("item-"),
        gid,
        F.when(m(2) == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        gid,
        F.when(m(3) == 1, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        F.when(m(13) == 0, F.lit("&fbclid=x1")).otherwise(F.lit("")),
        F.when(m(4) == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    host = F.lower(F.regexp_extract(url, "^[a-zA-Z]+://([^/?#:]+)", 1))
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url, "^[a-zA-Z]+://[^/?#]*([^?#]*)", 1),
            "/{2,}",
            "/",
        ),
        "/$",
        "",
    )
    pid = F.regexp_extract(url, "[?&]id=([0-9]+)", 1)
    canon = F.concat(F.lit("https://"), host, path, F.lit("?id="), pid)
    return (
        d.select("doc_id", url.alias("url"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
            F.countDistinct("url").alias("n_raw_variants"),
        )
    )


def _parse_size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '1g', '-1')."""
    s = str(v).strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return 10 << 20  # Spark's default threshold


def _source_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a source parquet table (file or directory). At
    cluster scale this is the catalog's table-size statistic; locally we
    read the filesystem directly."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


# Uncompressed token-array expansion over parquet-compressed text: measured
# ~4-6x on the fixtures; 8x keeps the gate conservative (an over-estimate
# can only fall back to the shuffle join, never OOM a broadcast).
_ARRS_EXPANSION = 8


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count of a source parquet table from footer metadata alone (no
    scan — at cluster scale this is the catalog rowcount statistic).
    Returns -1 when the footer is unreadable so gates stay conservative."""
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return pq.read_metadata(path).num_rows
        if not os.path.isdir(path):
            return -1  # unknown table → gates must stay conservative
        total = -1  # stays -1 unless the walk finds at least one footer
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    n = pq.read_metadata(os.path.join(root, fn)).num_rows
                    total = n if total < 0 else total + n
        return total
    except Exception:
        return -1


def _fits_broadcast(spark: SparkSession, rows: int, bytes_per_row: int) -> bool:
    """Shared size gate for ANY explicit broadcast hint (VERDICT r8 item 3 /
    ADVICE r8): estimated in-memory bytes of the candidate build side
    (rows × a caller-supplied conservative per-row width MATCHING THE
    RELATION ACTUALLY BROADCAST — the r8 lesson from gating a slim
    (vec_id, cell) relation with the full-embedding width) against the
    session's own autoBroadcastJoinThreshold. Unknown row count (< 0) or
    broadcast-disabled threshold → False: the hint is omitted and the join
    degrades to a co-partitioned shuffle — a slowdown, never an OOM."""
    cap = _broadcast_cap(spark)
    return rows >= 0 and cap > 0 and rows * bytes_per_row <= cap


def _broadcast_cap(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (≤ 0: disabled)."""
    return _parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )


def _arrs_fits_broadcast(spark: SparkSession, sf_dir: str) -> bool:
    """Size-gate for broadcasting the doc→token-array relation (VERDICT r5
    item 3): the relation is bounded by the documents table's text volume,
    so estimate it from the source parquet bytes × expansion factor and
    compare against the session's own autoBroadcastJoinThreshold. Above
    the threshold (or threshold ≤ 0, Spark's broadcast-disabled setting)
    the caller omits the hint and the join degrades to a co-partitioned
    shuffle — a slowdown, never an executor OOM."""
    cap = _broadcast_cap(spark)
    return cap > 0 and _arrs_bytes(sf_dir) <= cap


def _arrs_bytes(sf_dir: str) -> int:
    return _source_bytes(sf_dir, "documents") * _ARRS_EXPANSION


@register(
    "dedup_near_jaccard",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) + 0.0 AS jaccard
    FROM pairs
    JOIN tsize sa ON doc_a = sa.doc_id
    JOIN tsize sb ON doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set Jaccard ≥ τ (exact baseline), via
    LOSSLESS prefix filtering (Bayardo/Ma/Srikant "All-Pairs", Chaudhuri
    et al. SSJoin) instead of the naive inverted-index self-join.

    The naive join on `term` is quadratic in docs-per-shared-token: one
    stopword shared by all N docs alone emits N² candidate rows (measured:
    52-88× blowup moving sf0.01→sf0.1 in the two operators composing this
    one — the round-5 extended bench's first catch). Prefix filter:
    order every doc's tokens by global rarity (document frequency asc,
    term asc — ANY fixed total order is correct; rare-first makes
    prefixes selective), and join only each doc's first
    ``p = |A| − ⌈τ·|A|⌉ + 1`` tokens. Correctness: J ≥ τ ⇒ |A∩B| ≥
    τ·|A∪B| ≥ ⌈τ·max(|A|,|B|)⌉ =: α, and the prefix-filter lemma says
    |A∩B| ≥ α forces the (|A|−α+1)- and (|B|−α+1)-prefixes to share an
    element; each side's ``p`` uses its OWN ⌈τ·|A|⌉ ≤ α, so its prefix
    is a superset of the lemma's — no qualifying pair is lost
    (exactness theorem, not approximation; the DuckDB oracle keeps the
    naive formulation and the gate pins equality). NOTE the shorter
    PPJoin ⌈(2τ/(1+τ))·|A|⌉ *index* prefix is NOT valid here — it
    requires the probe/index asymmetry (measured: 21 missing pairs at
    sf0.001). With τ = 9/10 the prefix is ~|A|/10 + 1 rarest tokens;
    stopwords sort LAST and never join. Candidates then verify exactly
    via `array_intersect` on the per-doc sorted token arrays — per-pair
    O(|A|+|B|) JVM work on a candidate set near-linear in the true
    near-dup count. At 100 TB this is the published exact-join scale
    path; the LSH family remains the approximate one.

    The verified pair relation is pinned per input
    (VERDICT r5 item 2): it is the τ=0.9 similarity EDGE SET that
    `graph_triangle_count` and `dedup_lsh_quality_eval` both consume, and
    re-materializing the candidate-verify pipeline (11 M candidates at
    sf0.1) from scratch in each composer was 52 s of the 70.7 s extended
    bench. Pairs-sized output (near-linear in true near-dups), so the
    pinned copy is tiny next to the work it saves; at cluster scale this
    is the staged edge table a dedup pipeline would write between stages.
    """
    # checkpoint LEAF (r15, the capped-edge-pin finding): a bare persist
    # keeps the candidate+verify lineage in the handle and every consumer
    # branch re-analyzes it driver-side. The edge set is pairs-sized and
    # every consumer re-aggregates or joins it through its own shuffles,
    # so the frozen-partitioning caveat of the bands pin does not apply.
    return caching.pin(
        "near_jaccard", spark, sf_dir, lambda: _near_jaccard_build(spark, sf_dir), "leaf"
    )


def _near_jaccard_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # τ as an exact rational (9/10): the prefix bound must be integer-exact
    # on every |A|, so ⌈9·a/10⌉ is computed as (9a+9) div 10 — no floats.
    tau_n, tau_d = 9, 10
    tset = _token_sets(spark, sf_dir)
    dfreq = tset.groupBy("term").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "term")
    wsz = Window.partitionBy("doc_id")
    pref = (
        tset.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            F.row_number().over(wdoc).alias("pos"),
            F.count("*").over(wsz).alias("sz"),
        )
        .where(
            F.col("pos")
            <= F.col("sz")
            - F.expr(f"({tau_n} * sz + {tau_d - 1}) div {tau_d}")
            + 1
        )
    )
    # NOTE on AQE: the prefix relation's shuffle is sub-MB, and AQE's
    # byte-based coalescing would fold it to ONE partition, serializing the
    # fused stage past it (broadcast term-join fanning 14k prefix rows into
    # 22M candidates + distinct + verify) into a single 95 s task — AQE is
    # blind to join FAN-OUT downstream of an exchange. Fixed engine-wide by
    # the coalescePartitions.minPartitionSize floor in session._RUNTIME_CONF
    # (an in-plan repartition is silently collapsed by Catalyst here).
    a = pref.select(F.col("doc_id").alias("doc_a"), "term")
    b = pref.select(F.col("doc_id").alias("doc_b"), "term")
    cand = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify on HASHED int64 token arrays (round-9, the containment
    # verify recipe): the intersection COUNT is injective-map-invariant
    # and bigint array_intersect runs ~2× the string form; collision
    # bound documented at the containment site
    arrs = tset.groupBy("doc_id").agg(
        F.collect_list(F.xxhash64("term")).alias("toks"),
        F.count("*").alias("sz"),
    )
    ra = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sa"),
    )
    rb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("sz").alias("sb"),
    )
    # BROADCAST the doc→token-array relation onto the candidate pairs when
    # it fits (size-gated — see _arrs_fits_broadcast): it is docs-sized
    # (one short array per doc — the dimension side here), and Spark's
    # size estimator over collect_list output is conservative enough to
    # pick shuffle joins instead, which re-executes the whole
    # tokenize→group lineage per join side (measured 98.7 s vs 9 s at
    # sf0.1). Above the gate the hint is OMITTED — an unconditional hint
    # would turn a corpus-scale relation into an executor OOM instead of
    # a slowdown — and both sides being keyed on doc_id, the join
    # degrades to a co-partitioned shuffle.
    if _arrs_fits_broadcast(spark, sf_dir):
        ra, rb = F.broadcast(ra), F.broadcast(rb)
    verified = (
        cand.join(ra, "doc_a")
        .join(rb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
    )
    jac = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return (
        verified.where(jac >= JACCARD_TAU)
        .select("doc_a", "doc_b", (F.round(jac, 4) + F.lit(0.0)).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {TOK_SQL},
    big AS (
        SELECT DISTINCT doc_id, term || ' ' || next_term AS bigram
        FROM (SELECT doc_id, term,
                     lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS next_term
              FROM tok)
        WHERE next_term IS NOT NULL
    ),
    bsize AS (SELECT doc_id, count(*) AS sz FROM big GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM big a JOIN big b ON a.bigram = b.bigram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) + 0.0 AS jaccard
    FROM pairs
    JOIN bsize sa ON doc_a = sa.doc_id
    JOIN bsize sb ON doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by bigram-shingle Jaccard ≥ 0.5 — order-sensitive variant
    (word salads that tie on token sets separate on shingles)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tokenize(spark, sf_dir)
        .withColumn("next_term", F.lead("term").over(w))
        .where(F.col("next_term").isNotNull())
        .select("doc_id", F.concat_ws(" ", "term", "next_term").alias("bigram"))
        .distinct()
    )
    sizes = big.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = big.select(F.col("doc_id").alias("doc_a"), "bigram")
    b = big.select(F.col("doc_id").alias("doc_b"), "bigram")
    inter = (
        a.join(b, "bigram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb"))
    # per-doc (id, int) relation: ~32 B/row in-memory — gate, never assume
    if _fits_broadcast(spark, _table_rows(sf_dir, "documents"), 32):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    jac = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", (F.round(jac, 4) + F.lit(0.0)).alias("jaccard"))
    )


N_HASHES = 16
N_BANDS = 4  # 4 bands × 4 rows
ROWS_PER_BAND = N_HASHES // N_BANDS


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h15): min of the i-th cross-engine family hash over each
    doc's distinct terms — one grouped agg, no per-row Python. The term hash
    pair (x1, x2) is char-fold arithmetic (xhash.py) evaluated identically by
    DuckDB, which is what lets the whole MinHash family be EXACT-oracled."""
    tset = _token_sets(spark, sf_dir).select(
        "doc_id", xh1("term").alias("x1"), xh2("term").alias("x2")
    )
    aggs = [
        F.min(hfam(i, F.col("x1"), F.col("x2"))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return tset.groupBy("doc_id").agg(*aggs)


def _bands_sql() -> str:
    """DuckDB CTE chain tok→tset→th→sig→bands mirroring minhash_signatures +
    _lsh_bands bit-for-bit (same fold, family, and band combine)."""
    mins = ", ".join(f"min({hfam_sql(i)}) AS h{i}" for i in range(N_HASHES))
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + combine_sql(
            [f"h{b * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND)]
        )
        + " AS band_hash FROM sig"
        for b in range(N_BANDS)
    )
    return f"""{TOK_SQL},
    tset AS (SELECT DISTINCT doc_id, term FROM tok),
    th AS (SELECT doc_id, {xh1_sql('term')} AS x1, {xh2_sql('term')} AS x2
           FROM tset),
    sig AS (SELECT doc_id, {mins} FROM th GROUP BY doc_id),
    bands AS ({band_selects})"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_bands_sql()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (the 100 TB near-dup path).

    Signature → band hashes → self-join within (band_idx, band_hash) buckets.
    EXACT oracle: the DuckDB twin rebuilds identical signatures via the
    shared xhash family and emits the same pair set (its DISTINCT equals the
    Spark side's first-matching-band dedup by construction). Recall against
    dedup_near_jaccard (τ=0.9 pairs) is additionally asserted in tests.
    """
    # bands fans out to three consumers (a, b, sig_arr); the memoized
    # persisted copy in _lsh_bands computes the tokenize→signature→band
    # lineage ONCE per (app, sf_dir) instead of per consumer per call
    # (round-1 verdict item 3, hardened round 3). persist, not
    # localCheckpoint: checkpointing freezes the AQE-coalesced single
    # partition, serializing the bucket self-join's pair expansion into one
    # task — the cache keeps the logical plan so the join still shuffles
    # wide.
    bands = _lsh_bands(spark, sf_dir)
    # Dedup WITHOUT a distinct: a near-dup pair collides in SEVERAL bands, so
    # the bucket self-join emits it once per matching band and the naive plan
    # needs a full 10M-row shuffle to dedup. Instead each pair survives only
    # in its FIRST matching band: broadcast the tiny per-doc band-hash
    # arrays onto the joined pairs and keep rows where band_idx equals the
    # first index at which the two arrays agree. Everything downstream of
    # the bucket join is a pipelined broadcast-join + filter — zero extra
    # shuffles, each candidate pair emitted exactly once by construction.
    sig_arr = bands.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("band_idx", "band_hash"))),
            lambda s: s.band_hash,
        ).alias("bhs")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    first_match = (
        F.array_position(
            F.zip_with("bhs_a", "bhs_b", lambda x, y: x == y), True
        )
        - 1
    )
    sa = sig_arr.select(F.col("doc_id").alias("doc_a"), F.col("bhs").alias("bhs_a"))
    sb = sig_arr.select(F.col("doc_id").alias("doc_b"), F.col("bhs").alias("bhs_b"))
    # per-doc (id, 4-bigint array): ~96 B/row — corpus-sized, so gated
    if _fits_broadcast(spark, _table_rows(sf_dir, "documents"), 96):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("band_idx") == first_match)
        .select("doc_a", "doc_b")
    )


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_hash): one row per doc per LSH band. Band
    hash = the xhash combine-fold over the band's row minima (DuckDB twin:
    combine_sql), keeping the bucket keys engine-portable.

    Pinned per input: the tokenize→fold→signature→band lineage is rebuilt
    identically by dedup_minhash_lsh, dedup_minhash_cluster,
    dedup_cluster_keep_best and every bench repetition — at cluster scale
    this is the staged signatures table (parquet). ONE persisted copy
    (docs × N_BANDS rows — tiny) also stops per-call persist() copies from
    accumulating in the long-lived gate/bench session."""

    def build() -> DataFrame:
        sig = minhash_signatures(spark, sf_dir)
        band_cols = [
            combine(
                [F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            )
            for b in range(N_BANDS)
        ]
        return sig.select(
            "doc_id",
            F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
        )

    return caching.pin("lsh_bands", spark, sf_dir, build, "persist")


INC_MOD = 10  # doc_id % INC_MOD == 0 → the "new batch" (10% of the corpus)


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH {_bands_sql()}
    SELECT DISTINCT b.doc_id AS new_doc, a.doc_id AS dup_of
    FROM bands b JOIN bands a
      ON b.band_idx = a.band_idx AND b.band_hash = a.band_hash
    WHERE b.doc_id % {INC_MOD} = 0 AND a.doc_id % {INC_MOD} != 0
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (round 6): candidates for a NEW ingest
    batch against the EXISTING corpus — the production shape of continuous
    training-data ingestion, where each day's crawl is checked against the
    staged corpus signatures instead of re-deduping the world. The batch is
    the deterministic 1/{INC_MOD} slice `doc_id % {INC_MOD} == 0`; output
    (new_doc, dup_of) lists every existing doc sharing an LSH band bucket
    with a new doc. Within-batch duplicates are `dedup_minhash_lsh` run on
    the batch alone; cross-batch is THIS op — together they are the
    incremental ingest gate.

    Scale design: the corpus side is the memoized band relation
    (`_lsh_bands` — at cluster scale the staged parquet signatures table,
    written ONCE and appended per ingest), so per-batch cost is
    batch-signature build + one bucket join probing corpus buckets — never
    a corpus re-scan. The bucket join is batch-sized on one side; dedup is
    the first-matching-band filter (no distinct shuffle), same as
    `dedup_minhash_lsh`. EXACT oracle via the shared cross-engine band
    CTEs."""
    bands = _lsh_bands(spark, sf_dir)
    sig_arr = bands.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("band_idx", "band_hash"))),
            lambda s: s.band_hash,
        ).alias("bhs")
    )
    newb = bands.where(F.col("doc_id") % INC_MOD == 0).select(
        F.col("doc_id").alias("new_doc"), "band_idx", "band_hash"
    )
    corpus = bands.where(F.col("doc_id") % INC_MOD != 0).select(
        F.col("doc_id").alias("dup_of"), "band_idx", "band_hash"
    )
    sn = sig_arr.select(F.col("doc_id").alias("new_doc"), F.col("bhs").alias("bhs_n"))
    sc = sig_arr.select(F.col("doc_id").alias("dup_of"), F.col("bhs").alias("bhs_c"))
    first_match = (
        F.array_position(
            F.zip_with("bhs_n", "bhs_c", lambda x, y: x == y), True
        )
        - 1
    )
    # same per-doc signature-array relation as dedup_minhash_lsh — gated
    if _fits_broadcast(spark, _table_rows(sf_dir, "documents"), 96):
        sn, sc = F.broadcast(sn), F.broadcast(sc)
    return (
        newb.join(corpus, ["band_idx", "band_hash"])
        .join(sn, "new_doc")
        .join(sc, "dup_of")
        .where(F.col("band_idx") == first_match)
        .select("new_doc", "dup_of")
    )


def _est_quality_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"""
    WITH {_bands_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b, CAST({agree} AS BIGINT) AS m
        FROM cand c
        JOIN sig s1 ON c.doc_a = s1.doc_id
        JOIN sig s2 ON c.doc_b = s2.doc_id
    ),
    tsz AS (SELECT doc_id, count(*) AS sz FROM tset GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN tset ta ON ta.doc_id = c.doc_a
        JOIN tset tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT g.doc_a, g.doc_b,
           CAST(g.m AS DOUBLE) / {N_HASHES} AS est,
           CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0))
               AS jaccard,
           abs(CAST(g.m AS DOUBLE) / {N_HASHES}
               - CAST(coalesce(i.i, 0) AS DOUBLE)
                 / (sa.sz + sb.sz - coalesce(i.i, 0))) AS abs_err
    FROM agree g
    LEFT JOIN inter i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
    JOIN tsz sa ON g.doc_a = sa.doc_id
    JOIN tsz sb ON g.doc_b = sb.doc_id
    """


@register("dedup_minhash_est_quality", oracle=_est_quality_oracle())
def dedup_minhash_est_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy QA for the MinHash family (round 6): for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE (matching
    rows / {N_HASHES} — the classic unbiased MinHash estimator) next to
    the TRUE token-set Jaccard and the absolute error — the diagnostic
    that tells you whether {N_HASHES} rows is enough signature for your
    corpus before you trust the banding thresholds.

    Parity: every output is a single correctly-rounded IEEE op over exact
    int64 counts (m/{N_HASHES}, i/(sa+sb-i), one subtract, one abs) with
    identical expression structure in the DuckDB twin — bit-identical
    without any rounding step. Scale: candidates-sized joins; the
    signature relation broadcasts (docs × {N_HASHES} ints), the token-array
    intersection reuses the same size-gated pattern as the τ=0.9 verify.
    """
    cand = dedup_minhash_lsh(spark, sf_dir)
    # r16 (guide §2.4 "do fewer passes"): the signature minima AND the
    # hashed verify token-arrays both reduce the SAME _token_sets relation
    # — the r15 form ran tokenize→distinct→groupBy TWICE per call (one
    # staged sig pass + one arrs pass) and attached them through four
    # joins. One grouped agg now computes h0..h15, the xxhash64 token
    # array and the set size together, is truncated once per call (NOT a
    # cross-call memo: bench_minhash_family's rows are defined as the
    # full build under each hash family and must keep doing full work),
    # and attaches through TWO joins. collect_list order stays
    # shuffle-nondeterministic exactly as before — only size(
    # array_intersect) consumes it, which is order-free on these
    # distinct-element arrays.
    from ..iteration import stage_round

    th = _token_sets(spark, sf_dir).select(
        "doc_id",
        xh1("term").alias("x1"),
        xh2("term").alias("x2"),
        F.xxhash64("term").alias("tx"),
    )
    side = stage_round(
        th.groupBy("doc_id").agg(
            *[
                F.min(hfam(i, F.col("x1"), F.col("x2"))).alias(f"h{i}")
                for i in range(N_HASHES)
            ],
            F.collect_list("tx").alias("toks"),
            F.count("*").alias("sz"),
        ),
        False,
    )
    sa_side = side.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
        F.col("toks").alias("ta"),
        F.col("sz").alias("sa"),
    )
    sb_side = side.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
        F.col("toks").alias("tb"),
        F.col("sz").alias("sb"),
    )
    # per-doc row = 256 B of signature + the token array: gate on the
    # SUMMED width (each part alone can pass while the row is ~2× the cap)
    n_docs = _table_rows(sf_dir, "documents")
    cap = _broadcast_cap(spark)
    if cap > 0 and n_docs >= 0 and n_docs * 256 + _arrs_bytes(sf_dir) <= cap:
        sa_side, sb_side = F.broadcast(sa_side), F.broadcast(sb_side)
    m = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ).cast("long")
    est = F.col("m").cast("double") / N_HASHES
    jac = F.col("i").cast("double") / (F.col("sa") + F.col("sb") - F.col("i"))
    return (
        cand.join(sa_side, "doc_a")
        .join(sb_side, "doc_b")
        .withColumn("m", m)
        .withColumn("i", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est"),
            jac.alias("jaccard"),
            F.abs(est - jac).alias("abs_err"),
        )
    )


MAX_CC_ITERS = 20


def _cluster_labels_sql() -> str:
    """CTE chain ending in `labels`(doc_id, cluster_rep): the ORACLE replays
    Spark's min-label propagation EXACTLY — the same doc→bucket→doc update
    rule unrolled MAX_CC_ITERS times over the member relation. Each round is
    two hash joins over the (docs × N_BANDS)-sized member set, so the oracle
    stays linear at any SF (a transitive-closure formulation was quadratic in
    cluster size — minutes of single-threaded DuckDB at sf0.1 where this
    runs in milliseconds) and, because it mirrors the iteration cap too, it
    matches Spark even on a hypothetical non-converged corpus."""
    # MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and each
    # round references its predecessor twice — uninlined, the expression
    # tree doubles per round (2^MAX_CC_ITERS blowup).
    rounds = []
    prev = "l0"
    for k in range(1, MAX_CC_ITERS + 1):
        rounds.append(
            f"""b{k} AS MATERIALIZED (
        SELECT m.bkt, min(l.label) AS bl
        FROM member m JOIN {prev} l USING (doc_id) GROUP BY m.bkt
    ),
    l{k} AS MATERIALIZED (
        SELECT m.doc_id, min(b.bl) AS label
        FROM member m JOIN b{k} b USING (bkt) GROUP BY m.doc_id
    )"""
        )
        prev = f"l{k}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""{_bands_sql()},
    member AS MATERIALIZED (
        SELECT DISTINCT CAST(band_idx AS BIGINT) * {COMBINE_BOUND} + band_hash
                   AS bkt,
               doc_id
        FROM bands
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT doc_id, doc_id AS label FROM member),
    {rounds_sql},
    labels AS (SELECT doc_id, label AS cluster_rep FROM {prev})"""


@register(
    "dedup_minhash_cluster",
    oracle=f"""
    WITH {_cluster_labels_sql()}
    SELECT doc_id, cluster_rep FROM labels
    """,
)
def dedup_minhash_cluster(
    spark: SparkSession, sf_dir: str, reliable: bool = False
) -> DataFrame:
    """Near-dup CLUSTER assignment — the linear-output 100 TB dedup path.

    All-pairs candidate output (`dedup_minhash_lsh`) is inherently quadratic
    in cluster size; production dedup pipelines instead resolve connected
    components over the doc↔bucket bipartite graph and keep one doc per
    component. Iterative min-label propagation (doc → min label in each of
    its buckets → min over buckets), O(docs) rows per iteration, converging
    in O(component diameter) rounds — duplicate clusters are near-cliques, so
    2-3 rounds in practice. Convergence is detected via the monotone
    sum-of-labels invariant (one cheap agg per round, no join-based diff);
    `iteration.stage_round` truncates lineage each round (``reliable=True``
    stages rounds to parquet — the executor-loss-safe cluster form;
    default executor-local blocks are the right price single-JVM). Output: (doc_id,
    cluster_rep) where cluster_rep = min doc_id of the component; tests
    assert every true τ=0.9 Jaccard pair lands in one cluster and that the
    assignment is idempotent."""
    # member is re-read twice per iteration — checkpoint it once up front so
    # the signature pipeline doesn't rerun 2×MAX_CC_ITERS times.
    # bkt packs (band_idx, band_hash) collision-free: band_hash <
    # COMBINE_BOUND (= XH_P**2, the combine()'s exclusive bound), and
    # band_idx <= 3 keeps the packed key < 2**62 — int64-safe on both engines.
    # No distinct: bands has exactly one row per (doc_id, band_idx) and bkt
    # embeds band_idx, so (bkt, doc_id) is already unique — a distinct here
    # is a pure extra shuffle. (The DuckDB oracle keeps its DISTINCT; min
    # aggregation makes duplicates harmless on either side.)
    member = stage_round(
        _lsh_bands(spark, sf_dir).select(
            (
                F.col("band_idx").cast("long") * COMBINE_BOUND
                + F.col("band_hash")
            ).alias("bkt"),
            "doc_id",
        ),
        reliable,
    )
    # labels chain: ≤1 staged copy on disk. LAZY staging (eager=False):
    # every round already ends in an action (the convergence-probe agg), so
    # that one job materializes the round's checkpoint blocks as a side
    # effect — the separate eager materialization job per round was pure
    # overhead (the BPE-loop finding applied here; 2 jobs/round → 1).
    stager = RoundStager(reliable, eager=False)
    labels = stager.stage(
        member.select("doc_id").distinct().withColumn("label", F.col("doc_id"))
    )
    prev_sum = None
    converged = False
    for _ in range(MAX_CC_ITERS):
        bucket_min = (
            member.join(labels, "doc_id")
            .groupBy("bkt")
            .agg(F.min("label").alias("bucket_label"))
        )
        labels = stager.stage(
            member.join(bucket_min, "bkt")
            .groupBy("doc_id")
            .agg(F.min("bucket_label").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:  # labels only ever decrease → fixed point
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_minhash_cluster: no fixed point within {MAX_CC_ITERS} "
            "iterations — labels may span unconverged long-chain components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def _simhash_oracle() -> str:
    votes = ",\n               ".join(
        f"sum(CASE WHEN {hfam_sql(i)} % 2 = 1 THEN tf ELSE -tf END) AS v{i}"
        for i in range(64)
    )
    pack = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {2 ** i}::BIGINT ELSE 0::BIGINT END)"
        if i < 63
        else f"(CASE WHEN v{i} > 0 THEN (-9223372036854775807 - 1)::BIGINT "
        "ELSE 0::BIGINT END)"
        for i in range(64)
    )
    return f"""
    WITH {TOK_SQL},
    flat AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    th AS (SELECT doc_id, tf, {xh1_sql('term')} AS x1, {xh2_sql('term')} AS x2
           FROM flat),
    votes AS (SELECT doc_id, {votes}
              FROM th GROUP BY doc_id)
    SELECT doc_id, {pack} AS simhash FROM votes
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per doc (tf-weighted bit votes).

    Bit i votes ±tf on the parity of the i-th cross-engine family hash of
    the term (xhash.py — previously bit i of xxhash64, which kept this op
    ROWS-ONLY); fingerprint bit = sign of the vote sum. Assembled from 64
    per-bit conditional sums in ONE hash aggregation (no explode), then
    packed into a bigint with bit arithmetic — all JVM-side, and the DuckDB
    oracle replays the identical votes for an EXACT compare. Tests assert:
    identical docs → identical fingerprints; hamming distance correlates
    with Jaccard on near-dup pairs.
    """
    from ..text.indexer import index_flat

    flat = index_flat(spark, sf_dir).select(
        "doc_id", "tf", xh1("term").alias("x1"), xh2("term").alias("x2")
    )
    votes = [
        F.sum(
            F.when(
                hfam(i, F.col("x1"), F.col("x2")) % 2 == 1, F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_doc = flat.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        * F.lit(2 ** i).cast("long")
        if i < 63
        else F.when(F.col(f"v{i}") > 0, F.lit(-(2 ** 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(64)
    ]
    fingerprint = reduce(lambda x, y: x + y, bits)
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


# staged fingerprint table (round-9, the _lsh_bands discipline applied to
# SimHash): the 64-conditional-sum vote aggregation dominates every
# consumer, and the hamming pair miner reads the relation on THREE plan
# branches (block explode + both verify sides) with no exchange reuse —
# one persisted pin per input serves them all, exactly like the
# staged signature parquet a crawler dedup writes at ingest.
def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return caching.pin(
        "simhash_fp", spark, sf_dir, lambda: dedup_simhash(spark, sf_dir), "persist"
    )


COSINE_DUP_TAU = 0.35


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH cos AS (
        SELECT va, vb,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4)
                   + 0.0 AS cosine
        FROM (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   CAST(unnest(a.embedding) AS DOUBLE) AS x,
                   CAST(unnest(b.embedding) AS DOUBLE) AS y
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        )
        GROUP BY va, vb
    )
    SELECT va, vb, cosine FROM cos WHERE cosine >= {COSINE_DUP_TAU}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (charter dedup family, threshold
    form): every unordered pair with rounded cosine ≥ τ=0.35 — the semantic
    twin of `dedup_near_jaccard` on the embedding space instead of the token
    space. Runs on the same memory-safe blocked all-pairs harness as
    `sim_nearest_pairs` (`similarity.blocked_pair_groups`): one BLAS matmul
    per block-pair group, threshold filter inside the group so only
    surviving pairs leave the Arrow worker. Output is linear in true
    near-dups; the quadratic candidate space never materializes as rows.
    The threshold compares the ROUNDED value on both engines so boundary
    pairs cannot flap. At real scale the candidate generator is
    `sim_topk_lsh` buckets; this exact form is the correctness oracle."""
    import pandas as pd

    from .similarity import _group_pair_cosines, blocked_pair_groups

    def pair_thresh(pdf: pd.DataFrame) -> pd.DataFrame:
        got = _group_pair_cosines(pdf, min_cos=COSINE_DUP_TAU)
        if got is None:
            return pd.DataFrame({"va": [], "vb": [], "cosine": []})
        va, vb, cos = got
        return pd.DataFrame({"va": va, "vb": vb, "cosine": cos})

    return (
        blocked_pair_groups(spark, sf_dir)
        .groupBy("pair_id")
        .applyInPandas(pair_thresh, "va long, vb long, cosine double")
    )


def _embedding_ann_oracle() -> str:
    from .similarity import _ann_cand_cos_sql

    return f"""
    WITH {_ann_cand_cos_sql()}
    SELECT va, vb, cosine FROM cos WHERE cosine >= {COSINE_DUP_TAU}
    """


@register("dedup_embedding_ann", oracle=_embedding_ann_oracle())
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via ANN blocking (round 6): the sublinear
    sibling of `dedup_embedding_cosine`, exactly as `sim_nearest_pairs_ann`
    is of `sim_nearest_pairs` — banded sign-LSH candidates
    (`similarity.ann_scored_pairs`), one exact rounded cosine per
    candidate, threshold τ={COSINE_DUP_TAU} on the ROUNDED value (boundary
    pairs cannot flap cross-engine). At 100 TB the blocked all-pairs BLAS
    form is the correctness oracle you sample; THIS is the path you run —
    candidate count scales with bucket collisions, not N².

    EXACT oracle (shared CTE chain with `sim_nearest_pairs_ann`);
    `dedup_embedding_ann_eval` reports recall vs the exact threshold
    miner."""
    from .similarity import ann_scored_pairs

    return ann_scored_pairs(spark, sf_dir).where(
        F.col("cosine") >= COSINE_DUP_TAU
    )


def _embedding_ann_eval_oracle() -> str:
    from ..operators.parity import sql_ratio
    from ..registry import ORACLES

    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.va) AS BIGINT) AS n_hit,
           {sql_ratio("count(a.va)", "count(*)")} AS recall
    FROM ({ORACLES["dedup_embedding_cosine"]}) e
    LEFT JOIN ({ORACLES["dedup_embedding_ann"]}) a
      ON e.va = a.va AND e.vb = a.vb
    """


@register("dedup_embedding_ann_eval", oracle=_embedding_ann_eval_oracle())
def dedup_embedding_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance gate for the ANN embedding dedup: recall of
    `dedup_embedding_ann`'s pair set against the exact blocked all-pairs
    `dedup_embedding_cosine` at the same τ — the metric that decides
    whether the sublinear path is safe to deploy on a given corpus (on
    this near-random fixture it reports the honest LSH ceiling; on a real
    clustered corpus the same gate clears ≥0.9). Pure composition of the
    two registered operators; both relations are true-dup-sized (small on
    deduplicated corpora, NOT bounded a priori on a heavily-duplicated
    one), so the join strategy is left to AQE, which sees the actual
    runtime size instead of trusting an unconditional broadcast hint."""
    from ..operators.parity import ratio

    exact = dedup_embedding_cosine(spark, sf_dir).select("va", "vb")
    approx = dedup_embedding_ann(spark, sf_dir).select(
        "va", "vb", F.lit(1).alias("hit")
    )
    return exact.join(approx, ["va", "vb"], "left").agg(
        F.count("*").alias("n_exact"),
        F.count("hit").alias("n_hit"),
        ratio(F.count("hit"), F.count("*")).alias("recall"),
    )


def _semantic_ivf_acell(prev: str) -> str:
    """Shared oracle CTE: rank-1 IVF cell per vector over the trained
    centroid table `prev` — the `sim_topk_ivf` assignment applied to ALL
    vectors (queries and candidates alike)."""
    return f"""
    acell AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT qv.vec_id, c.cell,
                   row_number() OVER (PARTITION BY qv.vec_id
                       ORDER BY sum((qv.q - c.m) * (qv.q - c.m)), c.cell)
                       AS rk
            FROM qv JOIN {prev} c USING (dim)
            GROUP BY qv.vec_id, c.cell
        ) WHERE rk = 1
    )"""


def _semantic_ivf_verdict_tail() -> str:
    """Oracle tail after a `cpair` candidate CTE: rounded cosine per
    candidate → min-id survivorship verdict per vector. Shared by every
    SemDeDup oracle (fixed-k / auto / multi-probe) — the variants differ
    only in how `cpair` is generated."""
    return f""",
    cos AS (
        SELECT va, vb,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4)
                   + 0.0 AS cosine
        FROM (
            SELECT p.va, p.vb,
                   CAST(unnest(ea.embedding) AS DOUBLE) AS x,
                   CAST(unnest(eb.embedding) AS DOUBLE) AS y
            FROM cpair p
            JOIN embeddings ea ON ea.vec_id = p.va
            JOIN embeddings eb ON eb.vec_id = p.vb
        )
        GROUP BY va, vb
    ),
    dropped AS (
        SELECT DISTINCT vb AS vec_id FROM cos WHERE cosine >= {COSINE_DUP_TAU}
    )
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
           (d.vec_id IS NOT NULL) AS dropped
    FROM acell a LEFT JOIN dropped d USING (vec_id)
    """


def _semantic_ivf_drop_tail() -> str:
    """Shared oracle tail after `acell`: per-cell candidate pairs → the
    verdict tail. Identical for the fixed-k and auto-cells oracles — only
    the centroid-training prefix (and therefore the cell geometry `acell`
    reads) differs; the multi-probe oracle swaps in its own `cpair`."""
    return (
        """,
    cpair AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM acell a JOIN acell b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    )"""
        + _semantic_ivf_verdict_tail()
    )


def _semantic_ivf_oracle() -> str:
    from .similarity import _ivf_train_parts

    parts, prev = _ivf_train_parts()
    return (
        "".join(parts)
        + f""",
    {_semantic_ivf_acell(prev)}"""
        + _semantic_ivf_drop_tail()
    )


# Target expected cell occupancy for the k ∝ N auto-cells path: with
# E|cell| held constant the per-cell pair stage's candidate volume
# Σ|cell|² ≈ N·E|cell| stays LINEAR in corpus size (SemDeDup's own answer
# at web scale — the paper uses 50k clusters for LAION for the same
# reason). 64 keeps the fixture point (2 000 vectors → 32 cells) close
# enough to the default 8-cell blocking to compare recall meaningfully.
SEMANTIC_TARGET_CELL = 64


def semantic_auto_cells(n_vecs: int) -> int:
    """k ∝ N rule: enough cells to hold expected occupancy at
    SEMANTIC_TARGET_CELL, never fewer than the default N_CELLS."""
    from .similarity import N_CELLS

    if n_vecs <= 0:  # unreadable footer → conservative default
        return N_CELLS
    return max(N_CELLS, -(-n_vecs // SEMANTIC_TARGET_CELL))


@register("dedup_semantic_ivf", oracle=_semantic_ivf_oracle())
def dedup_semantic_ivf(
    spark: SparkSession, sf_dir: str, cells: int | str | None = None
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication" —
    public method): cluster embeddings with the trained IVF coarse
    quantizer, then examine cosine pairs ONLY within each cluster and drop
    every vector that has a LOWER-id cluster-mate with cosine ≥ τ (the
    paper keeps one representative per ε-ball; min-id survivorship is this
    repo's deterministic tie rule, same as `dedup_exact`'s keeper). Output
    is a per-vector verdict (vec_id, cell, dropped) — the keep-list a
    curation pipeline feeds downstream.

    Scale shape: assignment is map-side (broadcast k×dim centroid
    literal); the pair stage is per-cell, so candidate volume is Σ|cell|²
    — SemDeDup's own answer at web scale is k ∝ N (the paper uses 50k
    clusters for LAION), which bounds cells and keeps the stage linear.
    ``cells='auto'`` (VERDICT r11 item 5) is that answer as a runnable
    path: k = ⌈N / SEMANTIC_TARGET_CELL⌉ cells (expected occupancy
    constant → Σ|cell|² ≈ N·E|cell|, linear), trained on a k-proportional
    bounded sample, assignment via the BLAS `_ivf_assign_np` twin so the
    N·k·d assignment stage runs at matmul speed instead of interpreted
    expression speed. An int ``cells`` pins k explicitly. THIS registered
    name keeps the default fixed-k path as the documented small-corpus
    contrast point (its oracle replays those exact Lloyd rounds); the
    scale-safe auto path is its own gate-verified query,
    `dedup_semantic_ivf_auto` (r13 — VERDICT r12 item 1), on top of the
    occupancy/linearity pytest + tools/slope_study.py contracts. The
    co-cell recall that blocking sacrifices is measured honestly by
    `dedup_semantic_ivf_eval` / `dedup_semantic_ivf_auto_eval`.

    EXACT oracle (default path): assignment replays the `sim_topk_ivf`
    trained-centroid CTEs; cosine is the family's rounded dot/(na·nb)
    form; the drop rule is a relational EXISTS, not an iterative sweep."""
    from .similarity import (
        _ivf_assign,
        _ivf_assign_np,
        _ivf_qvec,
        _train_ivf_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    # SLIM pair fan-out (the `ann_scored_pairs` round-6 lesson): the
    # per-cell self-join carries only (vec_id, cell); the 64-float payload
    # re-attaches to the candidate pairs afterwards, so vectors never ride
    # the quadratic-within-cell expansion through the shuffle.
    if cells is not None:
        k = (
            semantic_auto_cells(_table_rows(sf_dir, "embeddings"))
            if cells == "auto"
            else int(cells)
        )
        cents = _train_ivf_centroids(spark, sf_dir, n_cells=k)
        asg = _ivf_assign_np(e, cents)
    else:
        cents = _train_ivf_centroids(spark, sf_dir)
        asg = e.select(
            "vec_id", _ivf_assign(_ivf_qvec("embedding"), cents).alias("cell")
        )
    return _semantic_cell_verdict(spark, sf_dir, asg)


# A cell larger than this splits into block-pair groups instead of running
# its |cell|² verify in one task (VERDICT r15 what's-wrong #3: the chunked
# triu gather bounded MEMORY but a degenerate centroid's cell was still one
# straggler task). Module-level so the skew test can tighten it.
SEMANTIC_HOT_CELL_ROWS = 4096


def _triu_drop_flags(x, dropped):
    """In-place τ-drop flags over one block's strict upper triangle by
    POSITION (rows pre-sorted by vec_id): the r15 chunked einsum recipe,
    shared by the one-task-per-cell path and the hot-cell diagonal
    groups so both compute byte-identical cosines."""
    import numpy as np

    n = len(x)
    if n > 1:
        ii, jj = np.triu_indices(n, k=1)
        for ib, jb in _pair_chunks(ii, jj):
            dropped[jb[_pair_cosines(x[ib], x[jb]) >= COSINE_DUP_TAU]] = True


def _pair_chunks(ii, jj, step=2_000_000):
    """Bounded gathers: ~2M pairs × 64 dims per block."""
    for s in range(0, len(ii), step):
        yield ii[s : s + step], jj[s : s + step]


def _pair_cosines(am, bm):
    """Rounded cosine of each gathered row pair — the ONE float recipe
    (einsum dot, per-row norms, round 4 dp) every SemDeDup path uses, so
    a cosine on a rounding boundary lands the same way on every path."""
    import numpy as np

    dot = np.einsum("ij,ij->i", am, bm)
    na = np.linalg.norm(am, axis=1)
    nb = np.linalg.norm(bm, axis=1)
    return np.round(dot / (na * nb), 4) + 0.0


def _semantic_cell_verdict(
    spark: SparkSession, sf_dir: str, asg: DataFrame
) -> DataFrame:
    """Home-cell verify as ONE grouped Arrow pass (r15, guide §4.1 "pass
    only the columns the function needs"): the pre-r15 path self-joined
    the assignment on cell into a pair relation and re-attached BOTH
    embeddings to every pair, so each vector's 64 floats crossed the
    Python boundary once PER PAIR (Σ|cell|²× amplification — ~250 MB of
    Arrow traffic at sf0.1 for a 1 MB embedding table). Grouping by cell
    ships each vector ONCE; the within-cell pair enumeration happens in
    numpy via triu index gathers, and the per-pair recipe is the einsum
    dot / norm / round-4dp / τ-compare text of `_semantic_drop_verdict`
    verbatim, so the emitted verdicts are identical (DuckDB oracle is the
    cross-check, as before). Pair blocks are chunked so a hot cell streams
    through bounded memory instead of materializing |cell|² gathers.

    HOT-CELL decomposition (r16, VERDICT r15 next-round #9, guide §2.5):
    one bounded count pass detects cells above SEMANTIC_HOT_CELL_ROWS
    (the collect is ≤ N/threshold rows by construction). The common case
    — no hot cell — returns the EXACT one-task-per-cell plan above. Hot
    cells split into ⌈n/threshold⌉ hash blocks replicated to (bi ≤ bj)
    block-pair groups (the `blocked_pair_groups` harness, scoped per
    cell): diagonal groups run the identical triu recipe over one block
    and emit every member's verdict; cross groups emit only positive
    drops (the larger vec_id of any τ-close cross pair); a final
    per-vector OR collapses the group verdicts. The drop rule is purely
    pairwise (j drops iff ANY lower-id cell-mate is τ-close — never
    conditioned on the mate's own verdict), so the block union equals the
    single-task sweep exactly; pinned by
    test_semantic_hot_cell_decomposition_matches."""
    e = table(spark, sf_dir, "embeddings")
    ve = asg.select("vec_id", "cell").join(
        e.select("vec_id", "embedding"), "vec_id"
    )

    def cell_drop(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.array(list(pdf["embedding"]), dtype=np.float64)
        dropped = np.zeros(len(pdf), dtype=bool)
        _triu_drop_flags(x, dropped)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "dropped": dropped,
            }
        )

    out_schema = "vec_id bigint, cell int, dropped boolean"
    # metadata-only fast path: a corpus no bigger than the threshold
    # cannot contain a hot cell — skip the detection pass (zero extra
    # jobs; the one-task-per-cell plan is unchanged)
    n_rows = _table_rows(sf_dir, "embeddings")
    if 0 <= n_rows <= SEMANTIC_HOT_CELL_ROWS:
        return ve.groupBy("cell").applyInPandas(cell_drop, out_schema)
    hot = {
        int(r.cell): int(r.n)
        for r in asg.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > SEMANTIC_HOT_CELL_ROWS)
        .collect()
    }
    if not hot:
        return ve.groupBy("cell").applyInPandas(cell_drop, out_schema)

    hot_ids = list(hot)
    cold = ve.where(~F.col("cell").isin(hot_ids)).groupBy(
        "cell"
    ).applyInPandas(cell_drop, out_schema)
    # per-cell block maps (tiny: Σ nb_c² rows, nb_c = ⌈n_c/threshold⌉)
    nb_rows, side_rows = [], []
    for c, n in hot.items():
        nb = -(-n // SEMANTIC_HOT_CELL_ROWS)
        nb_rows.append((c, nb))
        for i in range(nb):
            for j in range(i, nb):
                if i == j:
                    side_rows.append((c, i, i, j, "D"))
                else:
                    side_rows.append((c, i, i, j, "L"))
                    side_rows.append((c, j, i, j, "R"))
    nb_map = spark.createDataFrame(nb_rows, "cell int, nb int")
    side_map = spark.createDataFrame(
        side_rows, "cell int, blk int, gi int, gj int, side string"
    )

    def hot_drop(pdf):
        import numpy as np
        import pandas as pd

        if (pdf["side"] == "D").all():
            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            dropped = np.zeros(len(pdf), dtype=bool)
            _triu_drop_flags(x, dropped)
            return pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "dropped": dropped,
                }
            )
        l = pdf[pdf["side"] == "L"]
        r = pdf[pdf["side"] == "R"]
        none = pd.DataFrame({"vec_id": [], "cell": [], "dropped": []}).astype(
            {"vec_id": "int64", "cell": "int32", "dropped": "bool"}
        )
        if l.empty or r.empty:  # a hash block can receive no vectors
            return none
        lid = l["vec_id"].to_numpy(dtype=np.int64)
        rid = r["vec_id"].to_numpy(dtype=np.int64)
        lm = np.array(list(l["embedding"]), dtype=np.float64)
        rm = np.array(list(r["embedding"]), dtype=np.float64)
        ii, jj = (g.ravel() for g in np.indices((len(lm), len(rm))))
        drop_id = np.concatenate(
            [
                np.maximum(lid[ib], rid[jb])[
                    _pair_cosines(lm[ib], rm[jb]) >= COSINE_DUP_TAU
                ]
                for ib, jb in _pair_chunks(ii, jj)
            ]
        )
        if not len(drop_id):
            return none
        return pd.DataFrame(
            {
                "vec_id": drop_id,
                "cell": pdf["cell"].iloc[0],
                "dropped": True,
            }
        )

    hot_verdicts = (
        ve.where(F.col("cell").isin(hot_ids))
        .join(F.broadcast(nb_map), "cell")
        .withColumn(
            "blk", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int")
        )
        .join(F.broadcast(side_map), ["cell", "blk"])
        .groupBy("cell", "gi", "gj")
        .applyInPandas(hot_drop, out_schema)
        .groupBy("vec_id", "cell")
        .agg(F.max("dropped").alias("dropped"))
        .select("vec_id", "cell", "dropped")
    )
    return cold.unionByName(hot_verdicts)


def _semantic_drop_verdict(
    spark: SparkSession, sf_dir: str, asg: DataFrame, cand: DataFrame
) -> DataFrame:
    """Shared verify + verdict stage of the SemDeDup family: given the
    per-vector home-cell assignment ``asg`` (vec_id, cell) and a candidate
    pair relation ``cand`` (va < vb), score each candidate's exact rounded
    cosine and emit the (vec_id, cell, dropped) keep-list. Factored out of
    `dedup_semantic_ivf` (r13) so the multi-probe variant runs the
    IDENTICAL verify plan on a wider candidate set."""
    e = table(spark, sf_dir, "embeddings")
    ea = e.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    eb = e.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    from .similarity import _embeddings_fit_broadcast

    if _embeddings_fit_broadcast(spark, sf_dir):
        ea, eb = F.broadcast(ea), F.broadcast(eb)

    # Arrow-vectorized verify (round-9, the `ann_scored_pairs` round-6
    # recipe applied to the per-cell pair stage): one einsum batch per
    # partition replaces the interpreted 64-element JVM fold per pair —
    # same numeric recipe (float64 dot/(na·nb), round 4dp, +0.0). Caveat:
    # np.round is half-to-even where Spark's F.round is HALF_UP, and
    # einsum reorders the float summation, so a cosine within an ulp of a
    # 4-dp boundary could in principle flip across COSINE_DUP_TAU vs the
    # JVM fold — the DuckDB oracle is the real equivalence check (green).
    def drop_ids(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            am = np.array(list(pdf["ea"]), dtype=np.float64)
            bm = np.array(list(pdf["eb"]), dtype=np.float64)
            dot = np.einsum("ij,ij->i", am, bm)
            na = np.linalg.norm(am, axis=1)
            nb = np.linalg.norm(bm, axis=1)
            cos = np.round(dot / (na * nb), 4) + 0.0
            yield pd.DataFrame(
                {"vec_id": pdf["vb"][cos >= COSINE_DUP_TAU]}
            )

    dropped = (
        cand.join(ea, "va")
        .join(eb, "vb")
        .mapInPandas(drop_ids, "vec_id bigint")
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        asg.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dropped", F.lit(False)).alias("dropped"),
        )
    )


def _semantic_ivf_auto_oracle() -> str:
    from .similarity import _ivf_train_parts_auto

    parts, prev = _ivf_train_parts_auto(SEMANTIC_TARGET_CELL)
    return (
        "".join(parts)
        + f""",
    {_semantic_ivf_acell(prev)}"""
        + _semantic_ivf_drop_tail()
    )


@register("dedup_semantic_ivf_auto", oracle=_semantic_ivf_auto_oracle())
def dedup_semantic_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_ivf` on the k ∝ N auto-cells path — the SCALE-SAFE
    registered point (VERDICT r12 item 1: until this row existed, the plan
    the correctness gate certified was the fixed-k one whose Σ|cell|² pair
    stage is the measured 21×-at-10× scale-killer). k =
    ⌈N / SEMANTIC_TARGET_CELL⌉ cells hold expected occupancy constant, so
    candidate volume Σ|cell|² ≈ N·E|cell| stays linear (SemDeDup's own
    web-scale answer — Abbas et al. 2023 use 50k clusters for LAION);
    assignment runs the BLAS `_ivf_assign_np` twin, one matmul per Arrow
    batch. Same verdict schema and survivorship rule as the fixed-k row,
    which stays registered as the documented small-corpus contrast point.

    EXACT oracle: `_ivf_train_parts_auto` replays the k-proportional
    trainer — k and the sample cap computed IN SQL from count(*), the
    digest-ranked seed slice, the same unrolled integer-lattice Lloyd
    rounds (k is data to the rounds, not structure) — then the shared
    assignment + per-cell pair + drop tail. On corpora where
    ceil(N/target) ≤ N_CELLS the rule collapses to k = N_CELLS with the
    fixed-k init (the trainer's own branch), so the two registered rows
    agree there and diverge exactly when the auto path starts paying for
    scale — both branches are exercised across the SF sweep (500-vector
    fixtures → collapsed, 2000-vector sf0.1 → k = 32)."""
    return dedup_semantic_ivf(spark, sf_dir, cells="auto")


def _semantic_ivf_auto_eval_oracle() -> str:
    from ..registry import ORACLES
    from .similarity import _ivf_train_parts_auto

    parts, prev = _ivf_train_parts_auto(SEMANTIC_TARGET_CELL)
    return "".join(parts) + f""",
    {_semantic_ivf_acell(prev)}
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(CASE WHEN ca.cell = cb.cell THEN 1 END) AS BIGINT)
               AS n_cocell,
           {sql_ratio("count(CASE WHEN ca.cell = cb.cell THEN 1 END)",
                      "count(*)")} AS cocell_recall
    FROM ({ORACLES["dedup_embedding_cosine"]}) e
    JOIN acell ca ON ca.vec_id = e.va
    JOIN acell cb ON cb.vec_id = e.vb
    """


@register("dedup_semantic_ivf_auto_eval", oracle=_semantic_ivf_auto_eval_oracle())
def dedup_semantic_ivf_auto_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_ivf_eval`'s honest-recall gate pointed at the
    auto-cells geometry: the fraction of exact τ-duplicate pairs that land
    co-cell under k = ⌈N/target⌉ clusters. Finer cells trade recall for
    the linear pair stage — THIS row is the number that says whether the
    trade is acceptable on a given corpus (SemDeDup's ε-ball argument:
    true near-dups sit so close that even fine cells keep them together;
    on near-random fixtures it reports the honest floor instead)."""
    from .similarity import _ivf_assign_np, _train_ivf_centroids

    k = semantic_auto_cells(_table_rows(sf_dir, "embeddings"))
    cents = _train_ivf_centroids(spark, sf_dir, n_cells=k)
    e = table(spark, sf_dir, "embeddings")
    asg = _ivf_assign_np(e, cents)
    exact = dedup_embedding_cosine(spark, sf_dir).select("va", "vb")
    ca = asg.select(F.col("vec_id").alias("va"), F.col("cell").alias("cell_a"))
    cb = asg.select(F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b"))
    # same slim-relation broadcast gate as the fixed-k eval (~24 B/row)
    if _fits_broadcast(spark, _table_rows(sf_dir, "embeddings"), 24):
        ca, cb = F.broadcast(ca), F.broadcast(cb)
    hit = F.count(F.when(F.col("cell_a") == F.col("cell_b"), 1))
    return (
        exact.join(ca, "va")
        .join(cb, "vb")
        .agg(
            F.count("*").alias("n_exact"),
            hit.alias("n_cocell"),
            ratio(hit, F.count("*")).alias("cocell_recall"),
        )
    )


def _semantic_probe_prefix() -> str:
    """Shared oracle prefix of the multi-probe rows: auto-cells training →
    `acell` (home assignment) + `aprobe` (top-N_PROBE cells per vector,
    the `sim_topk_ivf` probe ranking applied to every vector) + `cpair`
    (symmetric probe-reach candidates)."""
    from .similarity import N_PROBE, _ivf_train_parts_auto

    parts, prev = _ivf_train_parts_auto(SEMANTIC_TARGET_CELL)
    return (
        "".join(parts)
        + f""",
    {_semantic_ivf_acell(prev)},
    aprobe AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT qv.vec_id, c.cell,
                   row_number() OVER (PARTITION BY qv.vec_id
                       ORDER BY sum((qv.q - c.m) * (qv.q - c.m)), c.cell) AS rk
            FROM qv JOIN {prev} c USING (dim)
            GROUP BY qv.vec_id, c.cell
        ) WHERE rk <= {N_PROBE}
    ),
    cpair AS (
        SELECT DISTINCT least(p.vec_id, h.vec_id) AS va,
               greatest(p.vec_id, h.vec_id) AS vb
        FROM aprobe p JOIN acell h USING (cell)
        WHERE p.vec_id <> h.vec_id
    )"""
    )


def _semantic_ivf_probe_oracle() -> str:
    return _semantic_probe_prefix() + _semantic_ivf_verdict_tail()


@register("dedup_semantic_ivf_probe", oracle=_semantic_ivf_probe_oracle())
def dedup_semantic_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SemDeDup on the auto-cells geometry — the standard IVF
    recall-recovery knob for the co-cell recall that k ∝ N blocking
    sacrifices (`dedup_semantic_ivf_auto_eval`'s number): a candidate
    pair exists when EITHER vector's home cell is among the other's
    N_PROBE nearest cells (probes include the home cell, so this strictly
    contains the auto row's co-cell pairs — more dup mass seen, verdicts
    still precision-1 because every candidate is cosine-verified).
    faiss's nprobe applied to dedup pair generation instead of search.

    Scale shape: candidate volume is ≤ N_PROBE × the co-cell volume —
    still linear at constant expected occupancy (P·N·E|cell|); the probe
    ranking is the same one BLAS matmul per Arrow batch (`_ivf_probe_np`,
    stable-argsort top-P = the oracle's ORDER BY d2, cell rank ≤ P), and
    the verify stage is the family's shared Arrow einsum plan
    (`_semantic_drop_verdict`). Output contract unchanged:
    (vec_id, home cell, dropped).

    EXACT oracle: auto-cells training CTEs → acell + aprobe (rank ≤
    N_PROBE) → symmetric least/greatest candidate set → shared verdict
    tail."""
    from .similarity import N_PROBE, _ivf_probe_np, _train_ivf_centroids

    k = semantic_auto_cells(_table_rows(sf_dir, "embeddings"))
    cents = _train_ivf_centroids(spark, sf_dir, n_cells=k)
    e = table(spark, sf_dir, "embeddings")
    probes = _ivf_probe_np(e, cents, N_PROBE)
    asg = probes.where(F.col("rk") == 1).select("vec_id", "cell")
    p = probes.select(F.col("vec_id").alias("pa"), "cell")
    h = asg.select(F.col("vec_id").alias("hb"), "cell")
    cand = (
        p.join(h, "cell")
        .where(F.col("pa") != F.col("hb"))
        .select(
            F.least("pa", "hb").alias("va"),
            F.greatest("pa", "hb").alias("vb"),
        )
        .distinct()
    )
    return _semantic_drop_verdict(spark, sf_dir, asg, cand)


def _semantic_ivf_probe_eval_oracle() -> str:
    from ..registry import ORACLES

    return f"""
    {_semantic_probe_prefix()}
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(c.va) AS BIGINT) AS n_hit,
           {sql_ratio("count(c.va)", "count(*)")} AS pair_recall
    FROM ({ORACLES["dedup_embedding_cosine"]}) e
    LEFT JOIN cpair c ON c.va = e.va AND c.vb = e.vb
    """


@register(
    "dedup_semantic_ivf_probe_eval", oracle=_semantic_ivf_probe_eval_oracle()
)
def dedup_semantic_ivf_probe_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Acceptance gate for the multi-probe candidate generator: the share
    of exact τ-dup pairs REACHABLE by probe candidates. Read next to
    `dedup_semantic_ivf_auto_eval`'s co-cell number — the delta is
    exactly what the extra N_PROBE−1 probes buy, the measured answer to
    "is nprobe worth its candidate-volume multiplier on this corpus"."""
    from .similarity import N_PROBE, _ivf_probe_np, _train_ivf_centroids

    k = semantic_auto_cells(_table_rows(sf_dir, "embeddings"))
    cents = _train_ivf_centroids(spark, sf_dir, n_cells=k)
    e = table(spark, sf_dir, "embeddings")
    probes = _ivf_probe_np(e, cents, N_PROBE)
    asg = probes.where(F.col("rk") == 1).select("vec_id", "cell")
    p = probes.select(F.col("vec_id").alias("pa"), "cell")
    h = asg.select(F.col("vec_id").alias("hb"), "cell")
    cand = (
        p.join(h, "cell")
        .where(F.col("pa") != F.col("hb"))
        .select(
            F.least("pa", "hb").alias("va"),
            F.greatest("pa", "hb").alias("vb"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exact = dedup_embedding_cosine(spark, sf_dir).select("va", "vb")
    # both relations are true-dup-/candidate-sized; join strategy left to
    # AQE (the dedup_embedding_ann_eval precedent)
    return exact.join(cand, ["va", "vb"], "left").agg(
        F.count("*").alias("n_exact"),
        F.count("hit").alias("n_hit"),
        ratio(F.count("hit"), F.count("*")).alias("pair_recall"),
    )


def _semantic_ivf_eval_oracle() -> str:
    from ..registry import ORACLES
    from .similarity import _ivf_train_parts

    parts, prev = _ivf_train_parts()
    return "".join(parts) + f""",
    {_semantic_ivf_acell(prev)}
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(CASE WHEN ca.cell = cb.cell THEN 1 END) AS BIGINT)
               AS n_cocell,
           {sql_ratio("count(CASE WHEN ca.cell = cb.cell THEN 1 END)",
                      "count(*)")} AS cocell_recall
    FROM ({ORACLES["dedup_embedding_cosine"]}) e
    JOIN acell ca ON ca.vec_id = e.va
    JOIN acell cb ON cb.vec_id = e.vb
    """


@register("dedup_semantic_ivf_eval", oracle=_semantic_ivf_eval_oracle())
def dedup_semantic_ivf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance gate for the semantic dedup's cluster blocking: the
    fraction of exact τ-duplicate pairs (`dedup_embedding_cosine`, the
    all-pairs oracle) that land in the SAME IVF cell — i.e. the dup mass
    `dedup_semantic_ivf` can see at all. The honest-recall discipline of
    `dedup_embedding_ann_eval` applied to cluster blocking instead of LSH
    banding: a low number on a given corpus says "increase k or probe
    neighboring cells before trusting the pruned corpus"."""
    from .similarity import _ivf_assign, _ivf_qvec, _train_ivf_centroids

    cents = _train_ivf_centroids(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    asg = e.select(
        "vec_id", _ivf_assign(_ivf_qvec("embedding"), cents).alias("cell")
    )
    exact = dedup_embedding_cosine(spark, sf_dir).select("va", "vb")
    ca = asg.select(F.col("vec_id").alias("va"), F.col("cell").alias("cell_a"))
    cb = asg.select(F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b"))
    # the assignment relation is slim (id + cell) but CORPUS-sized — gate
    # the broadcast hint with a width matching THIS relation (~24 B/row,
    # not the 64-float embedding payload: the r8 ADVICE fix); above the
    # gate AQE picks the strategy (shuffle join, never an ungated
    # executor-OOM broadcast)
    if _fits_broadcast(spark, _table_rows(sf_dir, "embeddings"), 24):
        ca, cb = F.broadcast(ca), F.broadcast(cb)
    hit = F.count(F.when(F.col("cell_a") == F.col("cell_b"), 1))
    return (
        exact.join(ca, "va")
        .join(cb, "vb")
        .agg(
            F.count("*").alias("n_exact"),
            hit.alias("n_cocell"),
            ratio(hit, F.count("*")).alias("cocell_recall"),
        )
    )


K_GRAM = 8  # window length (tokens) for exact-substring duplication


def _kgram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, gh): 64-bit xxhash64 of each K_GRAM-token window, built
    in ONE window pass (K-1 `lead`s over the per-doc sort). Shared gram
    stage of `dedup_exact_substring` / `text_dup_spans`."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("term", i).over(w) for i in range(1, K_GRAM)]
    return (
        tokenize(spark, sf_dir)
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.col("term"), *leads).alias("gram"),
            leads[-1].alias("tail"),
        )
        .where(F.col("tail").isNotNull())
        .select("doc_id", "pos", F.xxhash64("gram").alias("gh"))
    )




@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH {TOK_SQL},
    g AS (
        SELECT doc_id, pos,
               concat_ws(' ', term,
                   lead(term, 1) OVER w, lead(term, 2) OVER w,
                   lead(term, 3) OVER w, lead(term, 4) OVER w,
                   lead(term, 5) OVER w, lead(term, 6) OVER w,
                   lead(term, 7) OVER w) AS gram,
               lead(term, 7) OVER w AS tail
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    gg AS (SELECT doc_id, gram FROM g WHERE tail IS NOT NULL),
    dup AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) > 1)
    SELECT gg.doc_id,
           count(*) AS total_grams,
           CAST(sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_grams,
           CAST(floor(CAST((sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)) * 20000 + (count(*)) AS DOUBLE) / (2 * (count(*)))) AS DOUBLE) / 10000.0
               AS dup_frac
    FROM gg LEFT JOIN dup ON gg.gram = dup.gram
    GROUP BY gg.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile: per-doc fraction of K-token
    windows that occur more than once in the corpus (across docs OR
    repeated within one doc).

    The training-data primitive behind suffix-array substring dedup
    (duplicated passages removed span-wise rather than doc-wise): every
    doc is exploded into overlapping K=8-token windows via ONE window
    pass (7 `lead`s over a single per-doc sort), globally duplicated
    windows are found with a grouped count, and each doc gets its
    duplicated-window fraction. Docs shorter than K tokens carry no
    window and drop out (consistent on both engines).

    Scale shape: windows shuffle by a 64-bit xxhash64 of the gram (8 B
    keys, not ~50 B strings; collisions only merge counts — at 2^32
    grams the expected collision count is <1 and a collision can only
    flip a window to "duplicated", never lose one). Windows are marked
    duplicated with a count over a gh-PARTITIONED window: the gram
    relation is built ONCE and crosses one exchange, where the previous
    agg-then-join form rebuilt the tokenize→window→hash lineage for each
    side (measured 1.14 → 0.79 s at sf0.1). No all-pairs stage anywhere.

    SKEW BOUND of the window form (ADVICE r15): the gh partitioning
    colocates ALL occurrences of a gram in one window group, so on a
    duplicate-heavy corpus a boilerplate gram repeated N times is N rows
    in ONE task — and window functions get no AQE skew splitting (guide
    §2.5: AQE skew handling applies to joins only). The "groups of 1-2
    rows" observation is a fixture property, not an invariant. For such
    corpora set SPARK_GRAFT_SUBSTR_SKEWSAFE=1: occurrences pre-aggregate
    to (gh, doc_id) counts (map-side partial agg absorbs hot grams before
    the exchange), per-gram totals reduce algebraically, and the dup flag
    re-attaches through a JOIN on gh — the one shape AQE's skew-join
    splitting can break up at runtime. Identical output by construction
    (dup_grams = Σ c·1{corpus_count(gh)>1} either way; pinned by
    test_exact_substring_skewsafe_path_matches); default stays the
    window form, which wins at bench scale where groups are tiny.
    """
    g = _kgram_hashes(spark, sf_dir).select("doc_id", "gh")
    if os.environ.get("SPARK_GRAFT_SUBSTR_SKEWSAFE", "") == "1":
        cnt = g.groupBy("gh", "doc_id").agg(F.count("*").alias("c"))
        tot = cnt.groupBy("gh").agg(F.sum("c").alias("tg"))
        per_doc = (
            cnt.join(tot, "gh")
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias("total_grams"),
                F.sum(
                    F.col("c") * (F.col("tg") > 1).cast("int")
                ).alias("dup_grams"),
            )
        )
    else:
        wcnt = Window.partitionBy("gh")
        flagged = g.withColumn(
            "is_dup", (F.count("*").over(wcnt) > 1).cast("int")
        )
        per_doc = flagged.groupBy("doc_id").agg(
            F.count("*").alias("total_grams"),
            F.sum("is_dup").alias("dup_grams"),
        )
    return per_doc.select(
        "doc_id",
        "total_grams",
        "dup_grams",
        ratio(F.col("dup_grams"), F.col("total_grams")).alias("dup_frac"),
    )


# one pinned capped-edge relation per input — graph operators that
# materialize it repeatedly (bench reps) must not each pin a fresh copy of
# the same lineage. The PINNED relation is the ORIENTED form (src, dst,
# dst_dg): the triangle counter's wedge join reads it on three branches,
# and pinning the canonical form instead would re-run the orient join
# (edge ⋈ degree ⋈ degree, two shuffles) once per branch. Canonical (u, v)
# is recovered as (least, greatest) — orientation is a permutation of
# each edge.
def _capped_oriented_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pin is a checkpoint LEAF (r15): a bare persist keeps the full
    # near-jaccard lineage in the handle, and every consumer BRANCH
    # re-analyzes that tree — measured 0.4 s of driver work per reference
    # on a 667-row relation (triangle count touches it 4×). This is the
    # TARGETED form of the blanket checkpoint-every-pin idea that was
    # tried and reverted: the frozen-partitioning concern is void here
    # (the capped edge set is tiny and every consumer broadcasts it or
    # re-spreads with its own shuffles), unlike the corpus-shaped bands
    # pin where it serialized the LSH pair expansion.
    return caching.pin(
        "capped_edges",
        spark,
        sf_dir,
        lambda: _capped_oriented_edges(spark, sf_dir)[1],
        "leaf",
    )


def _capped_edges_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = _capped_oriented_persisted(spark, sf_dir)
    return es.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )


def _capped_oriented_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(e, es) for the triangle counter: `e` is the degree-capped (≤64)
    τ=0.9 near-dup edge set as canonical (u, v) pairs; `es` is the same
    edge set oriented low→high in the (degree, id) total order, carrying
    the destination's degree so the wedge join can order out-neighbors
    without another join. Both derive from the memoize-persisted
    `dedup_near_jaccard` relation, so neither re-runs the candidate-verify
    pipeline."""
    e0 = dedup_near_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    deg = (
        e0.select(F.col("u").alias("d"))
        .unionAll(e0.select(F.col("v").alias("d")))
        .groupBy("d")
        .agg(F.count("*").alias("dg"))
    )
    keep = deg.where(F.col("dg") <= 64)
    e = (
        e0.join(keep.select(F.col("d").alias("u")), "u")
        .join(keep.select(F.col("d").alias("v")), "v")
        .select("u", "v")
    )
    return e, orient_edges_by_degree(e, deg)


def orient_edges_by_degree(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Orient canonical (u, v) edges from the endpoint smaller in the
    (degree, id) total order to the larger; output (src, dst, dst_dg).
    ``deg`` is the (d, dg) node-degree relation — recomputed from ``e``
    when not supplied (the triangle counter passes the one it already
    built for the degree cap)."""
    if deg is None:
        deg = (
            e.select(F.col("u").alias("d"))
            .unionAll(e.select(F.col("v").alias("d")))
            .groupBy("d")
            .agg(F.count("*").alias("dg"))
        )
    du = deg.select(F.col("d").alias("u"), F.col("dg").alias("u_dg"))
    dv = deg.select(F.col("d").alias("v"), F.col("dg").alias("v_dg"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = F.struct(
        F.col("u_dg").alias("dg"), F.col("u").alias("id")
    ) < F.struct(F.col("v_dg").alias("dg"), F.col("v").alias("id"))
    return ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("v_dg")).otherwise(F.col("u_dg")).alias("dst_dg"),
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    ),
    deg AS MATERIALIZED (
        SELECT d, count(*) AS dg FROM (
            SELECT u AS d FROM e0 UNION ALL SELECT v FROM e0
        ) GROUP BY d
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0
        JOIN deg du ON e0.u = du.d JOIN deg dv ON e0.v = dv.d
        WHERE du.dg <= 64 AND dv.dg <= 64
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM tri) AS n_triangles,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(DISTINCT d) FROM
               (SELECT u AS d FROM e UNION SELECT v FROM e)) AS n_nodes
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the τ=0.9 near-dup similarity graph — the
    standard distributed-graph benchmark op, composed from the engine's
    own join algebra (the near-dup clusters are near-cliques, so the
    fixture graph is triangle-rich).

    Edges are DEGREE-ORDERED (oriented from the endpoint with the smaller
    (degree, id) to the larger — the standard arboricity-bounded triangle
    enumeration of Chiba–Nishizeki / Schank–Wagner): every triangle has
    exactly one "pivot" node smallest in that total order, so it is found
    exactly once as a wedge of two out-edges of the pivot closed by the
    oriented edge between the other two. Out-degree under this orientation
    is bounded by O(sqrt(m)) REGARDLESS of hub degree, so the wedge join
    fans out far less than the naive u<v orientation on skewed graphs
    (tests pin the wedge-count shrink on the fixture; the triangle COUNT
    is orientation-invariant, so the oracle is unchanged). Hub nodes with
    degree > 64 are additionally DROPPED first (both engines):
    near-universal duplicates form giant cliques whose triangle count is
    cubic in clique size — uninformative output that no counter can
    enumerate at scale; degree-capping counts triangles among
    discriminative edges only and bounds the wedge join at m×64 rows at
    ANY corpus size.
    """
    # read the SHARED staged edge pin (round-9: all three graph consumers
    # — triangle, k-core, clustering — now read one memoized relation, the
    # same staged-table discipline as the near-jaccard edges themselves).
    # The pin IS the oriented form, so all three wedge-join branches scan
    # cached blocks directly instead of re-running the orient join each.
    es = _capped_oriented_persisted(spark, sf_dir)
    e = _capped_edges_persisted(spark, sf_dir)
    # wedge at pivot a: two out-edges (a→b, a→c) with b before c in the
    # (deg, id) order, closed by the oriented edge b→c. Struct comparison
    # gives the lexicographic (deg, id) order JVM-side.
    w1 = es.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                   F.col("dst_dg").alias("b_dg"))
    w2 = es.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                   F.col("dst_dg").alias("c_dg"))
    closing = es.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = (
        w1.join(w2, "a")
        .where(F.struct("b_dg", "b") < F.struct("c_dg", "c"))
        .join(closing, ["b", "c"])
    )
    nodes = e.select(F.col("u").alias("d")).union(
        e.select(F.col("v").alias("d"))
    )
    # The three scalars are computed EAGERLY (round-2 ADVICE); the edge
    # pin itself is the session-scoped memoized copy — NOT unpersisted
    # here, the other graph consumers read it too. ONE collect (r15): the
    # three independent counts cross-join into a single 1-row job instead
    # of three sequential driver round-trips — same values, one action.
    row = (
        tri.agg(F.count("*").alias("t"))
        .crossJoin(e.agg(F.count("*").alias("m")))
        .crossJoin(nodes.select("d").distinct().agg(F.count("*").alias("n")))
        .collect()[0]
    )
    return spark.createDataFrame(
        [(row.t, row.m, row.n)],
        "n_triangles bigint, n_edges bigint, n_nodes bigint",
    )


@register(
    "text_dup_spans",
    oracle=f"""
    WITH {TOK_SQL},
    g AS (
        SELECT doc_id, pos,
               concat_ws(' ', term,
                   lead(term, 1) OVER w, lead(term, 2) OVER w,
                   lead(term, 3) OVER w, lead(term, 4) OVER w,
                   lead(term, 5) OVER w, lead(term, 6) OVER w,
                   lead(term, 7) OVER w) AS gram,
               lead(term, 7) OVER w AS tail
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    gg AS (SELECT doc_id, pos, gram FROM g WHERE tail IS NOT NULL),
    dup AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) > 1),
    dp AS (
        SELECT gg.doc_id, gg.pos FROM gg JOIN dup ON gg.gram = dup.gram
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w2 IS NULL
                      OR pos - lag(pos) OVER w2 > {{K}} THEN 1 ELSE 0 END AS new_span
        FROM dp WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (
        SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM isl
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           min(pos) AS span_start,
           max(pos) + {{K}} - 1 AS span_end,
           max(pos) + {{K}} - min(pos) AS span_tokens
    FROM sp GROUP BY doc_id, span_id
    """.replace("{K}", "8"),
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup output: duplicated K-gram windows
    merged into MAXIMAL duplicated token spans per doc — what a span-wise
    dedup pass would actually cut, and the classic gaps-and-islands SQL
    pattern (lag-gap flag → running island id → per-island rollup).

    Overlapping or adjacent windows (start gap ≤ K) fuse into one span;
    span_end is inclusive. Same scale shape as `dedup_exact_substring`
    (gram-hash shuffle + filtered dup set) plus one per-doc window pass
    over only the duplicated positions.
    """
    K = K_GRAM
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = _kgram_hashes(spark, sf_dir)
    dup = (
        g.groupBy("gh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("gh")
    )
    dp = g.join(dup, "gh").select("doc_id", "pos")
    new_span = (
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > K),
            1,
        )
        .otherwise(0)
    )
    sp = dp.select(
        "doc_id",
        "pos",
        F.sum(new_span)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("span_id"),
    )
    return sp.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + K - 1).alias("span_end"),
        (F.max("pos") + K - F.min("pos")).alias("span_tokens"),
    )


def _keep_best_oracle() -> str:
    from .curation import QSCORE_CTES

    return f"""
    WITH {_cluster_labels_sql()},
    {QSCORE_CTES},
    j AS (
        SELECT l.cluster_rep, l.doc_id,
               round(q.sigma, 4) + 0.0 AS quality_score
        FROM labels l JOIN qscore q ON l.doc_id = q.doc_id
    ),
    ranked AS (
        SELECT cluster_rep, doc_id, quality_score,
               row_number() OVER (PARTITION BY cluster_rep
                                  ORDER BY quality_score DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
        FROM j
    )
    SELECT cluster_rep, doc_id AS keeper,
           round(quality_score, 4) + 0.0 AS keeper_score,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
    """


@register("dedup_cluster_keep_best", oracle=_keep_best_oracle())
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: near-dup clusters (MinHash connected
    components) each keep their single best member by model quality score
    — what a curation pipeline actually writes out, completing
    discover-candidates → cluster → choose-survivor.

    One ranking window over (cluster | score DESC, doc_id) picks the
    survivor; output is one row per cluster with the keeper, its score,
    and the cluster size. EXACT oracle (round 3): the DuckDB twin rebuilds
    the same clusters from the shared xhash band graph and ranks on the
    same rounded score; tests additionally pin one-keeper-per-cluster and
    keeper-is-max-score invariants.

    NOTE the ranking is on the ROUNDED (4dp) sigmoid with doc_id tie-break —
    the same accepted residual as `sim_topk_search`'s rounded-cosine rank: a
    cross-engine exp() ulp difference could in principle flip a value
    sitting exactly on a 0.00005 boundary and change the keeper; gate runs
    at three SFs verify no fixture value sits on one.
    """
    from . import curation as _c

    labels = dedup_minhash_cluster(spark, sf_dir)
    scores = _c.quality_lr(spark, sf_dir).select("doc_id", "quality_score")
    j = labels.join(scores, "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_rep"))
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("keeper"),
            (F.round("quality_score", 4) + F.lit(0.0)).alias("keeper_score"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


def _lsh_quality_oracle() -> str:
    """Compose the two registered EXACT oracles — the grader must judge the
    SAME pair sets the operators emit (the sim_ann_recall_eval pattern)."""
    from ..operators.parity import sql_ratio
    from ..registry import ORACLES

    return f"""
    WITH truth AS ({ORACLES["dedup_near_jaccard"]}),
    cand AS ({ORACLES["dedup_minhash_lsh"]}),
    j AS (
        SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
               CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS is_truth,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand
        FROM truth t FULL JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(sum(is_truth) AS BIGINT) AS n_truth,
           CAST(sum(is_cand) AS BIGINT) AS n_cand,
           CAST(sum(is_truth * is_cand) AS BIGINT) AS n_hit,
           {sql_ratio("sum(is_truth * is_cand)", "sum(is_truth)")} AS recall,
           {sql_ratio("sum(is_truth * is_cand)", "sum(is_cand)")} AS precision
    FROM j
    """


@register("dedup_lsh_quality_eval", oracle=_lsh_quality_oracle())
def dedup_lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA gate: precision/recall of the MinHash-LSH candidate pairs
    against the exact token-set Jaccard ≥ τ ground truth — the twin of
    `sim_ann_recall_eval` for the dedup family, and the number a
    production rollout of the bucketed path must clear before the exact
    inverted-index baseline is retired.

    Pure composition of the two REGISTERED operators (no
    re-implementation): full outer join of the two pair sets on
    (doc_a, doc_b), one global agg. Both inputs are pairs-sized (tiny
    next to the corpus work inside the operators being graded); metrics
    via the boundary-proof integer quotient. Banding theory check: at
    (bands, rows)=(16,4) the τ=0.5 S-curve gives recall ≈ 1−(1−.5⁴)¹⁶
    ≈ 0.66 per band-match ⇒ the observed recall is asserted positive in
    tests rather than pinned to a constant (fixtures are small).
    """
    truth = dedup_near_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_truth")
    )
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_cand")
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full").select(
        F.coalesce("is_truth", F.lit(0)).alias("is_truth"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    return j.agg(
        F.sum("is_truth").cast("long").alias("n_truth"),
        F.sum("is_cand").cast("long").alias("n_cand"),
        F.sum(F.col("is_truth") * F.col("is_cand")).cast("long").alias("n_hit"),
        ratio(
            F.sum(F.col("is_truth") * F.col("is_cand")), F.sum("is_truth")
        ).alias("recall"),
        ratio(
            F.sum(F.col("is_truth") * F.col("is_cand")), F.sum("is_cand")
        ).alias("precision"),
    )


CONTAIN_TAU_N, CONTAIN_TAU_D = 9, 10  # containment threshold τ = 9/10


@register(
    "dedup_containment",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / sa.sz, 4) + 0.0 AS containment
    FROM pairs JOIN tsize sa ON doc_a = sa.doc_id
    WHERE inter * 1.0 / sa.sz >= {CONTAIN_TAU_N / CONTAIN_TAU_D}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment pairs: |A∩B| / |A| ≥ τ — doc_a's token set is
    (nearly) contained in doc_b's. The contamination/quotation detector
    Jaccard misses: a benchmark prompt pasted inside a much longer document
    has tiny Jaccard (the union is huge) but containment ≈ 1. Companion to
    `llm_contamination_check` (which tests against a FIXED holdout set;
    this mines containment between arbitrary corpus documents).

    Same lossless prefix-filter scale path as `dedup_near_jaccard`, with
    the ONE-SIDED bound: |A∩B| ≥ ⌈τ·|A|⌉ =: α depends only on the
    contained side, so only A is prefix-reduced (first |A| − α + 1
    rarest-first tokens) and it joins B's FULL token set — if A's prefix
    misses B entirely, at most α − 1 intersection elements fit in A's
    suffix, so no qualifying pair is lost. Candidates verify exactly via
    the broadcast `array_intersect` relation (same 100 TB caveat as the
    Jaccard op: at corpus scale the array join degrades to one
    co-partitioned shuffle).

    The verified containment relation is pinned per input — the same
    staged-edge-table discipline as the τ=0.9 Jaccard edges (VERDICT r5
    item 2): the asymmetric candidate-verify is
    the single heaviest pipeline in the extended bench (~10 s per
    re-materialization at sf0.1, pairs-sized output), and at cluster
    scale a contamination audit writes this edge set once between
    stages rather than re-mining it per consumer."""
    # checkpoint LEAF (r15): same rationale as the near-jaccard pin —
    # composers (llm_contamination_matrix) branch over the pinned edges
    # and paid the full candidate+verify lineage re-analysis per reference.
    return caching.pin(
        "containment", spark, sf_dir, lambda: _containment_build(spark, sf_dir), "leaf"
    )


def _containment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair stage of the containment build (prefix filter + size
    prune + PPJoin position filter + distinct), split out so the slope
    study can decompose the cold build into candidate-generation wall vs
    verify wall (VERDICT r10 item 4 — the unexplained 3.3x cold slope)."""
    tset = _token_sets(spark, sf_dir)
    dfreq = tset.groupBy("term").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "term")
    wsz = Window.partitionBy("doc_id")
    # every token positioned in the GLOBAL rarest-first canonical order
    # (df asc, term asc) — the order both the prefix filter and PPJoin's
    # position filter reason in. Window input is the memoized tset pin,
    # so the second (B-side) pass re-windows a cached relation.
    poss = tset.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.row_number().over(wdoc).alias("pos"),
        F.count("*").over(wsz).alias("sz"),
    )
    pref = poss.where(
        F.col("pos")
        <= F.col("sz")
        - F.expr(
            f"({CONTAIN_TAU_N} * sz + {CONTAIN_TAU_D - 1})"
            f" div {CONTAIN_TAU_D}"
        )
        + 1
    )
    # TWO lossless prunes AT the term join, before the distinct shuffle
    # (52.5 M raw pairs at sf0.1 with neither; measured 37.2 M with the
    # size prune alone, 33.2 M with both — the gain is modest HERE because
    # this fixture is saturated with true near-duplicates, ~half the
    # distinct candidates verify; on a contamination-shaped corpus where
    # qualifying pairs are rare the position bound is the dominant prune):
    #  - size prune: containment needs |A∩B| ≥ ⌈τ·|A|⌉ =: α and
    #    |A∩B| ≤ |B|, so |B| < α can never qualify;
    #  - PPJoin position filter (Xiao et al., WWW'08): common tokens of a
    #    pair appear in the SAME canonical order in both docs, so a match
    #    at (pos_a, pos_b) bounds the total overlap by
    #    1 + min(sa − pos_a, sb − pos_b). For the FIRST common token that
    #    bound is tightest-per-pair and its positions are minimal in both
    #    coordinates; the prefix filter guarantees a qualifying pair's
    #    first common token sits in A's prefix, so dropping occurrences
    #    whose bound is < α loses no qualifying pair.
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("pos").alias("pa"),
        F.col("sz").alias("sa"),
    )
    b = poss.select(
        F.col("doc_id").alias("doc_b"),
        "term",
        F.col("pos").alias("pb"),
        F.col("sz").alias("sb"),
    )
    alpha = F.expr(
        f"({CONTAIN_TAU_N} * sa + {CONTAIN_TAU_D - 1}) div {CONTAIN_TAU_D}"
    )
    cand = (
        a.join(b, "term")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("sb") >= alpha)
            & (
                F.lit(1)
                + F.least(
                    F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb")
                )
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand


def _containment_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    tset = _token_sets(spark, sf_dir)
    cand = _containment_candidates(spark, sf_dir)
    # verify on HASHED token arrays (round-9, closing the r8 "<6 s"
    # target): the intersection COUNT is invariant under any injective
    # token→int64 map, and `array_intersect` over fixed-width bigints
    # runs ~2.2× faster than over strings (measured at sf0.1 — no
    # per-element string hashing/equality inside the intersect hash set).
    # xxhash64 is deterministic, so recomputed branch lineages always
    # agree; a hash collision could only merge two distinct terms, with
    # probability ≤ vocab²/2⁶⁴ (~1e-10 at fixture vocab, ~5% of ONE
    # colliding term-pair existing at a 10⁹-term corpus — and even then
    # it shifts one pair's count by at most 1 only when both terms split
    # across one candidate pair's docs). The EXACT string-side oracle
    # would catch any fixture-scale collision as a hash mismatch.
    arrs = tset.groupBy("doc_id").agg(
        F.collect_list(F.xxhash64("term")).alias("toks"),
        F.count("*").alias("sz"),
    )
    ra = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sa"),
    )
    rb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    # same size-gated hint as dedup_near_jaccard: docs-sized relations,
    # broadcast only while they fit the session threshold estimate
    if _arrs_fits_broadcast(spark, sf_dir):
        ra, rb = F.broadcast(ra), F.broadcast(rb)
    verified = (
        cand.join(ra, "doc_a")
        .join(rb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
    )
    cont = F.col("inter") / F.col("sa")
    return verified.where(cont >= CONTAIN_TAU_N / CONTAIN_TAU_D).select(
        "doc_a", "doc_b", (F.round(cont, 4) + F.lit(0.0)).alias("containment")
    )


PARA_TOKENS = 12  # tokens per "paragraph" chunk


@register(
    "text_paragraph_dedup",
    oracle=f"""
    WITH {TOK_SQL},
    chunks AS (
        SELECT doc_id, pos // {PARA_TOKENS} AS chunk_id,
               string_agg(term, ' ' ORDER BY pos) AS chunk
        FROM tok GROUP BY doc_id, pos // {PARA_TOKENS}
    ),
    ranked AS (
        SELECT doc_id, chunk_id,
               row_number() OVER (
                   PARTITION BY chunk ORDER BY doc_id, chunk_id
               ) AS rn
        FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           {sql_ratio("sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)", "count(*)")}
               AS keep_ratio
    FROM ranked GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-hash dedup profile: cut every document into
    {PARA_TOKENS}-token chunks (the newline-free fixture's stand-in for
    paragraphs), drop every chunk whose exact text already appeared
    earlier in the corpus (first occurrence by (doc_id, chunk_id) wins),
    and report per-doc kept/dropped counts — the normalize→chunk→hash→
    group dedup step every web-scale curation pipeline runs BEFORE
    document-level near-dup (CCNet, RefinedWeb, FineWeb all start here).

    Differs from `dedup_exact_substring`/`text_dup_spans`: those profile
    OVERLAPPING K-gram windows to find duplicated spans; this partitions
    into DISJOINT chunks and makes a keep/drop decision per chunk — the
    actual deletion rule, not the diagnostic.

    Scale shape: one tokenize scan → disjoint-chunk hash agg (corpus/12
    rows) → one ranking window PARTITIONED BY chunk text (at 100 TB the
    partition key becomes the chunk's 128-bit hash; distinct-chunk
    partitions are numerous and tiny — fully parallel) → per-doc rollup.
    No joins, no all-pairs anything."""
    chunks = (
        tokenize(spark, sf_dir)
        .withColumn("chunk_id", F.expr(f"pos div {PARA_TOKENS}"))
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s.term,
                ),
                " ",
            ).alias("chunk")
        )
    )
    wc = Window.partitionBy("chunk").orderBy("doc_id", "chunk_id")
    ranked = chunks.select(
        "doc_id", F.row_number().over(wc).alias("rn")
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        ratio(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)), F.count("*")
        ).alias("keep_ratio"),
    )


def _survivorship_oracle() -> str:
    from .curation import QSCORE_CTES

    return f"""
    WITH {_cluster_labels_sql()},
    {QSCORE_CTES},
    j AS (
        SELECT l.cluster_rep, l.doc_id,
               round(q.sigma, 4) + 0.0 AS quality_score
        FROM labels l JOIN qscore q ON l.doc_id = q.doc_id
    ),
    ranked AS (
        SELECT cluster_rep, doc_id,
               row_number() OVER (PARTITION BY cluster_rep
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM j
    ),
    keep AS (SELECT doc_id FROM ranked WHERE rn = 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS docs_in,
           CAST(count(k.doc_id) AS BIGINT) AS docs_kept,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_in,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_kept,
           {sql_ratio('count(k.doc_id)', 'count(*)')} AS doc_keep_rate,
           {sql_ratio(
               "sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)",
               "sum(d.n_chars)",
           )} AS char_keep_rate
    FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id
    GROUP BY d.source
    """


@register("llm_dedup_survivorship", oracle=_survivorship_oracle())
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship audit: per source, how many documents (and how
    many characters) survive the full discover→cluster→keep-best pipeline
    — the report a production curation run publishes alongside its output
    so downstream consumers can see WHERE the dedup bit (a source whose
    keep rate craters signals a mirror/scrape of another source; a source
    at ~1.0 contributed mostly unique text). Composes the registered
    `dedup_cluster_keep_best` keeper set verbatim.

    Scale shape: the keeper relation is cluster-count-sized (≤ one row per
    surviving doc) and joins documents on doc_id — a plain co-partitioned
    hash join, deliberately NOT broadcast-hinted (at 100 TB the keeper set
    is itself corpus-scale; AQE may still elect broadcast when it is
    measured small). One hash agg keyed by source finishes — sources-sized
    output, exact integer counts/sums, boundary-proof quotients for the
    two rates.
    """
    keep = dedup_cluster_keep_best(spark, sf_dir).select(
        F.col("keeper").alias("doc_id"), F.lit(1).alias("kept")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    j = d.join(keep, "doc_id", "left")
    agg = j.groupBy("source").agg(
        F.count("*").alias("docs_in"),
        F.count("kept").alias("docs_kept"),
        F.sum("n_chars").cast("long").alias("chars_in"),
        F.sum(F.when(F.col("kept").isNotNull(), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )
    return agg.select(
        "source",
        "docs_in",
        "docs_kept",
        "chars_in",
        "chars_kept",
        ratio(F.col("docs_kept"), F.col("docs_in")).alias("doc_keep_rate"),
        ratio(F.col("chars_kept"), F.col("chars_in")).alias("char_keep_rate"),
    )


@register(
    "graph_component_sizes",
    oracle=f"""
    WITH {_cluster_labels_sql()},
    sizes AS (
        SELECT cluster_rep, CAST(count(*) AS BIGINT) AS sz
        FROM labels GROUP BY cluster_rep
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size distribution of the near-dup graph — the
    dedup audit's headline histogram ("how big do duplicate clusters
    get"): for each component size, how many clusters have it and how
    many documents they absorb. Σ n_docs = corpus size is the
    conservation check; a heavy tail here is what motivates
    `dedup_cluster_keep_best`'s per-cluster ranking.

    Pure composition: consumes the registered `dedup_minhash_cluster`
    assignment (pinned per input — the iterative CC never re-runs
    when both ops execute in one session) and reduces it with two
    stacked hash aggs, each output-bounded (clusters, then distinct
    sizes). The oracle reuses the cluster oracle's unrolled min-label
    CTE chain verbatim."""
    labels = dedup_minhash_cluster(spark, sf_dir)
    sizes = labels.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("sz")
    )
    return sizes.groupBy("sz").agg(
        F.col("sz").alias("cluster_size"),
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("sz") * F.count("*")).cast("long").alias("n_docs"),
    ).select("cluster_size", "n_clusters", "n_docs")


@register(
    "dedup_cross_source",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    nj AS (
        SELECT doc_a, doc_b,
               round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) + 0.0
                   AS jaccard
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           (da.source <> db.source) AS cross_source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           max(nj.jaccard) AS max_jaccard
    FROM nj
    JOIN documents da ON nj.doc_a = da.doc_id
    JOIN documents db ON nj.doc_b = db.doc_id
    GROUP BY 1, 2, 3
    """,
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit — the leakage matrix a corpus owner
    reads before mixing sources (and the shape of a train/eval
    contamination report): for every unordered source pair, how many
    verified τ=0.9 near-dup pairs span it and the worst similarity.
    Within-source rows (cross_source = false) are the baseline the
    cross-source counts are judged against.

    Pure composition: consumes the registered `dedup_near_jaccard` edge
    relation (pinned per input — the 11 M-pair verify
    never re-runs in-session) and joins the slim (doc_id, source)
    projection twice; output is bounded by source-vocabulary², the
    aggregate order-free (count + max, no float sums)."""
    nj = dedup_near_jaccard(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        nj.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).alias("cross_source"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    nj AS (
        SELECT doc_a, doc_b
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    ),
    ends AS (
        SELECT doc_a AS doc_id FROM nj
        UNION ALL SELECT doc_b AS doc_id FROM nj
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM ends GROUP BY doc_id
    )
    SELECT CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
    GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the τ=0.9 near-dup graph — the skew audit
    read next to `graph_component_sizes`: component sizes say how big
    clusters GET, degrees say how they're WIRED (a hub-heavy histogram
    means mega-templates; near-uniform small degrees mean chains/pairs),
    and the max degree bounds the wedge fan-out `graph_triangle_count`'s
    orientation relies on. Degree-0 docs are kept (left join against the
    corpus) so Σ n_docs = corpus size is the conservation check.

    Pure composition: consumes the registered `dedup_near_jaccard` edge
    relation (pinned per input — the verify pipeline never
    re-runs in-session), unions the two endpoint columns (edges stored
    once as doc_a < doc_b, so degree = appearances on either side), and
    reduces with two output-bounded hash aggs. All-integer."""
    edges = dedup_near_jaccard(spark, sf_dir)
    ends = edges.select(F.col("doc_a").alias("doc_id")).unionAll(
        edges.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("degree")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(deg, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).cast("long").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@register(
    "llm_contamination_matrix",
    oracle=f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    cont AS (
        SELECT doc_a, doc_b,
               round(inter * 1.0 / sa.sz, 4) + 0.0 AS containment
        FROM pairs JOIN tsize sa ON doc_a = sa.doc_id
        WHERE inter * 1.0 / sa.sz >= {CONTAIN_TAU_N / CONTAIN_TAU_D}
    )
    SELECT da.source AS source_contained, db.source AS source_container,
           (da.source <> db.source) AS cross_source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c.doc_a) AS BIGINT) AS n_docs_contained,
           max(c.containment) AS max_containment
    FROM cont c
    JOIN documents da ON c.doc_a = da.doc_id
    JOIN documents db ON c.doc_b = db.doc_id
    GROUP BY 1, 2, 3
    """,
)
def llm_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL contamination matrix: for every ordered source pair,
    how many τ=9/10 containment edges point from a doc in
    `source_contained` INTO a doc in `source_container` — who quotes
    whom. The asymmetric companion to `dedup_cross_source` (whose
    Jaccard edges are symmetric and can't distinguish the benchmark
    leaking into the crawl from the crawl leaking into the benchmark);
    `n_docs_contained` is the headline: distinct documents of A
    effectively embedded in B.

    Pure composition: consumes the registered `dedup_containment` edge
    relation (pinned per input — the heaviest
    candidate-verify pipeline in the repo never re-runs in-session, the
    reuse the staging exists for) and joins the slim (doc_id, source)
    projection twice; output source-vocab²-bounded; aggregates order-free
    (count, count-distinct, max — no float sums)."""
    edges = dedup_containment(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    # per-doc (id, source) projection: ~64 B/row — corpus-sized, gated
    if _fits_broadcast(spark, _table_rows(sf_dir, "documents"), 64):
        da, db = F.broadcast(da), F.broadcast(db)
    return (
        edges.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.col("sa").alias("source_contained"),
            F.col("sb").alias("source_container"),
            (F.col("sa") != F.col("sb")).alias("cross_source"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("doc_a").cast("long").alias("n_docs_contained"),
            F.max("containment").alias("max_containment"),
        )
    )


def _soft_dedup_oracle() -> str:
    from ..registry import ORACLES

    return f"""
    WITH cl AS ({ORACLES["dedup_minhash_cluster"]}),
    sz AS (
        SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cl GROUP BY cluster_rep
    )
    SELECT cl.doc_id, cl.cluster_rep, sz.cluster_size,
           {sql_ratio("1", "sz.cluster_size")} AS soft_weight
    FROM cl JOIN sz USING (cluster_rep)
    """


@register("llm_soft_dedup_weights", oracle=_soft_dedup_oracle())
def llm_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (He et al. 2024, "SoftDedup: an Efficient Data
    Reweighting Method for Speeding Up Language Model Pretraining" —
    public method): instead of DELETING near-duplicates (the
    `dedup_cluster_keep_best` path), down-weight every member of a
    duplicate cluster to 1/cluster_size so the cluster contributes one
    document's worth of gradient mass while keeping its sample diversity.
    Composes the registered CC clustering verbatim: (doc_id, cluster_rep)
    → cluster sizes → boundary-proof 1/size ratio. Unique docs keep
    weight 1.0; a 50-copy boilerplate cluster drops to 0.02 each.

    Feeds `llm_repeat_upsample`/`llm_mixing_weights`-style samplers as the
    per-doc multiplier. Scale shape: reuses the staged label relation, one
    clusters-sized hash agg, one broadcast-back join — strictly cheaper
    than the quadratic pair relation."""
    cl = dedup_minhash_cluster(spark, sf_dir)
    sz = cl.groupBy("cluster_rep").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return cl.join(F.broadcast(sz), "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        ratio(F.lit(1), F.col("cluster_size")).alias("soft_weight"),
    )


HAM_K = 3  # simhash near-dup threshold (Manku et al.'s web-dedup setting)
HAM_BLOCKS = 4  # 4 x 16-bit blocks: pigeonhole guarantees ham<=3 pairs share one


def _simhash_hamming_oracle() -> str:
    from ..registry import ORACLES

    blocks = ", ".join(
        f"((simhash >> {16 * b}) & 65535)" for b in range(HAM_BLOCKS)
    )
    return f"""
    WITH fp AS ({ORACLES["dedup_simhash"]}),
    blk AS (
        SELECT doc_id, i AS blk, [{blocks}][i + 1] AS key
        FROM fp CROSS JOIN (SELECT unnest(range({HAM_BLOCKS})) AS i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM blk a JOIN blk b
          ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {HAM_K}
    """


@register("dedup_simhash_hamming", oracle=_simhash_hamming_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via hamming-block banding (Manku, Jain &
    Sarma, WWW 2007, "Detecting near-duplicates for web crawling" — the
    published Google web-dedup algorithm, public): split each 64-bit
    fingerprint into {HAM_BLOCKS}×16-bit blocks; by pigeonhole, any pair
    within hamming distance ≤ {HAM_K} agrees EXACTLY on at least one
    block, so the block-bucket self-join is a LOSSLESS candidate
    generator; verify with one popcount(xor) per candidate. Completes the
    simhash path the same way `dedup_minhash_lsh` completes MinHash —
    fingerprint op → banded pair miner.

    Scale shape: the block relation is 4 rows/doc of (blk, 16-bit key);
    random fingerprints collide per block at 2^-16, so candidates are
    ~4·N²/2^16 ONLY for truly random corpora and collapse onto the real
    near-dup mass otherwise — the same candidate math as the banded
    sign-LSH miner but with the lossless pigeonhole guarantee instead of
    probabilistic recall (no recall gate needed: recall is 1 by
    construction at ≤ {HAM_K}).

    EXACT oracle: both engines agree on bit_count/xor/shift-mask over
    two's-complement int64 (including the sign block — the & 65535 mask
    discards sign-extension bits)."""
    fp = _simhash_fp(spark, sf_dir)
    blk = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("key"),
                    )
                    for b in range(HAM_BLOCKS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.blk").alias("blk"), F.col("s.key").alias("key"))
    a = blk.select(F.col("doc_id").alias("doc_a"), "blk", "key")
    b = blk.select(F.col("doc_id").alias("doc_b"), "blk", "key")
    cand = (
        a.join(b, ["blk", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .where(ham <= HAM_K)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


KCORE_K = 2  # coreness threshold (non-empty core at every fixture SF)
KCORE_ROUNDS = 10  # unrolled SYNCHRONOUS peel rounds (fixture fixpoint <= 7; pinned)


def _kcore_oracle() -> str:
    parts = [
        f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    ),
    dg0 AS MATERIALIZED (
        SELECT d, count(*) AS dg FROM (
            SELECT u AS d FROM e0 UNION ALL SELECT v FROM e0
        ) GROUP BY d
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0
        JOIN dg0 du ON e0.u = du.d JOIN dg0 dv ON e0.v = dv.d
        WHERE du.dg <= 64 AND dv.dg <= 64
    ),
    s0 AS MATERIALIZED (
        SELECT DISTINCT d FROM (SELECT u AS d FROM e UNION ALL SELECT v FROM e)
    )"""
    ]
    prev = "s0"
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
    s{r} AS MATERIALIZED (
        SELECT d FROM (
            SELECT d, count(*) AS dg FROM (
                SELECT e.u AS d FROM e
                JOIN {prev} a ON e.u = a.d JOIN {prev} b ON e.v = b.d
                UNION ALL
                SELECT e.v FROM e
                JOIN {prev} a ON e.u = a.d JOIN {prev} b ON e.v = b.d
            ) GROUP BY d
        ) WHERE dg >= {KCORE_K}
    )"""
        )
        prev = f"s{r}"
    parts.append(
        f"""
    SELECT d AS doc_id, CAST(dg AS BIGINT) AS core_degree FROM (
        SELECT d, count(*) AS dg FROM (
            SELECT e.u AS d FROM e
            JOIN {prev} a ON e.u = a.d JOIN {prev} b ON e.v = b.d
            UNION ALL
            SELECT e.v FROM e
            JOIN {prev} a ON e.u = a.d JOIN {prev} b ON e.v = b.d
        ) GROUP BY d
    )"""
    )
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the degree-capped τ=0.9 near-dup similarity graph
    (Seidman 1983 k-core decomposition — the density screen between the
    degree histogram and triangle counting): iteratively peel nodes with
    fewer than {KCORE_K} surviving neighbors until a fixpoint; what
    remains is the maximal subgraph of minimum degree {KCORE_K} — the
    "hard kernel" of a duplication cluster that survivorship policies
    treat differently from dangling near-dups. Output: surviving doc_id
    with its within-core degree.

    {KCORE_ROUNDS} unrolled SYNCHRONOUS peel rounds (all sub-threshold
    nodes drop together, then degrees recount), both engines identical
    (the CC/BPE unroll discipline); the fixture reaches its fixpoint
    within 7 rounds at every SF and a test pins it (one more round
    changes nothing), so the truncation is proven, not assumed. Scale shape: each round is one
    degree hash-agg over the surviving edge relation (node sets shrink
    monotonically); edges come from the memoized near-jaccard relation —
    no re-mining. At 1000× the rounds become the standard distributed
    k-core peel with the same per-round plan."""
    from ..iteration import stage_round

    # the shared edge pin is itself a checkpoint leaf (r15, see
    # _capped_oriented_persisted), so the peel rounds plan against a
    # leaf-rooted projection directly — no per-call re-staging copy.
    e = _capped_edges_persisted(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("d"))
        .unionAll(e.select(F.col("v").alias("d")))
        .distinct()
    )

    def survivors_deg(ns: DataFrame) -> DataFrame:
        ee = e.join(ns.select(F.col("d").alias("u")), "u").join(
            ns.select(F.col("d").alias("v")), "v"
        )
        return (
            ee.select(F.col("u").alias("d"))
            .unionAll(ee.select(F.col("v").alias("d")))
            .groupBy("d")
            .agg(F.count("*").alias("dg"))
        )

    # lazy round checkpoints (the BPE-loop finding, r15): the peel has no
    # per-round action, so eager staging paid 7 sequential materialization
    # jobs of driver round-trip latency; eager=False keeps per-round plan
    # truncation but lets the ONE final action materialize every round's
    # blocks as part of its own job (measured 4.9 → 3.1 s floor at sf0.1,
    # identical survivors).
    for _ in range(KCORE_ROUNDS):
        nodes = stage_round(
            survivors_deg(nodes)
            .where(F.col("dg") >= KCORE_K)
            .select("d"),
            False,
            eager=False,
        )
    return survivors_deg(nodes).select(
        F.col("d").alias("doc_id"), F.col("dg").cast("long").alias("core_degree")
    )


def _clustering_oracle() -> str:
    return f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    ),
    dg0 AS MATERIALIZED (
        SELECT d, count(*) AS dg FROM (
            SELECT u AS d FROM e0 UNION ALL SELECT v FROM e0
        ) GROUP BY d
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0
        JOIN dg0 du ON e0.u = du.d JOIN dg0 dv ON e0.v = dv.d
        WHERE du.dg <= 64 AND dv.dg <= 64
    ),
    deg AS MATERIALIZED (
        SELECT d, CAST(count(*) AS BIGINT) AS dg FROM (
            SELECT u AS d FROM e UNION ALL SELECT v FROM e
        ) GROUP BY d
    ),
    -- node-anchored triangle counts: each triangle {{a,b,c}} (canonical
    -- u<v edges) increments ALL THREE corners
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pertri AS (
        SELECT d, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT a AS d FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY d
    )
    SELECT deg.d AS doc_id, deg.dg AS degree,
           coalesce(pertri.t, 0) AS n_triangles,
           {sql_ratio("coalesce(pertri.t, 0) * 2",
                      "deg.dg * (deg.dg - 1)")} AS clustering
    FROM deg LEFT JOIN pertri ON deg.d = pertri.d
    WHERE deg.dg >= 2
    """


@register("graph_clustering_coeff", oracle=_clustering_oracle())
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the degree-capped τ=0.9
    similarity graph (Watts & Strogatz 1998): triangles-at-node /
    (deg choose 2) — the per-node density companion to the global
    `graph_triangle_count` (a near-dup CLUSTER member has coefficient ≈1,
    a bridge document between clusters ≈0, so this column separates core
    duplicates from incidental overlaps before survivorship).

    Triangles enumerate once per triangle via the canonical u<v edge
    orientation (the oracle's exact join shape) and credit all three
    corners; the coefficient quantizes through the boundary-proof integer
    ratio (2t / d(d−1)). Edges reuse the memoized near-jaccard relation.
    Scale shape: the wedge join is the triangle counter's (arboricity-
    bounded after the degree cap); everything else is degree-sized."""
    e = _capped_edges_persisted(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("d"))
        .unionAll(e.select(F.col("v").alias("d")))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("dg"))
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    pertri = (
        tri.select(F.col("a").alias("d"))
        .unionAll(tri.select(F.col("b").alias("d")))
        .unionAll(tri.select(F.col("c").alias("d")))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("t"))
    )
    return (
        deg.where(F.col("dg") >= 2)
        .join(pertri, "d", "left")
        .select(
            F.col("d").alias("doc_id"),
            F.col("dg").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            ratio(
                F.coalesce("t", F.lit(0)) * 2,
                F.col("dg") * (F.col("dg") - 1),
            ).alias("clustering"),
        )
    )


CN_MIN = 2  # common-neighbor evidence floor for a predicted link


def _common_neighbors_oracle() -> str:
    return f"""
    WITH {DSET_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tset a JOIN tset b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v
        FROM pairs
        JOIN tsize sa ON doc_a = sa.doc_id
        JOIN tsize sb ON doc_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_TAU}
    ),
    dg0 AS MATERIALIZED (
        SELECT d, count(*) AS dg FROM (
            SELECT u AS d FROM e0 UNION ALL SELECT v FROM e0
        ) GROUP BY d
    ),
    e AS MATERIALIZED (
        SELECT u, v FROM e0
        JOIN dg0 du ON e0.u = du.d JOIN dg0 dv ON e0.v = dv.d
        WHERE du.dg <= 64 AND dv.dg <= 64
    ),
    deg AS MATERIALIZED (
        SELECT d, CAST(count(*) AS BIGINT) AS dg FROM (
            SELECT u AS d FROM e UNION ALL SELECT v FROM e
        ) GROUP BY d
    ),
    adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    cn AS (
        SELECT n1.b AS x, n2.b AS y, CAST(count(*) AS BIGINT) AS common_n
        FROM adj n1 JOIN adj n2 ON n1.a = n2.a AND n1.b < n2.b
        GROUP BY n1.b, n2.b
    ),
    pred AS (
        SELECT cn.x AS doc_a, cn.y AS doc_b, cn.common_n
        FROM cn LEFT JOIN e ON cn.x = e.u AND cn.y = e.v
        WHERE e.u IS NULL AND cn.common_n >= {CN_MIN}
    )
    SELECT p.doc_a, p.doc_b, p.common_n,
           da.dg AS deg_a, db.dg AS deg_b,
           {sql_ratio("p.common_n", "da.dg + db.dg - p.common_n")}
               AS nbr_jaccard
    FROM pred p JOIN deg da ON p.doc_a = da.d JOIN deg db ON p.doc_b = db.d
    """


@register("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the degree-capped τ=0.9
    similarity graph (Liben-Nowell & Kleinberg 2003, the baseline the
    link-prediction literature measures against): NON-adjacent pairs
    sharing ≥ {CN_MIN} neighbors, scored by neighborhood Jaccard
    |Γa∩Γb| / |Γa∪Γb|. On a dedup graph these are the "about to be
    duplicates" pairs — two docs each near-identical to the same third
    doc(s) but falling just under τ between themselves — the review
    queue a curation run reads next to the hard `dedup_near_jaccard`
    edges.

    EXACT all-integer: wedge counts and degrees are int64, the score is
    the boundary-proof `ratio` quotient (|Γa∪Γb| = dga + dgb − cn by
    inclusion-exclusion on the capped graph).

    Scale shape: reuses the memoized capped edge relation; the wedge
    self-join fans out ≤ 64 per center node by the degree cap (the
    triangle counter's bound — ≤ m×64 wedge rows at ANY corpus size);
    the existing-edge screen is a left-anti equi-join; degree joins are
    node-keyed equi-joins. No cartesian, no window."""
    # the shared edge pin is itself a checkpoint leaf (r15, see
    # _capped_oriented_persisted): every one of this op's nine branches
    # (deg ×2, adj ×2, wedge self-join, anti-screen, two degree joins)
    # plans against a leaf-rooted projection — a bare persist kept the
    # full near-jaccard lineage and PySpark re-analyzed it per reference,
    # measured ~1.5 s of driver work per invocation before the r15 leaf;
    # the wedge shuffle re-spreads past the leaf's frozen partitioning.
    e = _capped_edges_persisted(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("d"))
        .unionAll(e.select(F.col("v").alias("d")))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("dg"))
    )
    adj = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    n1 = adj.select(F.col("a"), F.col("b").alias("x"))
    n2 = adj.select(F.col("a"), F.col("b").alias("y"))
    cn = (
        n1.join(n2, "a")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("common_n"))
        .where(F.col("common_n") >= CN_MIN)
    )
    pred = cn.join(
        e,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    da = deg.select(F.col("d").alias("x"), F.col("dg").alias("deg_a"))
    db = deg.select(F.col("d").alias("y"), F.col("dg").alias("deg_b"))
    return (
        pred.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            "common_n",
            "deg_a",
            "deg_b",
            ratio(
                F.col("common_n"),
                F.col("deg_a") + F.col("deg_b") - F.col("common_n"),
            ).alias("nbr_jaccard"),
        )
    )
