"""Positional inverted index — the reference's raison d'être, Spark-first.

The reference builds this with a hand-written Hadoop MapReduce pipeline
(`/root/reference/src/main/scala/test/App.scala`): tokenize in ``map()``
(App.scala:150-169), in-mapper hash partial aggregation (App.scala:153-166),
combiner (App.scala:257), hash-partitioned shuffle with composite-key secondary
sort (App.scala:61,105-111), and a sort-based grouped reduce that assembles
``(word, array<(doc, positions)>)`` postings (App.scala:186-219).

Here the whole pipeline is four declarative DataFrame steps; Catalyst provides
the partial aggregation, exchange, and sort the reference hand-coded, and
Tungsten provides the serde it hand-wrote (App.scala:76-103). Intended
semantics, not the reference's bugs (SURVEY.md §2.C): positions are 0-based
token ordinals (fixes B4, App.scala:160) and grouping keys are real values,
not reused mutable singletons (fixes B1/B2/B6).

Scale notes (100 TB): term frequency is power-law — the nested-index build
groups by ``term`` whose hot keys (stopwords) skew the shuffle. AQE skew-join
handles joins; for the agg we rely on the two-level build (partial agg on
(term, doc_id) first, which is far better distributed) so the final per-term
groups carry one row per (term, doc) not one per occurrence. At cluster scale
the index sink should additionally be bucketed by ``term`` for co-located
lookups.

Build once, query many: the flat index is one persisted pin per input
(``caching.pin``, form ``"persist"``), so every consumer — the nested and
sharded indexes, ``doclen``, the search queries and the SQL views — reads
the pinned postings instead of re-scanning and re-tokenizing the corpus.
Beside it are pinned the per-document lengths (``doclen``) and the (term,
df) ``lexicon``, both persisted, and the BM25 corpus scalars
(``corpus_stats``, two Spark-computed doubles). ``tokenize`` pins only its
plan handle (form ``"plan"``): token rows are never persisted, because
fresh inputs (curation shards) reach it once each.

Each persisted index relation is also a temp view named per input,
``graft_<rel>_<sha1(sf_dir)[:12]>``, registered inside the pin's
own build, so a rebuilt pin re-registers its view. ``query_index`` runs one
parameterized ``spark.sql`` statement over those views: the search ops are
one statement each, with the query terms bound as ``args``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import spread, table
from ..registry import jsonify_complex, register

# Shared DuckDB tokenizer fragment (oracle side). Parity contract with
# `tokenize`: split on \s+, keep 0-based ordinals over the RAW split array,
# drop empty tokens AFTER enumeration (Java split drops trailing empties,
# DuckDB keeps them; both keep leading empties — filtering after enumeration
# makes ordinals identical on both engines).
TOK_SQL = """
tok AS (
    SELECT u.doc_id, CAST(u.pos AS INTEGER) AS pos, u.term
    FROM (
        SELECT doc_id,
               unnest(range(len(string_split_regex(lower(text), '\\s+')))) AS pos,
               unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ) u
    WHERE u.term <> ''
)
"""


def tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one row per (doc_id, pos, term); pos = 0-based ordinal.

    Generalizes App.scala:155 (``split("\\s")`` loop) + App.scala:154,160
    (position counter, with the B4 char-offset bug fixed to token ordinals).
    The plan handle is pinned per input; execution still reads the parquet.
    """
    return caching.pin(
        "tokenize", spark, sf_dir, lambda: _tokenize(spark, sf_dir), "plan"
    )


def _tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread off the single-row-group scan (guide §2.5): the explode and
    # everything Catalyst fuses above it — the (term, doc_id) partial aggs
    # of the index family, hash folds, bigram windows — otherwise run on
    # ONE task. Keyed on doc_id, so downstream doc_id-clustered consumers
    # (windows, per-doc aggs) REUSE this exchange instead of adding one.
    # Interleaved A/B at sf0.1: the flagship nested index reads ~20%
    # faster; no-op on a splittable source.
    docs = spread(
        spark,
        table(spark, sf_dir, "documents"),
        "doc_id",
        table_name="documents",
        sf_dir=sf_dir,
    )
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias("pos", "term"),
    ).where(F.col("term") != "")


def index_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat postings: (term, doc_id, positions sorted array<int>, tf).

    The reference's map-side product (App.scala:153-166) — one record per
    (word, doc) with its position list — as a hash aggregation. Catalyst
    runs it partial→final (the in-mapper-combining pattern, automatically).

    Persisted once per input (``caching.pin``): the first action builds it,
    every later consumer reads the cached postings. ``caching.clear(
    "index_flat")`` releases it.
    """
    return _pin_view(
        "index_flat", "flat", spark, sf_dir,
        lambda: _postings(tokenize(spark, sf_dir)),
    )


def _view(rel: str, sf_dir: str) -> str:
    """The temp view of pinned index relation ``rel`` for this input. One
    name per input, so A → B → A never reads another input's view."""
    return f"graft_{rel}_{hashlib.sha1(sf_dir.encode()).hexdigest()[:12]}"


def _pin_view(
    name: str, rel: str, spark: SparkSession, sf_dir: str, build
) -> DataFrame:
    """Persisted pin whose build also registers the relation's view. The
    view holds the plan the pin persists, so Spark's CacheManager serves
    every statement over it from the cached rows."""

    def registered() -> DataFrame:
        df = build()
        df.createOrReplaceTempView(_view(rel, sf_dir))
        return df

    return caching.pin(name, spark, sf_dir, registered, "persist")


def _postings(toks: DataFrame) -> DataFrame:
    """token rows → (term, doc_id, positions, tf), one row per (term, doc)."""
    return toks.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count("*").alias("tf"),
    )


def index_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: nested inverted index (term, postings, df).

    postings = array<struct<doc_id, positions>> sorted by doc_id — exactly the
    reducer output shape of App.scala:188-218, with document frequency added.
    The secondary sort the reference needed the shuffle to provide
    (TextPair.compareTo, App.scala:105-111) is `sort_array` inside the agg.
    """
    return (
        index_flat(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "positions"))).alias(
                "postings"
            ),
            F.countDistinct("doc_id").alias("df"),
        )
    )


def doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count — the App.scala:168 TODO, implemented.
    Σ tf over the pinned postings: the flat index groups exactly the token
    rows, so the rows equal a count over ``tokenize``. Persisted once per
    input; the per-doc aggregation keeps the postings' doc_id partitioning,
    so joins of the two on doc_id need no exchange."""
    return _pin_view(
        "doclen", "doclen", spark, sf_dir,
        lambda: index_flat(spark, sf_dir).groupBy("doc_id").agg(
            F.sum("tf").alias("dl")
        ),
    )


def lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df), persisted once per input: one flat-index row per (term,
    doc), so count(*) per term IS its document frequency. Coalesced to the
    session's parallelism: every read of a pin runs a task per partition,
    and the shuffle-partition count would be ~8× that here."""
    return _pin_view(
        "lexicon", "lexicon", spark, sf_dir,
        lambda: index_flat(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .coalesce(spark.sparkContext.defaultParallelism),
    )


def corpus_stats(spark: SparkSession, sf_dir: str) -> tuple:
    """(n_docs, avgdl) as doubles computed by Spark over ``doclen`` — the
    BM25 corpus scalars, bound into the scoring statement as parameters
    (avgdl is None on an empty corpus)."""

    def build() -> tuple:
        row = doclen(spark, sf_dir).agg(
            F.count("*").cast("double"), F.avg(F.col("dl").cast("double"))
        ).first()
        return row[0], row[1]

    return caching.pin("corpus_stats", spark, sf_dir, build, "plan")


# The persisted index pins, dependents first.
INDEX_PINS = ("doclen", "lexicon", "index_flat")
_VIEWS = {"flat": index_flat, "doclen": doclen, "lexicon": lexicon}


def clear_index() -> None:
    """Release every persisted index pin, so the next consumer times a
    build instead of a read of the pin."""
    for name in INDEX_PINS:
        caching.clear(name)


def query_index(
    spark: SparkSession, sf_dir: str, text: str, **args
) -> DataFrame:
    """One parameterized statement over this input's index views: each
    ``{flat}``, ``{doclen}`` or ``{lexicon}`` in ``text`` becomes the
    relation's view, and ``args`` bind the statement's ``:name`` markers.
    The pin accessor of every named view runs first, so a cleared or stale
    pin is rebuilt, and its view re-registered, before the statement
    resolves the name. Pinned frames reach ``spark.sql`` only by view name,
    never as keyword DataFrames, which PySpark uncaches on return (see
    ``caching``)."""
    names = {}
    for rel, pinned in _VIEWS.items():
        if "{" + rel + "}" in text:
            pinned(spark, sf_dir)
            names[rel] = _view(rel, sf_dir)
    return spark.sql(text.format(**names), args=args)


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word count — the commented-out legacy op (App.scala:206-222)."""
    return tokenize(spark, sf_dir).groupBy("term").agg(F.count("*").alias("cnt"))


N_SALTS = 16


def wordcount_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count with EXPLICIT two-stage salted aggregation — the documented
    hot-key mitigation for the index build at 100 TB (SURVEY.md §4.2 "skew
    handling"): term frequency is power-law, so a single groupBy(term) sends
    every occurrence of a stopword to one reducer. Stage 1 groups by
    (term, salt) — salt = deterministic hash of the occurrence's position —
    splitting each hot key across N_SALTS partitions; stage 2 sums the ≤16
    partial counts per term. Identical result (EXACT oracle shared with
    text_wordcount); the second shuffle carries ≤N_SALTS rows per distinct
    term instead of one row per occurrence.

    Note Spark's own partial aggregation gives map-side combining for free;
    explicit salting matters when hot-key PARTIAL results still overwhelm
    single reducers (e.g. collect_list payloads) — demonstrated here on the
    countable case where the oracle can prove equivalence."""
    toks = tokenize(spark, sf_dir)
    salted = toks.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("term", "salt").agg(F.count("*").alias("pc"))
    return partial.groupBy("term").agg(F.sum("pc").alias("cnt"))


register(
    "text_tokenize",
    oracle=f"WITH {TOK_SQL} SELECT doc_id, pos, term FROM tok",
)(tokenize)

register(
    "text_index_flat",
    oracle=f"""
    WITH {TOK_SQL}
    SELECT term, doc_id,
           to_json(list(pos ORDER BY pos))::VARCHAR AS positions,
           count(*) AS tf
    FROM tok GROUP BY term, doc_id
    """,
)(lambda spark, sf_dir: jsonify_complex(index_flat(spark, sf_dir)))

register(
    "text_index_nested",
    oracle=f"""
    WITH {TOK_SQL},
    flat AS (
        SELECT term, doc_id, list(pos ORDER BY pos) AS positions
        FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           to_json(list(struct_pack(doc_id := doc_id, positions := positions)
                ORDER BY doc_id))::VARCHAR AS postings,
           count(DISTINCT doc_id) AS df
    FROM flat GROUP BY term
    """,
)(lambda spark, sf_dir: jsonify_complex(index_nested(spark, sf_dir)))

N_POSTING_SHARDS = 8

# `index_sharded` as statement text over the flat view; a term filter on top
# of it pushes below the aggregate
SHARDED_SQL = f"""
SELECT term, CAST(pmod(doc_id, {N_POSTING_SHARDS}) AS INT) AS shard,
       sort_array(collect_list(struct(doc_id, positions))) AS postings,
       count(DISTINCT doc_id) AS df_shard
FROM {{flat}}
GROUP BY 1, 2
"""


def index_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-sharded nested index: `(term, shard, postings, df_shard)`
    with shard = doc_id mod N_POSTING_SHARDS — the posting-list sharding
    every production search engine applies to stopword-class terms
    (Lucene/ES call it document partitioning).

    Why it exists (round-12 skew study, BASELINE.md): `text_index_nested`
    keys its final collect on `term` alone, so a hot term's entire
    postings array — ~50k doc entries when one term carries 15% of a
    corpus — is assembled by ONE reduce task (measured: 1.2 s max task of
    a 2.5 s wall, the one straggler partial aggregation cannot absorb and
    value-salting cannot shrink, because the output ROW is the payload).
    Sharding the KEY bounds every reduce group at ~1/N of the hottest
    term's postings, restoring level tasks; a term lookup reads N small
    rows instead of one huge one (`array_union`-style concat or a
    per-shard scatter-gather — the consumer shape search engines already
    have). Same information content as the nested index: the union of a
    term's shards IS its postings list (pinned by pytest).

    EXACT oracle: the same GROUP BY with the shard key. The Spark side
    shards with F.pmod (non-negative by construction — the right key for
    bucketing), so the oracle uses the pmod-style ((doc_id % N) + N) % N
    rather than DuckDB's sign-preserving bare `%` (ADVICE r12: the two
    diverge on negative ids; fixture ids are non-negative, but the parity
    contract should not depend on that invariant)."""
    return query_index(spark, sf_dir, SHARDED_SQL)


register(
    "text_index_sharded",
    oracle=f"""
    WITH {TOK_SQL},
    flat AS (
        SELECT term, doc_id, list(pos ORDER BY pos) AS positions
        FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           CAST(((doc_id % {N_POSTING_SHARDS}) + {N_POSTING_SHARDS})
                % {N_POSTING_SHARDS} AS INTEGER) AS shard,
           to_json(list(struct_pack(doc_id := doc_id, positions := positions)
                ORDER BY doc_id))::VARCHAR AS postings,
           count(DISTINCT doc_id) AS df_shard
    FROM flat
    GROUP BY term,
             CAST(((doc_id % {N_POSTING_SHARDS}) + {N_POSTING_SHARDS})
                  % {N_POSTING_SHARDS} AS INTEGER)
    """,
)(lambda spark, sf_dir: jsonify_complex(index_sharded(spark, sf_dir)))


def index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the operational path for a 100 TB
    index: a base flat index (docs below the split) and a DELTA flat index
    (new docs) are merged into the same nested shape WITHOUT re-tokenizing
    the base corpus. Because the flat index is keyed by (term, doc_id) and a
    doc lives wholly in one batch, the merge is `unionByName` + the same
    final groupBy(term) — postings arrays never need repair. In production
    the base side is the stored parquet/bucketed index (here rebuilt from
    the fixture for determinism) and only the delta pays tokenization.
    EXACT oracle: the merged index must equal the from-scratch index over
    the full corpus (`text_index_nested`'s own oracle)."""
    split = 250  # fixture corpora are 500 docs at every SF
    base = index_flat(spark, sf_dir).where(F.col("doc_id") < split)
    delta = _postings(tokenize(spark, sf_dir).where(F.col("doc_id") >= split))
    return (
        base.unionByName(delta)
        .groupBy("term")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "positions"))).alias(
                "postings"
            ),
            F.countDistinct("doc_id").alias("df"),
        )
    )


register(
    "text_index_incremental",
    oracle=f"""
    WITH {TOK_SQL},
    flat AS (
        SELECT term, doc_id, list(pos ORDER BY pos) AS positions
        FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           to_json(list(struct_pack(doc_id := doc_id, positions := positions)
                ORDER BY doc_id))::VARCHAR AS postings,
           count(DISTINCT doc_id) AS df
    FROM flat GROUP BY term
    """,
)(lambda spark, sf_dir: jsonify_complex(index_incremental(spark, sf_dir)))

register(
    "text_doclen",
    oracle=f"WITH {TOK_SQL} SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id",
)(doclen)

register(
    "text_wordcount",
    oracle=f"WITH {TOK_SQL} SELECT term, count(*) AS cnt FROM tok GROUP BY term",
)(wordcount)

register(
    "text_wordcount_salted",
    oracle=f"WITH {TOK_SQL} SELECT term, count(*) AS cnt FROM tok GROUP BY term",
)(wordcount_salted)
