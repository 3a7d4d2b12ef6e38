"""LLM-pipeline ops: dedup idempotence/recall, sketch accuracy, ANN recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdu_hadoop_indexer_spark import caching
from sdu_hadoop_indexer_spark.catalog import table
from sdu_hadoop_indexer_spark.llm import dedup, similarity


def test_dedup_exact_idempotent(spark, sf_dir):
    """dedup(dedup(x)) == dedup(x): keepers are unique by hash."""
    d1 = dedup.dedup_exact(spark, sf_dir)
    assert d1.count() == d1.select("text_hash").distinct().count()
    # every keeper is a real doc_id
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert (
        d1.join(docs, d1.keeper == docs.doc_id, "left_anti").count() == 0
    )


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH candidates must recover ≥90% of true τ=0.9 Jaccard pairs.

    With 4 bands × 4 rows, P(candidate | s=0.9) = 1-(1-0.9^4)^4 ≈ 0.98.
    """
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_near_jaccard(spark, sf_dir).collect()
    }
    cand = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    if truth:
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9"


def test_minhash_cluster_covers_true_pairs(spark, sf_dir):
    """Connected-components clustering: every true τ=0.9 Jaccard pair whose
    docs share an LSH bucket must land in ONE cluster, and the assignment is
    a valid partition (every doc labeled, rep ≤ all members)."""
    clusters = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_minhash_cluster(spark, sf_dir).collect()
    }
    cand = {
        (r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    # candidate pairs (bucket-cohabitants) are by construction connected
    for a, b in cand:
        assert clusters[a] == clusters[b], f"pair ({a},{b}) split across clusters"
    # representative is a member of its own cluster and the minimum
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert set(clusters) == {r.doc_id for r in docs.select("doc_id").collect()}
    for d, rep in clusters.items():
        assert rep <= d
        assert clusters[rep] == rep, "representative must map to itself"


def test_simhash_deterministic_and_64bit(spark, sf_dir):
    a = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    b = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    assert a == b  # deterministic across runs/partitionings
    assert all(isinstance(v, int) for v in a.values())


def test_hll_within_5pct_of_exact(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in __import__(
            "sdu_hadoop_indexer_spark.operators.aggregates", fromlist=["x"]
        )
        .agg_approx_distinct(spark, sf_dir)
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n <= 0.05


def test_lsh_topk_results_are_true_neighbors_subset(spark, sf_dir):
    """Every LSH top-k hit must appear in the brute-force candidate scoring
    with the same cosine (it's a pruned subset, not an approximation of the
    scores themselves)."""
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk_search(spark, sf_dir).collect()
    }
    # recompute full brute-force (unpruned) map for score lookup
    lsh = similarity.sim_topk_lsh(spark, sf_dir).collect()
    assert lsh  # buckets nonempty at this SF
    for r in lsh:
        if (r.query_id, r.neighbor_id) in brute:
            assert abs(brute[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_ivf_topk_scores_and_shape(spark, sf_dir):
    """IVF results: ≤k correctly-ranked rows per query, and every returned
    cosine must equal the brute-force cosine for that pair (the quantizer
    changes WHICH candidates are scanned, never the scoring)."""
    ivf = similarity.sim_topk_ivf(spark, sf_dir).collect()
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk_search(spark, sf_dir).collect()
    }
    # exhaustive pair cosines for verification
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ce"))
    allcos = {
        (r.qid, r.nid): r.cos
        for r in q.crossJoin(c)
        .select("qid", "nid", F.round(similarity._cosine("qe", "ce"), 4).alias("cos"))
        .collect()
    }
    per_query: dict[int, list] = {}
    for r in ivf:
        per_query.setdefault(r.query_id, []).append(r)
        assert allcos[(r.query_id, r.neighbor_id)] == r.cosine
    for qid, rows in per_query.items():
        assert len(rows) <= similarity.TOP_K
        ranked = sorted(rows, key=lambda r: (-r.cosine, r.neighbor_id))
        assert [r.rn for r in ranked] == list(range(1, len(rows) + 1))
    # soft recall: probing 2/8 cells should still recover some true top-k
    hits = sum(1 for key in brute if key in allcos and any(
        (r.query_id, r.neighbor_id) == key for r in ivf))
    assert hits >= 1


def test_centroid_row_shape(spark, sf_dir):
    rows = similarity.sim_label_centroid(spark, sf_dir)
    dims = rows.groupBy("label").agg(F.count("*").alias("n")).collect()
    assert all(r.n == 64 for r in dims)  # one row per dimension per label


def test_embedding_cosine_dedup_pairs(spark, sf_dir):
    """Threshold near-dup pairs: each pair unique with va < vb, every cosine
    >= tau, and the set agrees with a brute-force crossJoin recomputation."""
    from sdu_hadoop_indexer_spark.llm import dedup

    rows = dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    assert rows, "fixture must contain pairs above tau"
    seen = set()
    for r in rows:
        assert r.va < r.vb
        assert r.cosine >= dedup.COSINE_DUP_TAU
        assert (r.va, r.vb) not in seen
        seen.add((r.va, r.vb))

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    brute = {
        (r.va, r.vb)
        for r in a.crossJoin(b)
        .where(F.col("va") < F.col("vb"))
        .select(
            "va", "vb", F.round(similarity._cosine("ea", "eb"), 4).alias("c")
        )
        .where(F.col("c") >= dedup.COSINE_DUP_TAU)
        .collect()
    }
    assert seen == brute


def test_curation_pipeline_gates(spark, sf_dir):
    """Every surviving doc passes all three gates and no two survivors share
    a content fingerprint."""
    from sdu_hadoop_indexer_spark.llm import curation
    from sdu_hadoop_indexer_spark.text.analysis import fingerprint

    rows = curation.curation_pipeline(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_tokens >= curation.MIN_TOKENS
        assert r.uniq_ratio >= curation.MIN_UNIQ_RATIO
    ids = [r.doc_id for r in rows]
    fps = {
        r.doc_id: r.fingerprint
        for r in fingerprint(spark, sf_dir).where(F.col("doc_id").isin(ids)).collect()
    }
    survived = [fps[i] for i in ids]
    assert len(survived) == len(set(survived)), "duplicate fingerprints survived"


def test_split_holdout_deterministic_and_stable(spark, sf_dir):
    """Same assignment on repeated runs; every doc assigned; holdout fraction
    in a sane band for the salt; assignment unaffected by filtering (no
    dependence on the surrounding dataset)."""
    from sdu_hadoop_indexer_spark.llm.curation import split_holdout

    a = {r.doc_id: r.split for r in split_holdout(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in split_holdout(spark, sf_dir).collect()}
    assert a == b
    assert set(a.values()) <= {"train", "holdout"}
    frac = sum(1 for v in a.values() if v == "holdout") / len(a)
    assert 0.0 <= frac <= 0.15  # E≈3.9%, wide band for a 500-doc fixture

    # subset invariance: computing on half the docs gives identical labels
    half = (
        split_holdout(spark, sf_dir)
        .where(F.col("doc_id") % 2 == 0)
        .collect()
    )
    assert all(a[r.doc_id] == r.split for r in half)


def test_pack_sequences_contiguous(spark, sf_dir):
    """Packing is a contiguous token layout per source shard: offsets line up
    end-to-end with no gaps or overlaps, and every offset < budget."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = (
        curation.pack_sequences(spark, sf_dir)
        .orderBy("source", "doc_id")
        .collect()
    )
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, docs in by_src.items():
        pos = 0
        for r in docs:
            assert 0 <= r.pack_offset < curation.PACK_BUDGET
            assert r.pack_id * curation.PACK_BUDGET + r.pack_offset == pos
            pos += r.n_tokens


def test_stratified_sample_rates(spark, sf_dir):
    """Observed per-stratum keep rates must track the configured rates, and
    the assignment must be deterministic across invocations."""
    from sdu_hadoop_indexer_spark.llm import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    s1 = curation.sample_stratified(spark, sf_dir)
    kept = {r.lang: r.cnt for r in s1.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, total in totals.items():
        rate = curation.STRATUM_RATES.get(lang, curation.DEFAULT_RATE)
        got = kept.get(lang, 0) / total
        # md5 is uniform; 3σ binomial tolerance on small strata
        tol = 3 * (rate * (1 - rate) / total) ** 0.5
        assert abs(got - rate) <= max(tol, 0.05), (lang, got, rate, tol)
    assert {tuple(r) for r in s1.collect()} == {
        tuple(r) for r in curation.sample_stratified(spark, sf_dir).collect()
    }


def test_contamination_bounds_and_holdout_excluded(spark, sf_dir):
    """Contamination fraction ∈ [0,1], n_shared ≤ n_shingles, and no holdout
    doc appears in the audited (train) output."""
    from sdu_hadoop_indexer_spark.llm import curation

    out = curation.contamination_check(spark, sf_dir)
    bad = out.where(
        (F.col("n_shared") > F.col("n_shingles"))
        | (F.col("contamination_frac") < 0)
        | (F.col("contamination_frac") > 1)
    )
    assert bad.count() == 0
    holdout = {
        r.doc_id
        for r in curation.split_holdout(spark, sf_dir)
        .where("split = 'holdout'")
        .collect()
    }
    assert holdout, "split produced no holdout docs at this sf"
    assert not holdout & {r.doc_id for r in out.select("doc_id").collect()}


def test_quantize_int8_error_bound(spark, sf_dir):
    """Hard guarantee of symmetric int8 quantization: max reconstruction
    error ≤ scale/254 (half a quantization step)."""
    from sdu_hadoop_indexer_spark.llm import similarity

    rows = similarity.sim_quantize_int8(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.scale > 0
        # +1e-6: both reported values are rounded to 6dp in the query
        assert r.max_err <= r.scale / 254 + 1e-6, (r.vec_id, r.max_err, r.scale)


def test_pii_redact_removes_all_matches(spark, sf_dir):
    """After redaction no email or 3+-digit run survives, and every
    constructed line had exactly one email."""
    from sdu_hadoop_indexer_spark.llm import curation

    out = curation.pii_redact(spark, sf_dir)
    residual = out.where(
        F.col("redacted").rlike(curation.EMAIL_RE)
        | F.col("redacted").rlike(curation.LONGNUM_RE)
    ).count()
    assert residual == 0
    assert out.where(F.col("n_emails") != 1).count() == 0


def test_blocklist_filter_threshold_and_complement(spark, sf_dir):
    """Every kept doc is under the threshold and kept+dropped == corpus."""
    from sdu_hadoop_indexer_spark.llm import curation

    kept = curation.blocklist_filter(spark, sf_dir)
    assert kept.where(F.col("blocked_frac") > curation.MAX_BLOCKED_FRAC).count() == 0
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0 < kept.count() < total  # the gate actually drops something


def test_quality_lr_score_bounds_and_tier(spark, sf_dir):
    """Sigmoid output in (0,1); tier is exactly the 0.5 cut of the score."""
    from sdu_hadoop_indexer_spark.llm import curation

    out = curation.quality_lr(spark, sf_dir)
    assert out.where((F.col("quality_score") <= 0) | (F.col("quality_score") >= 1)).count() == 0
    bad = out.where(
        ((F.col("quality_score") >= 0.5) & (F.col("tier") != "keep"))
        | ((F.col("quality_score") < 0.5) & (F.col("tier") != "drop"))
    ).count()
    # rounding at exactly .5 boundary aside, tiers must match the cut
    assert bad == 0


def test_domain_quota_cap_and_ordering(spark, sf_dir):
    """No source exceeds the quota and kept docs are that source's longest."""
    from sdu_hadoop_indexer_spark.llm import curation

    out = curation.domain_quota(spark, sf_dir)
    over = (
        out.groupBy("source")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > curation.SOURCE_QUOTA)
        .count()
    )
    assert over == 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # every non-kept doc is no longer than the shortest kept doc of its source
    shortest_kept = out.groupBy("source").agg(F.min("n_chars").alias("min_kept"))
    dropped = docs.join(out.select("doc_id"), "doc_id", "left_anti")
    bad = (
        dropped.join(shortest_kept, "source")
        .where(F.col("n_chars") > F.col("min_kept"))
        .count()
    )
    assert bad == 0


def test_containment_is_asymmetric_and_superset_of_identity(spark, sf_dir):
    """Containment must (a) include both directions for identical token
    sets, (b) match a brute-force pandas set computation exactly on the
    ratio, and (c) bound every Jaccard >= tau pair's SMALLER side (J >= tau
    implies containment of the smaller set >= tau)."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        dedup_containment,
        dedup_near_jaccard,
        _token_sets,
    )

    rows = dedup_containment(spark, sf_dir).collect()
    assert rows
    got = {(r.doc_a, r.doc_b): r.containment for r in rows}
    sets = {
        r.doc_id: set(r.toks)
        for r in _token_sets(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_set("term").alias("toks"))
        .collect()
    }
    import random

    rnd = random.Random(7)
    for (a, b), c in rnd.sample(sorted(got.items()), min(200, len(got))):
        inter = len(sets[a] & sets[b])
        assert inter / len(sets[a]) >= 0.9
        assert abs(c - round(inter / len(sets[a]), 4)) < 5e-4
    # identical sets appear in both directions
    both = [(a, b) for (a, b) in got if sets[a] == sets[b]]
    for a, b in both[:50]:
        assert (b, a) in got
    # J >= tau pairs: the smaller side is contained
    jac = dedup_near_jaccard(spark, sf_dir).limit(500).collect()
    for r in jac:
        small, big = sorted((r.doc_a, r.doc_b), key=lambda d: len(sets[d]))
        assert (small, big) in got or (big, small) in got


def test_paragraph_dedup_conservation_and_first_wins(spark, sf_dir):
    """Chunk conservation: sum(n_chunks) == total distinct (doc, chunk_id)
    pairs; the corpus-wide first occurrence of every chunk text is KEPT
    (sum of drops == duplicates beyond first); keep_ratio in (0, 1]."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        PARA_TOKENS,
        text_paragraph_dedup,
    )
    from sdu_hadoop_indexer_spark.text.indexer import tokenize

    df = text_paragraph_dedup(spark, sf_dir).cache()
    try:
        tot = df.agg(
            F.sum("n_chunks").alias("c"), F.sum("n_dropped").alias("d")
        ).first()
        chunks = (
            tokenize(spark, sf_dir)
            .withColumn("cid", F.expr(f"pos div {PARA_TOKENS}"))
            .groupBy("doc_id", "cid")
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
        n_chunks = chunks.count()
        n_distinct = chunks.select("chunk").distinct().count()
        assert tot.c == n_chunks
        assert tot.d == n_chunks - n_distinct  # every dup beyond first drops
        # keep_ratio = 0 is legitimate: every chunk of the doc already
        # appeared earlier in the corpus (fully-duplicated document)
        assert df.where("keep_ratio < 0 OR keep_ratio > 1").count() == 0
    finally:
        df.unpersist()


def test_bigram_ppl_bounds_and_smoothing(spark, sf_dir):
    """Perplexity must be >= 1, finite everywhere (add-one smoothing: no
    zero-prob bigram), docs with < 2 tokens excluded, and n_bigrams ==
    n_tokens - 1 per included doc."""
    from sdu_hadoop_indexer_spark.llm.curation import bigram_ppl

    df = bigram_ppl(spark, sf_dir).cache()
    try:
        assert df.count() > 0
        assert df.where("ppl < 1.0 OR isnan(ppl) OR ppl IS NULL").count() == 0
        assert df.where("avg_neg_logprob < 0").count() == 0
        toks = (
            table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.size(
                    F.filter(
                        F.split(F.lower("text"), r"\s+"), lambda x: x != ""
                    )
                ).alias("n"),
            )
        )
        j = df.join(toks, "doc_id")
        assert j.where("n_bigrams != n - 1").count() == 0
        assert df.count() == toks.where("n >= 2").count()
    finally:
        df.unpersist()


def test_triangle_orientation_shrinks_wedges(spark, sf_dir):
    """Degree-ordered orientation (VERDICT r5 item 6) must examine fewer
    wedge-join rows than the naive u<v orientation on the fixture graph,
    while the triangle count stays orientation-invariant (the oracle pins
    that side)."""
    e, es = dedup._capped_oriented_edges(spark, sf_dir)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    naive = e1.join(e2, "b").count()
    w1 = es.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_dg").alias("b_dg")
    )
    w2 = es.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_dg").alias("c_dg")
    )
    ordered = w1.join(w2, "a").where(F.struct("b_dg", "b") < F.struct("c_dg", "c")).count()
    assert ordered < naive  # 15 vs 30 at sf0.001


def test_graph_edge_pin_is_shared_and_canonical(spark, sf_dir):
    """Round-9 staged-pin contract: (a) the oriented edge memo returns the
    SAME persisted relation across calls (one pin per (app, sf) — no
    per-call copies accumulating in a long session), (b) the canonical
    form derived from it is exactly the capped u<v edge set the builder
    produces directly (orientation is a permutation of each edge), and
    (c) every derived row satisfies u < v."""
    es1 = dedup._capped_oriented_persisted(spark, sf_dir)
    es2 = dedup._capped_oriented_persisted(spark, sf_dir)
    assert es1 is es2
    e = dedup._capped_edges_persisted(spark, sf_dir)
    assert e.where(F.col("u") >= F.col("v")).count() == 0
    direct = dedup._capped_oriented_edges(spark, sf_dir)[0]
    assert (
        e.exceptAll(direct).count() == 0
        and direct.exceptAll(e).count() == 0
    )


def test_lattice_exact_topk_memoized_and_bounded(spark, sf_dir):
    """The shared PQ-gate ground truth: one pin per (app, sf), exactly
    TOP_K rows per query for all N_QUERIES queries, no duplicates."""
    t1 = similarity._lattice_exact_topk(spark, sf_dir)
    t2 = similarity._lattice_exact_topk(spark, sf_dir)
    assert t1 is t2
    per = t1.groupBy("query_id").count().collect()
    assert len(per) == similarity.N_QUERIES
    assert all(r["count"] == similarity.TOP_K for r in per)
    assert t1.distinct().count() == t1.count()


def test_orient_by_degree_bounds_hub_fanout(spark):
    """Synthetic mid-id hub: star center 50 connected to leaves 0..99 (plus
    one leaf-leaf edge to keep degrees distinct). Naive u<v orientation
    gives the hub ~50 in- and ~50 out-edges → ~2500 fruitless wedge rows;
    degree orientation points every spoke AT the hub → zero hub wedges."""
    edges = [(min(i, 50), max(i, 50)) for i in range(100) if i != 50]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    es = dedup.orient_edges_by_degree(df)
    # every spoke must orient leaf -> hub (hub has max degree)
    assert es.where(F.col("dst") != 50).count() == 0
    # hub out-degree 0 => no wedge has the hub as pivot
    w1 = es.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_dg").alias("b_dg")
    )
    w2 = es.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_dg").alias("c_dg")
    )
    ordered = w1.join(w2, "a").where(F.struct("b_dg", "b") < F.struct("c_dg", "c")).count()
    assert ordered == 0
    e1 = df.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = df.select(F.col("u").alias("b"), F.col("v").alias("c"))
    assert e1.join(e2, "b").count() == 50 * 49  # the naive quadratic blowup


def test_near_jaccard_broadcast_gate_both_plan_shapes(spark, sf_dir):
    """VERDICT r5 item 3: the doc→token-array broadcast hint must be
    size-gated. Below the session broadcast threshold the verify join is a
    BroadcastHashJoin; above it (threshold forced tiny) the hint is
    omitted and the join degrades to a shuffle join — same rows either
    way, never a forced corpus-sized broadcast."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    # drop any memoized copy: plan canonicalization ignores hints, so the
    # CacheManager would substitute the pinned (hinted) relation into BOTH
    # fresh builds and the plan text would show its stored hinted plan.
    caching.clear("near_jaccard")
    assert dedup._arrs_fits_broadcast(spark, sf_dir)
    plan_b = dedup._near_jaccard_build(spark, sf_dir)
    assert "BroadcastHashJoin" in plan_b._jdf.queryExecution().executedPlan().toString()
    rows_b = plan_b.count()
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        assert not dedup._arrs_fits_broadcast(spark, sf_dir)
        plan_s = dedup._near_jaccard_build(spark, sf_dir)
        txt = plan_s._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in txt
        assert "SortMergeJoin" in txt or "ShuffledHashJoin" in txt
        assert plan_s.count() == rows_b  # identical result under both shapes
    finally:
        spark.conf.set(key, old)


def test_est_quality_broadcast_gate_sums_row_width(spark, sf_dir):
    """The fused est_quality side row carries BOTH the 256 B signature and
    the token array, so its broadcast gate must sum the two widths: at a
    threshold each part fits alone but the sum does not, the side joins
    must not broadcast — the plan keeps only the candidate pipeline's own
    broadcasts."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    sig = dedup._table_rows(sf_dir, "documents") * 256
    arrs = dedup._arrs_bytes(sf_dir)
    old = spark.conf.get(key)

    def bhj(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("BroadcastHashJoin")

    try:
        spark.conf.set(key, str(max(sig, arrs)))
        assert bhj(dedup.dedup_minhash_est_quality(spark, sf_dir)) == bhj(
            dedup.dedup_minhash_lsh(spark, sf_dir)
        )
        spark.conf.set(key, str(sig + arrs))
        assert bhj(dedup.dedup_minhash_est_quality(spark, sf_dir)) == 2 + bhj(
            dedup.dedup_minhash_lsh(spark, sf_dir)
        )
    finally:
        spark.conf.set(key, old)


def test_near_jaccard_memoized_per_sf(spark, sf_dir):
    """The verified τ=0.9 edge relation is pinned once per (app, sf_dir) so
    its composers (triangle count, LSH quality eval) reuse it instead of
    re-running the candidate-verify pipeline (VERDICT r5 item 2)."""
    a = dedup.dedup_near_jaccard(spark, sf_dir)
    b = dedup.dedup_near_jaccard(spark, sf_dir)
    assert a is b
    # since r16 the pin is stored as a checkpoint LEAF staged inside the
    # build (no second persist stacked on the blocks — ADVICE r15), so
    # storage shows up as the RDD-leaf plan rather than a storageLevel
    plan = a._jdf.queryExecution().analyzed().toString()
    stored = (
        a.storageLevel.useMemory
        or a.storageLevel.useDisk
        or "LogicalRDD" in plan
        or "ExistingRDD" in plan
    )
    assert stored


def test_ann_pairs_recall_gate_and_exact_scores(spark, sf_dir):
    """The ANN pair miner (VERDICT r5 item 4) must recover a pinned floor of
    the exact top-20 pairs on the adversarial near-random fixture (measured
    0.35 at sf0.001, 0.50 at sf0.01/0.1 — θ≈60° targets, the worst regime
    for angular LSH), and every pair it DOES return must carry the exact
    brute-force cosine (LSH changes which pairs are scanned, never scores)."""
    row = similarity.sim_pairs_recall_eval(spark, sf_dir).collect()[0]
    assert row.k_exact == 20
    assert row.recall >= 0.3, f"ANN pair recall {row.recall} < 0.3"
    exact = {
        (r.va, r.vb): r.cosine
        for r in similarity.sim_nearest_pairs(spark, sf_dir).collect()
    }
    for r in similarity.sim_nearest_pairs_ann(spark, sf_dir).collect():
        if (r.va, r.vb) in exact:
            assert abs(exact[(r.va, r.vb)] - r.cosine) < 1e-9


def test_ann_pairs_candidate_reduction(spark, sf_dir):
    """The banded buckets must actually prune: candidate pairs (any shared
    band bucket) stay under 25% of all N·(N-1)/2 pairs even on the
    near-random fixture (measured ≈16%; real near-dup corpora prune far
    harder — the docstring derives ≈1.5% at duplicate cosine 0.8)."""
    bands = similarity._pair_bands(spark, sf_dir)
    a = bands.select(F.col("vec_id").alias("va"), "band_idx", "bucket")
    b = bands.select(F.col("vec_id").alias("vb"), "band_idx", "bucket")
    n = table(spark, sf_dir, "embeddings").count()
    cand = (
        a.join(b, ["band_idx", "bucket"])
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
        .count()
    )
    assert cand < 0.25 * n * (n - 1) / 2, f"{cand} candidates of {n} vectors"


def test_embedding_ann_is_exact_scored_subset(spark, sf_dir):
    """Every pair the ANN embedding dedup emits must ALSO be in the exact
    blocked all-pairs set with the same cosine (LSH changes which pairs are
    scanned, never scores or the τ test), and its recall gate must report
    the pinned floor (measured 0.45 at sf0.001 on the near-random fixture)."""
    exact = {
        (r.va, r.vb): r.cosine
        for r in dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    ann = dedup.dedup_embedding_ann(spark, sf_dir).collect()
    assert ann
    for r in ann:
        assert (r.va, r.vb) in exact
        assert abs(exact[(r.va, r.vb)] - r.cosine) < 1e-9
    row = dedup.dedup_embedding_ann_eval(spark, sf_dir).collect()[0]
    assert row.n_exact == len(exact)
    assert row.n_hit == len(ann)
    assert row.recall >= 0.4


def test_minhash_incremental_matches_lsh_cross_slice(spark, sf_dir):
    """The incremental dedup's (new_doc, dup_of) set must equal exactly the
    `dedup_minhash_lsh` candidate pairs with ONE endpoint in the new-batch
    slice (doc_id % INC_MOD == 0) — same band buckets, restricted join."""
    inc = {
        (min(r.new_doc, r.dup_of), max(r.new_doc, r.dup_of))
        for r in dedup.dedup_minhash_incremental(spark, sf_dir).collect()
    }
    for a, b in inc:
        assert (a % dedup.INC_MOD == 0) != (b % dedup.INC_MOD == 0)
    lsh_cross = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
        if (r.doc_a % dedup.INC_MOD == 0) != (r.doc_b % dedup.INC_MOD == 0)
    }
    assert inc == lsh_cross


def test_embedding_ann_recall_high_on_clustered_corpus(spark, tmp_path):
    """The docstrings claim the 10×6 banding is only weak on the adversarial
    near-random fixture and clears ≥0.9 recall at real near-dup cosines
    (≥0.8). Prove it: plant 100 true near-dups (cosine ≈0.95) among 300
    random 64-dim vectors, run the SAME registered operators on the
    synthetic corpus, and require recall ≥0.9 with a candidate set far
    below all-pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 256-dim: random-pair cosine std is 1/16, so nothing random crosses
    # τ=0.35 (≈5.6σ) and the exact set is exactly the planted pairs — at
    # 64 dims τ is only ≈2.8σ and ~160 borderline random pairs (the
    # adversarial regime) would dominate the denominator.
    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 256))
    dup_src = base[:100]
    dups = dup_src + 0.3 * rng.standard_normal((100, 256))  # cosine ≈0.96
    vecs = np.vstack([base, dups]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)

    exact = {
        (r.va, r.vb) for r in dedup.dedup_embedding_cosine(spark, d).collect()
    }
    assert len(exact) >= 90  # the planted pairs dominate the τ=0.35 set
    ann = {(r.va, r.vb) for r in dedup.dedup_embedding_ann(spark, d).collect()}
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.9, f"clustered-corpus recall {recall:.3f} < 0.9"
    # and the candidate generator still prunes: scored candidates stay well
    # under the 400·399/2 all-pairs space
    n_cand = similarity.ann_scored_pairs(spark, d).count()
    assert n_cand < 0.5 * 400 * 399 / 2


def test_minhash_estimator_quality_invariants(spark, sf_dir):
    """Sketch-accuracy QA (round 6): estimates are multiples of 1/16,
    identical token sets estimate exactly 1.0 with zero error, and the
    mean absolute estimator error over LSH candidates stays inside the
    ~1/sqrt(16) MinHash error regime."""
    rows = dedup.dedup_minhash_est_quality(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.est * 16 - round(r.est * 16)) < 1e-12
        assert abs(r.abs_err - abs(r.est - r.jaccard)) < 1e-15
        if r.jaccard == 1.0:  # identical sets hash identically
            assert r.est == 1.0 and r.abs_err == 0.0
    mean_err = sum(r.abs_err for r in rows) / len(rows)
    assert mean_err <= 0.30, f"mean |est - true| = {mean_err:.3f}"


def test_survivorship_totals_match_keeper_set(spark, sf_dir):
    """Per-source survivorship sums back to the corpus and to the exact
    keep-best keeper count; rates are valid proportions."""
    rows = dedup.dedup_survivorship(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.docs_in for r in rows) == docs.count()
    n_keepers = dedup.dedup_cluster_keep_best(spark, sf_dir).count()
    assert sum(r.docs_kept for r in rows) == n_keepers
    for r in rows:
        # a source CAN keep zero docs — every doc shadowed by a keeper in
        # another source (the fixture's src9 demonstrates it) — exactly
        # the signal this report exists to surface
        assert 0 <= r.docs_kept <= r.docs_in
        assert 0 <= r.chars_kept <= r.chars_in
        assert 0.0 <= r.doc_keep_rate <= 1.0
        assert 0.0 <= r.char_keep_rate <= 1.0
    assert any(r.docs_kept > 0 for r in rows)


def test_ppl_buckets_partition_the_corpus(spark, sf_dir):
    """Tertiles are equal-count (±1), cover every scored doc, and their
    perplexity ranges stack monotonically (ppl is monotone in the sort
    key, so bucket i's max never exceeds bucket i+1's min)."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = sorted(
        curation.ppl_buckets(spark, sf_dir).collect(), key=lambda r: r.bucket
    )
    assert [r.bucket for r in rows] == [0, 1, 2]
    n = curation.bigram_ppl(spark, sf_dir).count()
    assert sum(r.n_docs for r in rows) == n
    assert max(r.n_docs for r in rows) - min(r.n_docs for r in rows) <= 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_ppl <= hi.min_ppl
        assert lo.min_ppl <= lo.max_ppl


def test_ivf_cell_stats_describe_the_index(spark, sf_dir):
    """Cell stats account for every vector, cells are valid ids, and the
    load factors average to ~1 by construction."""
    rows = similarity.sim_ivf_cell_stats(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    total = e.count()
    assert sum(r.n_vecs for r in rows) == total
    assert all(r.total == total for r in rows)
    assert all(0 <= r.cell < similarity.N_CELLS for r in rows)
    assert all(r.n_cells == len(rows) for r in rows)
    assert all(r.load_x > 0 for r in rows)
    mean_load = sum(r.load_x for r in rows) / len(rows)
    assert abs(mean_load - 1.0) < 0.25  # Σ n_vecs·k / total = k ⇒ mean ≈ 1


def test_pq_topk_ranking_invariants(spark, sf_dir):
    """`sim_topk_pq`: TOP_K rows per query, rn dense 1..k, ADC distances
    non-decreasing in rn, neighbors disjoint from the query set, and every
    returned pair unique."""
    rows = similarity.sim_topk_pq(spark, sf_dir).collect()
    assert len(rows) == similarity.N_QUERIES * similarity.TOP_K
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id >= similarity.N_QUERIES
        assert r.adc_d2 >= 0
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, similarity.TOP_K + 1))
        for lo, hi in zip(rs, rs[1:]):
            assert lo.adc_d2 <= hi.adc_d2
        assert len({r.neighbor_id for r in rs}) == len(rs)


def test_ivfpq_ranking_and_adc_consistency(spark, sf_dir):
    """`sim_topk_ivfpq`: per-query rn dense from 1 with ≤ TOP_K rows (IVF
    pruning may leave fewer candidates), ADC distances non-decreasing,
    neighbors disjoint from the query set and unique; and for any
    (query, neighbor) pair the composite shares with pure `sim_topk_pq`,
    the ADC distance must be bit-identical — the composite changes WHICH
    candidates are scored (IVF pruning), never HOW they are scored."""
    rows = similarity.sim_topk_ivfpq(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id >= similarity.N_QUERIES
        assert r.adc_d2 >= 0
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == similarity.N_QUERIES
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        assert 1 <= len(rs) <= similarity.TOP_K
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        for lo, hi in zip(rs, rs[1:]):
            assert lo.adc_d2 <= hi.adc_d2
        assert len({r.neighbor_id for r in rs}) == len(rs)
    pq_adc = {
        (r.query_id, r.neighbor_id): r.adc_d2
        for r in similarity.sim_topk_pq(spark, sf_dir).collect()
    }
    shared = [
        r for r in rows if (r.query_id, r.neighbor_id) in pq_adc
    ]
    assert shared, "composite and pure PQ should overlap on some pairs"
    for r in shared:
        assert r.adc_d2 == pq_adc[(r.query_id, r.neighbor_id)]


def test_pq_mapside_encoder_matches_reference(spark, sf_dir):
    """r16 map-side PQ path vs the r15 reference: `_pq_codes_arr` (codebook
    shipped as a literal, per-subspace argmin in one projection) must emit
    byte-identical codes to the join/agg encoder (`_pq_qe` → `_pq_d2` →
    `_pq_argmin`), the driver-computed ADC LUT (`_pq_query_lut`) must equal
    the distributed d2 relation on the query side, and the driver-computed
    probe lists (`_ivf_probes_py`) must match the probes window."""
    cents = similarity._train_pq_codebooks(spark, sf_dir)
    d2 = similarity._pq_d2(
        similarity._pq_qe(spark, sf_dir),
        similarity._pq_centroid_df(spark, cents),
    )
    ref_codes = {
        (r.vec_id, r.sub): r.cell
        for r in similarity._pq_argmin(
            d2.where(F.col("vec_id") >= similarity.N_QUERIES)
        ).collect()
    }
    new_rows = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") >= similarity.N_QUERIES)
        .select(
            "vec_id",
            similarity._pq_codes_arr(
                similarity._ivf_qvec("embedding"), cents
            ).alias("codes"),
        )
        .collect()
    )
    new_codes = {
        (r.vec_id, s): c for r in new_rows for s, c in enumerate(r.codes)
    }
    assert new_codes == ref_codes
    # query-side LUT parity: every (query, sub, cell) d2 the reference
    # relation carries must equal the driver-computed table entry
    qvecs = similarity._query_qvecs(spark, sf_dir)
    luts = similarity._pq_query_lut(qvecs, cents)
    lut_by_qid = {q: lut for (q, _), lut in zip(qvecs, luts)}
    ref_lut = d2.where(F.col("vec_id") < similarity.N_QUERIES).collect()
    assert ref_lut
    for r in ref_lut:
        assert lut_by_qid[r.vec_id][r.sub][r.cell] == r.d2
    # probe parity against the window form over _ivf_dist2_arr
    icents = similarity._train_ivf_centroids(spark, sf_dir)
    from pyspark.sql import Window

    wp = Window.partitionBy("query_id").orderBy("d2", "cell")
    ref_probes = {
        (r.query_id, r.cell)
        for r in table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < similarity.N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(
                similarity._ivf_dist2_arr(
                    similarity._ivf_qvec("embedding"), icents
                )
            ).alias("cell", "d2"),
        )
        .withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= similarity.N_PROBE)
        .select("query_id", "cell")
        .collect()
    }
    new_probes = {
        (q, c)
        for (q, _), cells in zip(qvecs, similarity._ivf_probes_py(qvecs, icents))
        for c in cells
    }
    assert new_probes == ref_probes
    # end to end: the registered Arrow-scored top-k must be row-identical
    # to the r15 join/agg ADC ranking rebuilt from the reference helpers
    from pyspark.sql import Window

    lut_df = d2.where(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "cell", "d2"
    )
    codes_df = similarity._pq_argmin(
        d2.where(F.col("vec_id") >= similarity.N_QUERIES)
    )
    adc = (
        codes_df.join(F.broadcast(lut_df), ["sub", "cell"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("long").alias("adc_d2"))
    )
    wr = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    ref_topk = {
        tuple(r)
        for r in adc.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= similarity.TOP_K)
        .select("query_id", "neighbor_id", "adc_d2", "rn")
        .collect()
    }
    new_topk = {
        tuple(r) for r in similarity.sim_topk_pq(spark, sf_dir).collect()
    }
    assert new_topk == ref_topk


def test_semantic_hot_cell_decomposition_matches(spark, sf_dir, monkeypatch):
    """Forcing every cell through the r16 hot-cell block-pair path (by
    tightening SEMANTIC_HOT_CELL_ROWS far below the fixture cell sizes)
    must reproduce the one-task-per-cell verdicts exactly — the drop rule
    is purely pairwise, so the block union equals the single-task sweep."""
    base = {
        tuple(r) for r in dedup.dedup_semantic_ivf(spark, sf_dir).collect()
    }
    for threshold in (8, 4):
        # at 4 rows per block, some of a cell's ~16 hash blocks stay empty,
        # so cross groups arrive with an empty L or R side
        monkeypatch.setattr(dedup, "SEMANTIC_HOT_CELL_ROWS", threshold)
        split = {
            tuple(r) for r in dedup.dedup_semantic_ivf(spark, sf_dir).collect()
        }
        assert split == base


def test_pq_codebooks_deterministic_and_on_lattice(spark):
    """The PQ trainer must be a pure function of the corpus: two training
    runs return identical integer codebooks covering every (cell, dim)."""
    sf = "/root/testdata/sf0.001"
    c1 = similarity._train_pq_codebooks(spark, sf)
    caching.clear("pq_codebooks")  # force a genuine retrain
    c2 = similarity._train_pq_codebooks(spark, sf)
    assert c1 is not c2 and c1 == c2
    dims = 1 + max(d for _, d in c1)
    assert set(c1) == {(c, d) for c in range(similarity.PQ_K) for d in range(dims)}
    assert all(isinstance(m, int) for m in c1.values())


def test_pq_recall_high_on_clustered_corpus(spark, tmp_path):
    """The PQ gate reports the honest (low) recall on the near-random
    fixture; prove the operator itself is sound by planting unambiguous
    nearest neighbors: each query gets {TOP_K} close copies among random
    256-dim vectors, where planted ADC distances are ~20× below random
    ones — the registered `sim_pq_recall_eval` must then report ≥0.8."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    n_q, k = similarity.N_QUERIES, similarity.TOP_K
    queries = rng.standard_normal((n_q, 256))
    noise = 0.15 * rng.standard_normal((n_q * k, 256))
    planted = np.repeat(queries, k, axis=0) + noise
    randoms = rng.standard_normal((300, 256))
    vecs = np.vstack([queries, planted, randoms]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)
    rows = similarity.sim_pq_recall_eval(spark, d).collect()
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.8, f"clustered-corpus PQ recall {mean_recall}"
    # the composite must ALSO clear the bar here: planted copies sit on
    # top of their query, so the coarse quantizer puts them in the probed
    # cell and ADC ranks them far below random — end-to-end recall holds
    ivfpq = similarity.sim_ivfpq_recall_eval(spark, d).collect()
    assert all(r.k_exact == similarity.TOP_K for r in ivfpq)
    assert all(0.0 <= r.recall <= 1.0 for r in ivfpq)
    mean_ivfpq = sum(r.recall for r in ivfpq) / len(ivfpq)
    assert mean_ivfpq >= 0.8, f"clustered-corpus IVFPQ recall {mean_ivfpq}"


def test_normalized_dedup_catches_case_punct_variants(spark, tmp_path):
    """Normalization must collapse case/punctuation/whitespace variants of
    the same content into one group that exact dedup keeps apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "Hello, World!",
        "hello world",
        "HELLO   world.",
        "something else",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(4), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 4),
            "source": pa.array(["t"] * 4),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = dedup.dedup_normalized_text(spark, str(tmp_path)).collect()
    assert len(rows) == 2  # the three variants collapse, the 4th stands
    big = max(rows, key=lambda r: r.n_copies)
    assert big.n_copies == 3 and big.keeper == 0 and big.n_raw_variants == 3


def test_chunk_overlap_covers_and_overlaps(spark, sf_dir):
    """Chunks tile every document: starts advance by the stride, token
    counts cap at the window, the last chunk is the remainder, and chunk
    count equals ceil(n/stride)."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = curation.llm_chunk_overlap(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_id)
        n = rs[0].n_tokens + rs[-1].chunk_id * curation.CHUNK_S \
            if len(rs) == 1 else rs[-1].start_pos + rs[-1].n_tokens
        assert [r.chunk_id for r in rs] == list(range(len(rs)))
        for r in rs:
            assert r.start_pos == r.chunk_id * curation.CHUNK_S
            assert 1 <= r.n_tokens <= curation.CHUNK_W
        assert len(rs) == (n + curation.CHUNK_S - 1) // curation.CHUNK_S
        # every chunk except possibly the last is full or reaches the end
        for r in rs[:-1]:
            assert r.n_tokens == min(curation.CHUNK_W, n - r.start_pos)


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    """The lowest doc_id with any n-grams has novelty 1.0 by construction
    (nothing precedes it); all ratios are within [0, 1] and counts are
    consistent."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = curation.llm_ngram_novelty(spark, sf_dir).collect()
    assert rows
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0 and first.n_novel == first.n_grams
    for r in rows:
        assert 0 <= r.n_novel <= r.n_grams
        assert 0.0 <= r.novelty <= 1.0


def test_round6_artifacts_memoized_per_sf(spark, sf_dir):
    """The round-6 staged artifacts follow the near-jaccard discipline:
    token sets, ANN band relation, and the PQ codebook all pin exactly one
    copy per (app, sf_dir) and return the identical handle on re-request."""
    t1, t2 = dedup._token_sets(spark, sf_dir), dedup._token_sets(spark, sf_dir)
    assert t1 is t2
    assert t1.storageLevel.useMemory or t1.storageLevel.useDisk
    b1, b2 = similarity._pair_bands(spark, sf_dir), similarity._pair_bands(
        spark, sf_dir
    )
    assert b1 is b2
    c1 = similarity._train_pq_codebooks(spark, sf_dir)
    c2 = similarity._train_pq_codebooks(spark, sf_dir)
    assert c1 is c2  # cached dict, not a retrained equal copy
    e1 = dedup.dedup_containment(spark, sf_dir)
    e2 = dedup.dedup_containment(spark, sf_dir)
    assert e1 is e2  # staged containment edge relation, like the tau=0.9 set
    # since r16 the pin is a checkpoint LEAF staged inside the build (no
    # second persist on the blocks — ADVICE r15), so storage shows up as
    # the RDD-leaf plan rather than a storageLevel
    plan = e1._jdf.queryExecution().analyzed().toString()
    assert (
        e1.storageLevel.useMemory
        or e1.storageLevel.useDisk
        or "LogicalRDD" in plan
        or "ExistingRDD" in plan
    )


def test_bigram_c2_memoized_no_persist_leak(spark, sf_dir):
    """bigram_ppl's broadcast-gated C2 relation pins exactly one persisted
    copy per (app, sf_dir) — repeated invocations (bench runs each op 3-5
    reps; llm_ppl_buckets composes the same relation) must NOT accumulate
    fresh persisted copies in the session's storage layer (ADVICE r11)."""
    from sdu_hadoop_indexer_spark.llm import curation

    caching.clear("c2")
    before = caching.stats("c2")
    curation.bigram_ppl(spark, sf_dir).count()
    curation.bigram_ppl(spark, sf_dir).count()
    curation.ppl_buckets(spark, sf_dir).count()
    after = caching.stats("c2")
    # byte gate passes at test SF: one build, every later call a hit
    assert after["builds"] - before["builds"] == 1
    assert after["hits"] - before["hits"] >= 2


def test_gopher_rules_trip_each_heuristic(spark, tmp_path):
    """Craft one document per Gopher rule violation and one clean passer;
    each crafted doc must fail exactly its targeted rule (the clean doc
    passing all seven proves the thresholds compose)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdu_hadoop_indexer_spark.llm import curation

    good = (
        "The quick brown fox jumps over the lazy dog and that pattern "
        "repeats with more words to have enough of them here now. "
    ) * 3
    docs = {
        # 0: clean passer
        0: good,
        # 1: too few words
        1: "The cat sat with the dog and that was of it to be.",
        # 2: mean word length out of range (all 1-char words)
        2: "a " * 60 + "the be to of and that have with",
        # 3: symbol-heavy (many #)
        3: good + " " + "# " * 40,
        # 4: bullet lines dominate
        4: "\n".join(f"- item {i} of the list to be" for i in range(20)),
        # 5: ellipsis-ended lines dominate
        5: "\n".join(
            f"the line {i} of text that trails off..." for i in range(10)
        ),
        # 6: words without alphabetic characters dominate
        6: good + " " + "123 456 789 " * 30,
        # 7: stopword-free (but otherwise plausible prose)
        7: "zebra quokka lemur " * 30,
    }
    tbl = pa.table(
        {
            "doc_id": pa.array(sorted(docs), pa.int64()),
            "text": pa.array([docs[k] for k in sorted(docs)], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["t"] * len(docs), pa.string()),
            "n_chars": pa.array(
                [len(docs[k]) for k in sorted(docs)], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {
        r.doc_id: r
        for r in curation.llm_gopher_rules(spark, str(tmp_path)).collect()
    }
    assert rows[0].ok_gopher
    assert not rows[1].ok_word_count
    assert not rows[2].ok_mean_word_len
    assert not rows[3].ok_symbol_ratio
    assert not rows[4].ok_bullets
    assert not rows[5].ok_ellipsis
    assert not rows[6].ok_alpha_words
    assert not rows[7].ok_stopwords
    for k in range(1, 8):
        assert not rows[k].ok_gopher


def test_component_sizes_conserve_corpus(spark, sf_dir):
    """Σ n_docs over the size distribution must equal the corpus size, and
    each row must satisfy n_docs = cluster_size · n_clusters."""
    rows = dedup.graph_component_sizes(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total


def test_tokenizer_fertility_bounds(spark, sf_dir):
    """Fertility ≥ 1 (a word is at least one symbol) and chars/symbol ≥ 1
    (a symbol never exceeds its word); token totals must reconcile with
    the corpus token count."""
    from sdu_hadoop_indexer_spark.llm.tokenizer import (
        llm_tokenizer_fertility,
    )
    from sdu_hadoop_indexer_spark.text.indexer import tokenize

    rows = llm_tokenizer_fertility(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.fertility >= 1.0
        assert r.chars_per_symbol >= 1.0
        assert r.n_bpe >= r.n_tokens
    total = (
        tokenize(spark, sf_dir)
        .where(~F.col("term").contains("|"))
        .count()
    )
    assert sum(r.n_tokens for r in rows) == total


def test_cross_source_audit_reconciles_with_edge_relation(spark, sf_dir):
    """Σ n_pairs over the leakage matrix must equal the verified τ=0.9
    pair count, and every within-source row must carry cross_source=False
    with source_a == source_b (and ≤, ordered, for cross rows)."""
    total = dedup.dedup_near_jaccard(spark, sf_dir).count()
    rows = dedup.dedup_cross_source(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == total
    for r in rows:
        assert r.source_a <= r.source_b
        assert r.cross_source == (r.source_a != r.source_b)
        assert r.max_jaccard >= dedup.JACCARD_TAU


def test_token_apportion_planted_tie(spark, tmp_path):
    """Three sources with token masses 4/4/3 and the module budget:
    exact shares are B·t/11; the two leftover seats go to the largest
    remainders with the source-name tiebreak. With B=100000: floors are
    36363/36363/27272 (sum 99998), remainders 7/7/8 → the seats go to c
    (rem 8) and then to a over the tied b (name tiebreak, the part a
    float rewrite gets nondeterministic). Σ alloc = B exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdu_hadoop_indexer_spark.llm.curation import (
        APPORTION_BUDGET,
        token_apportion,
    )

    texts = {"a": "w " * 4, "b": "w " * 4, "c": "w " * 3}
    tbl = pa.table(
        {
            "doc_id": pa.array(range(3), pa.int64()),
            "text": pa.array([texts[s].strip() for s in ("a", "b", "c")]),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["a", "b", "c"]),
            "n_chars": pa.array([1] * 3, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in token_apportion(spark, str(tmp_path)).collect()}
    assert rows["a"].tokens == 4 and rows["c"].tokens == 3
    assert sum(r.alloc for r in rows.values()) == APPORTION_BUDGET
    # quota rule: every source within 1 of its exact proportional share
    total = sum(r.tokens for r in rows.values())
    for r in rows.values():
        exact = APPORTION_BUDGET * r.tokens / total
        assert abs(r.alloc - exact) < 1
    assert rows["a"].floor_alloc == rows["b"].floor_alloc == 36363
    assert rows["c"].alloc == 27273 and rows["c"].extra == 1
    assert rows["a"].extra == 1 and rows["b"].extra == 0  # name tiebreak


def test_degree_distribution_conservation(spark, sf_dir):
    """Σ n_docs over the histogram must equal the corpus size (degree-0
    docs included), and Σ degree·n_docs must be exactly twice the edge
    count of the near-dup graph (every edge contributes to two docs)."""
    from sdu_hadoop_indexer_spark.llm import dedup

    hist = dedup.graph_degree_distribution(spark, sf_dir).collect()
    n_docs_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in hist) == n_docs_total
    n_edges = dedup.dedup_near_jaccard(spark, sf_dir).count()
    assert sum(r.degree * r.n_docs for r in hist) == 2 * n_edges


def test_contamination_matrix_reconciles_with_edges(spark, sf_dir):
    """Σ n_pairs over the matrix must equal the containment edge count,
    per-cell n_docs_contained ≤ n_pairs, and every max_containment must
    clear the module threshold."""
    m = dedup.llm_contamination_matrix(spark, sf_dir).collect()
    n_edges = dedup.dedup_containment(spark, sf_dir).count()
    assert sum(r.n_pairs for r in m) == n_edges
    tau = dedup.CONTAIN_TAU_N / dedup.CONTAIN_TAU_D
    for r in m:
        assert r.n_docs_contained <= r.n_pairs
        assert r.max_containment >= tau
        assert r.cross_source == (r.source_contained != r.source_container)


def test_truncation_stats_reconcile(spark, sf_dir):
    """tokens_truncated ≤ tokens_total per source, n_over counts exactly
    the docs whose token count exceeds the packing budget, and totals
    reconcile against a direct recount."""
    from sdu_hadoop_indexer_spark.llm.curation import (
        PACK_BUDGET,
        truncation_stats,
    )

    rows = {r.source: r for r in truncation_stats(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        "source",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("n"),
    )
    direct = {
        r.source: (r.nd, r.no)
        for r in t.groupBy("source")
        .agg(
            F.count("*").alias("nd"),
            F.sum(F.when(F.col("n") > PACK_BUDGET, 1).otherwise(0)).alias("no"),
        )
        .collect()
    }
    assert set(rows) == set(direct)
    for s, r in rows.items():
        assert (r.n_docs, r.n_over) == direct[s]
        assert 0 <= r.tokens_truncated <= r.tokens_total
        assert 0.0 <= r.truncated_share <= 1.0


def test_semantic_ivf_drop_rule_consistency(spark, sf_dir):
    """Every dropped vector must have a LOWER-id co-cell mate with cosine
    >= tau, and every kept vector must not — checked against the exact
    all-pairs dup set restricted to co-celled pairs."""
    verdicts = {
        r.vec_id: (r.cell, r.dropped)
        for r in dedup.dedup_semantic_ivf(spark, sf_dir).collect()
    }
    exact = dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    cocell_vb = {
        r.vb
        for r in exact
        if verdicts[r.va][0] == verdicts[r.vb][0]
    }
    dropped = {v for v, (_, d) in verdicts.items() if d}
    assert dropped == cocell_vb


def test_ivf_assign_np_matches_expression_path(spark, sf_dir):
    """The BLAS assignment twin (`_ivf_assign_np`, the auto-cells path's
    map stage) must produce the IDENTICAL (vec_id, cell) relation as the
    Catalyst expression path on the same trained centroids — same integer
    lattice, same first-min tie rule."""
    from sdu_hadoop_indexer_spark.catalog import table
    from sdu_hadoop_indexer_spark.llm import similarity as S

    cents = S._train_ivf_centroids(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    expr = {
        r.vec_id: r.cell
        for r in e.select(
            "vec_id",
            S._ivf_assign(S._ivf_qvec("embedding"), cents).alias("cell"),
        ).collect()
    }
    blas = {r.vec_id: r.cell for r in S._ivf_assign_np(e, cents).collect()}
    assert blas == expr


def test_semantic_ivf_auto_cells_occupancy_and_soundness(spark, sf_dir):
    """The k ∝ N auto path (VERDICT r11 item 5): (a) k follows the
    ⌈N/SEMANTIC_TARGET_CELL⌉ rule; (b) the occupancy the linearity claim
    rests on holds — Σ|cell|² stays within a small constant of
    N·SEMANTIC_TARGET_CELL (candidate volume linear in N); (c) soundness:
    every auto-dropped vector is a true τ-duplicate (its witness pair is
    in the exact all-pairs dup set), i.e. finer blocking only reduces
    RECALL, never precision."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        SEMANTIC_TARGET_CELL,
        _table_rows,
        semantic_auto_cells,
    )

    n = _table_rows(sf_dir, "embeddings")
    k = semantic_auto_cells(n)
    assert k == max(8, -(-n // SEMANTIC_TARGET_CELL))
    out = dedup.dedup_semantic_ivf(spark, sf_dir, cells="auto").collect()
    assert len(out) == n
    assert len({r.cell for r in out}) <= k
    occ: dict[int, int] = {}
    for r in out:
        occ[r.cell] = occ.get(r.cell, 0) + 1
    sum_sq = sum(c * c for c in occ.values())
    assert sum_sq <= 8 * n * SEMANTIC_TARGET_CELL, (
        f"sum|cell|^2 {sum_sq} breaks the linear-candidate bound "
        f"(N*target = {n * SEMANTIC_TARGET_CELL})"
    )
    exact_vb = {
        r.vb for r in dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    dropped = {r.vec_id for r in out if r.dropped}
    assert dropped <= exact_vb  # precision 1 by construction


def test_semantic_ivf_auto_registered_query_and_branches(spark, sf_dir, tmp_path):
    """The r13 gate-verified auto rows (VERDICT r12 item 1): (a) on a
    corpus small enough that ⌈N/target⌉ ≤ N_CELLS the registered
    `dedup_semantic_ivf_auto` must EQUAL the fixed-k row verdict-for-
    verdict (the trainer's collapsed branch — also what makes the two
    oracles literally agree at the gate SF); (b) on a corpus past the
    collapse point the auto path must actually spread beyond N_CELLS
    cells while staying sound (every drop is a true τ-dup); (c) both new
    names carry oracles in the registry."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdu_hadoop_indexer_spark.llm.similarity import N_CELLS
    from sdu_hadoop_indexer_spark.registry import ORACLES

    assert "dedup_semantic_ivf_auto" in ORACLES
    assert "dedup_semantic_ivf_auto_eval" in ORACLES

    fixed = {
        (r.vec_id, r.cell, r.dropped)
        for r in dedup.dedup_semantic_ivf(spark, sf_dir).collect()
    }
    auto = {
        (r.vec_id, r.cell, r.dropped)
        for r in dedup.dedup_semantic_ivf_auto(spark, sf_dir).collect()
    }
    assert auto == fixed  # 500-vector fixture → k collapses to N_CELLS

    # past the collapse point: 1280 vectors → k = 20 > N_CELLS
    rng = np.random.default_rng(13)
    base = rng.standard_normal((1180, 64))
    dups = base[:100] + 0.05 * rng.standard_normal((100, 64))
    vecs = np.vstack([base, dups]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)
    out = dedup.dedup_semantic_ivf_auto(spark, d).collect()
    assert len(out) == len(vecs)
    assert len({r.cell for r in out}) > N_CELLS
    exact_vb = {r.vb for r in dedup.dedup_embedding_cosine(spark, d).collect()}
    assert {r.vec_id for r in out if r.dropped} <= exact_vb
    row = dedup.dedup_semantic_ivf_auto_eval(spark, d).collect()[0]
    assert row.n_exact > 0 and 0.0 <= row.cocell_recall <= 1.0


def test_semantic_ivf_probe_dominates_auto_and_stays_precise(spark, sf_dir):
    """Multi-probe SemDeDup (r13): probes include the home cell, so the
    probe candidate set strictly CONTAINS the auto row's co-cell set —
    (a) every auto-dropped vector is probe-dropped; (b) probe drops stay
    precision-1 (every drop is a true τ-dup); (c) the probe recall gate
    reads ≥ the co-cell gate (the knob only adds reach); (d) home-cell
    assignment is identical between the two rows."""
    auto = {
        r.vec_id: (r.cell, r.dropped)
        for r in dedup.dedup_semantic_ivf_auto(spark, sf_dir).collect()
    }
    probe = {
        r.vec_id: (r.cell, r.dropped)
        for r in dedup.dedup_semantic_ivf_probe(spark, sf_dir).collect()
    }
    assert set(auto) == set(probe)
    assert all(auto[v][0] == probe[v][0] for v in auto)  # same home cells
    a_drop = {v for v, (_, d) in auto.items() if d}
    p_drop = {v for v, (_, d) in probe.items() if d}
    assert a_drop <= p_drop
    exact_vb = {
        r.vb for r in dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert p_drop <= exact_vb
    co = dedup.dedup_semantic_ivf_auto_eval(spark, sf_dir).collect()[0]
    pr = dedup.dedup_semantic_ivf_probe_eval(spark, sf_dir).collect()[0]
    assert pr.n_exact == co.n_exact
    assert pr.pair_recall >= co.cocell_recall


def test_semantic_ivf_high_cocell_recall_on_clustered_corpus(spark, tmp_path):
    """On a genuinely clustered corpus (tight planted dup pairs among
    random vectors) the cluster blocking must see most of the exact dup
    mass — the eval gate's number is the evidence the pruned corpus can
    be trusted there, unlike on the near-random fixture."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    base = rng.standard_normal((300, 256))
    dups = base[:100] + 0.1 * rng.standard_normal((100, 256))
    vecs = np.vstack([base, dups]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)
    row = dedup.dedup_semantic_ivf_eval(spark, d).collect()[0]
    assert row.n_exact >= 90
    assert row.cocell_recall >= 0.8, (
        f"co-cell recall {row.cocell_recall} < 0.8 on a clustered corpus"
    )
    # and the dedup actually drops the planted clones it can see
    n_dropped = (
        dedup.dedup_semantic_ivf(spark, d).where("dropped").count()
    )
    assert n_dropped >= 0.8 * row.n_cocell / 1.0 or n_dropped >= 60


def test_pair_bands_production_operating_point(spark, tmp_path, monkeypatch):
    """The round-7 slope study measured the DEFAULT 10x6 banding colliding
    random pairs at ~15.7% of all-pairs (= a constant-factor cut of N^2,
    the fixture-regime operating point). The production point
    SPARK_GRAFT_PAIR_BANDS=20x16 must cut random collisions by orders of
    magnitude while keeping recall on true near-dups (cosine ~0.96)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(23)
    base = rng.standard_normal((400, 256))
    dups = base[:100] + 0.3 * rng.standard_normal((100, 256))
    vecs = np.vstack([base, dups]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)

    def n_candidates() -> int:
        bands = similarity._pair_bands(spark, d)
        a = bands.select(
            F.col("vec_id").alias("va"), "band_idx", "bucket"
        )
        b = bands.select(
            F.col("vec_id").alias("vb"), "band_idx", "bucket"
        )
        return (
            a.join(b, ["band_idx", "bucket"])
            .where(F.col("va") < F.col("vb"))
            .select("va", "vb")
            .distinct()
            .count()
        )

    exact = {
        (r.va, r.vb) for r in dedup.dedup_embedding_cosine(spark, d).collect()
    }
    assert len(exact) >= 90
    cand_default = n_candidates()

    monkeypatch.setenv("SPARK_GRAFT_PAIR_BANDS", "20x16")
    cand_prod = n_candidates()
    ann = {(r.va, r.vb) for r in dedup.dedup_embedding_ann(spark, d).collect()}
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.9, f"production-point recall {recall:.3f} < 0.9"
    # the default point admits ~15% of all 500*499/2 pairs; the production
    # point must collapse the random collision mass by >= 20x
    assert cand_prod * 20 <= cand_default, (
        f"candidates {cand_prod} vs default {cand_default}"
    )


def test_pair_band_auto_rule_anchors_and_monotonicity():
    """The N-adaptive default operating point (round-9 fixpoint rule,
    replacing round-8's refuted bands=planes+4): the rule must
    (a) reproduce the registered 10x6 point at EVERY size up to the
    named PAIR_FIXTURE_MAX oracle-parity guard (the static DuckDB
    oracles encode that point), (b) hold true-dup recall >= 0.95 at the
    documented design point (p = 0.86 per plane at cosine ~0.9) at
    EVERY point the rule can emit — the exact claim the round-8 rule
    failed, (c) make the expected random-collision candidate fraction
    bands*2^-planes non-increasing in N with candidates/vector bounded
    by the target until the plane ceiling kicks in."""
    assert similarity.PAIR_FIXTURE_MAX >= 6553
    for n in (1, 500, 2000, similarity.PAIR_FIXTURE_MAX):
        assert similarity._pair_band_params(n) == (
            similarity.PAIR_BANDS,
            similarity.PAIR_BAND_PLANES,
        ), f"fixture-scale N={n} departed from the registered point"
    # just past the guard the planes rule takes over smoothly (no jump:
    # the guard boundary equals where the arithmetic leaves the floor)
    b1, r1 = similarity._pair_band_params(similarity.PAIR_FIXTURE_MAX + 1)
    assert r1 == similarity.PAIR_BAND_PLANES + 1
    prev_frac = None
    prev_cand_per_vec = None
    for n in (10**3, 10**4, 10**5, 10**6, 10**7, 10**8, 10**9):
        b, r = similarity._pair_band_params(n)
        frac = b * 2.0**-r
        if prev_frac is not None:
            assert frac <= prev_frac
        prev_frac = frac
        # true-dup recall at the design point holds at EVERY emitted
        # point — exact binomial form, same formula as _bands_for_recall
        recall = 1 - (1 - similarity.PAIR_DESIGN_P**r) ** b
        assert recall >= similarity.PAIR_RECALL_TARGET, (
            f"N={n} point {b}x{r}: recall {recall:.3f}"
        )
        # expected random candidates per vector = frac * N stays at or
        # under the target until the plane ceiling kicks in
        if r < similarity.PAIR_MAX_PLANES:
            cand_per_vec = frac * n
            assert (
                cand_per_vec <= similarity.PAIR_TARGET_CAND_PER_VEC
            ), f"N={n}: {cand_per_vec:.0f} candidates/vector"
            prev_cand_per_vec = cand_per_vec
    assert prev_cand_per_vec is not None


def test_dsir_weights_separate_target_language(spark, sf_dir):
    """DSIR's point: target-domain (en) docs must score higher under
    log(p_target/p_raw) than non-target docs; plus structural invariants
    (n_feats = 2*tokens - 1, top-quartile selection count)."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = curation.llm_dsir_weights(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.lang
        for r in table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    en = [r.dsir_weight for r in rows if docs[r.doc_id] == "en"]
    other = [r.dsir_weight for r in rows if docs[r.doc_id] != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)
    n_sel = sum(1 for r in rows if r.selected)
    assert n_sel == (len(rows) + 3) // 4
    # en should dominate the selected quartile
    sel_en = sum(1 for r in rows if r.selected and docs[r.doc_id] == "en")
    assert sel_en / n_sel > len(en) / len(rows)


def test_soft_dedup_weights_mass_conservation(spark, sf_dir):
    """Every cluster's weights sum to ~1 (one doc's worth of mass), unique
    docs keep exactly 1.0, and weights agree with cluster sizes."""
    from sdu_hadoop_indexer_spark.llm import curation  # noqa: F401

    rows = dedup.llm_soft_dedup_weights(spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_rep, []).append(r)
    for rep, members in by_cluster.items():
        sz = members[0].cluster_size
        assert len(members) == sz
        for m in members:
            assert abs(m.soft_weight - round(1.0 / sz, 4)) < 5e-5
        if sz == 1:
            assert members[0].soft_weight == 1.0


def test_matryoshka_two_stage_dominates_direct_truncated_topk(spark, sf_dir):
    """Stage-1 keeps MRL_CAND=20 truncated candidates, so any ground-truth
    neighbor the eval's direct truncated top-5 finds is also available to
    the rescorer: two-stage recall must be >= sim_matryoshka_eval's, and
    emitted cosines must equal the exact full-dim scores."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk_search(spark, sf_dir).collect()
    }
    two = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk_matryoshka(spark, sf_dir).collect()
    }
    hits = set(two) & set(exact)
    for k in hits:
        assert two[k] == exact[k]
    recall_two = len(hits) / len(exact)
    ev = similarity.sim_matryoshka_eval(spark, sf_dir).collect()
    recall_direct = sum(r.n_hit for r in ev) / sum(r.k_full for r in ev)
    assert recall_two >= recall_direct


def test_welch_ttest_matches_pure_python(spark, sf_dir):
    """The one-row statistic must equal the textbook Welch formula
    computed driver-side from the same filtered values."""
    from sdu_hadoop_indexer_spark.operators import analytics

    row = analytics.agg_welch_ttest(spark, sf_dir).collect()[0]
    vals = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "value")
        .collect()
    )
    import math

    a = [round(v.value * 100) for v in vals if v.event_type == "purchase"]
    b = [round(v.value * 100) for v in vals if v.event_type == "click"]
    n1, n2 = len(a), len(b)
    m1, m2 = sum(a) / n1, sum(b) / n2
    v1 = (sum(x * x for x in a) - m1 * sum(a)) / (n1 - 1)
    v2 = (sum(x * x for x in b) - m2 * sum(b)) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    dof = se2 * se2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    assert (row.n_a, row.n_b) == (n1, n2)
    assert abs(row.t_stat - t) < 1e-3
    assert abs(row.dof - dof) < 1e-2
    assert row.dof <= n1 + n2 - 2 + 1e-9  # Welch dof never exceeds pooled


def test_simhash_hamming_banding_is_lossless(spark, sf_dir):
    """Pigeonhole claim: the block-banded miner must find EXACTLY the
    brute-force all-pairs hamming <= 3 set — recall 1 by construction,
    not probabilistic."""
    fps = {
        r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, sf_dir).collect()
    }
    ids = sorted(fps)
    brute = set()
    for i, da in enumerate(ids):
        for db in ids[i + 1:]:
            x = (fps[da] ^ fps[db]) & 0xFFFFFFFFFFFFFFFF
            if bin(x).count("1") <= 3:
                brute.add((da, db))
    mined = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_simhash_hamming(spark, sf_dir).collect()
    }
    assert mined == brute


def test_kcore_is_fixpoint_and_min_degree_holds(spark, sf_dir):
    """The unrolled peel must have converged: every surviving node's
    within-core degree >= K, the survivors reproduce the independent
    Python peel of the same capped edge set, and one more synchronous
    round changes nothing."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        KCORE_K,
        _capped_oriented_edges,
        graph_kcore,
    )

    got = {r.doc_id: r.core_degree for r in graph_kcore(spark, sf_dir).collect()}
    assert got and all(dg >= KCORE_K for dg in got.values())
    e, _ = _capped_oriented_edges(spark, sf_dir)
    edges = [(r.u, r.v) for r in e.collect()]
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    # synchronous peel to true fixpoint
    while True:
        drop = [n for n in adj if len(adj[n]) < KCORE_K]
        if not drop:
            break
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    assert got == {n: len(ms) for n, ms in adj.items()}


def test_clustering_coeff_consistent_with_global_triangles(spark, sf_dir):
    """Per-node triangle credits must sum to exactly 3x the global
    triangle count (each triangle has three corners), and every
    coefficient must be a valid [0, 1] ratio of 2t / d(d-1)."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        graph_clustering_coeff,
        graph_triangle_count,
    )

    rows = graph_clustering_coeff(spark, sf_dir).collect()
    total = graph_triangle_count(spark, sf_dir).collect()[0].n_triangles
    assert sum(r.n_triangles for r in rows) == 3 * total
    for r in rows:
        assert 0.0 <= r.clustering <= 1.0
        assert r.n_triangles * 2 <= r.degree * (r.degree - 1)


def test_range_search_matches_numpy_bruteforce(spark, sf_dir):
    """sim_range_search = the exact {cosine >= tau} pair set: recompute the
    full query x candidate cosine matrix in numpy (float64, same rounding)
    and require set equality — radius semantics leave no rank ambiguity to
    hide behind, so the whole contract is testable in one shot."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    # Replay the ENGINE's arithmetic order — dot / (norm_a * norm_b), NOT a
    # pre-normalized matmul: (a/|a|)@(b/|b|) differs from dot/(na*nb) by
    # ~1 ulp, and this assert is tolerance-free on the 4dp-rounded value,
    # so the pre-normalized form could flap on a regenerated fixture whose
    # true cosine lands on a .00005 boundary (ADVICE r13 low #2).
    n = np.sqrt((x * x).sum(axis=1))
    qm, cm = ids < similarity.N_QUERIES, ids >= similarity.N_QUERIES
    cos = np.round((x[qm] @ x[cm].T) / (n[qm][:, None] * n[cm][None, :]), 4)
    expected = {
        (int(ids[qm][i]), int(ids[cm][j]))
        for i, j in zip(*np.where(cos >= similarity.RANGE_TAU))
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.sim_range_search(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture must make the range result non-empty"


def test_ivf_partitioned_ann_equals_topk_ivf(spark, sf_dir):
    """The stored partition-pruned path must return EXACTLY sim_topk_ivf's
    rows — same probes, same candidates, same scoring; only the physical
    route (write -> directory-pruned read) differs."""
    want = {
        tuple(r) for r in similarity.sim_topk_ivf(spark, sf_dir).collect()
    }
    got = {
        tuple(r)
        for r in similarity.sink_ivf_partitioned_ann(spark, sf_dir).collect()
    }
    assert got == want and got


def test_range_search_ivf_subset_with_exact_scores(spark, sf_dir):
    """The pruned radius search must emit a SUBSET of the exact tau-ball
    (precision 1 by construction) with IDENTICAL rounded cosines, and its
    misses must be exactly the recall gate's n_exact - n_hit."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_range_search(spark, sf_dir).collect()
    }
    pruned = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_range_search_ivf(spark, sf_dir).collect()
    }
    assert set(pruned) <= set(exact)
    assert all(pruned[k] == exact[k] for k in pruned)
    ev = similarity.sim_range_recall_eval(spark, sf_dir).collect()[0]
    assert ev.n_exact == len(exact)
    assert ev.n_hit == len(pruned)
    assert pruned, "probe cells must reach a non-empty tau-ball share"


def test_sink_range_lookup_matches_pruned_radius(spark, sf_dir):
    """The stored-layout radius lookup must return EXACTLY
    sim_range_search_ivf's rows — same probes, same candidates, same tau;
    only the physical route (write -> directory-pruned read) differs."""
    want = {
        tuple(r)
        for r in similarity.sim_range_search_ivf(spark, sf_dir).collect()
    }
    got = {
        tuple(r)
        for r in similarity.sink_ivf_range_lookup(spark, sf_dir).collect()
    }
    assert got == want and got


def _md5_tree(path):
    """{relpath: md5} over every data file under the store's cell dirs."""
    import hashlib
    import os

    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            rel = os.path.relpath(fp, path)
            with open(fp, "rb") as fh:
                out[rel] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_ann_append_touches_only_batch_cells(spark, sf_dir, tmp_path):
    """Incremental index maintenance contract: the union read-back equals
    the frozen-quantizer assignment of ALL candidates, and every cell
    directory the batch does NOT land in keeps byte-identical files
    through the append (no silent O(corpus) rewrite)."""
    out = str(tmp_path / "ivf_append")
    before = {}

    def snapshot(path):
        before.update(_md5_tree(path))

    got = {
        (r.vec_id, r.cell)
        for r in similarity.sink_ivf_ann_append_steps(
            spark, sf_dir, out, on_base_written=snapshot
        ).collect()
    }

    cents = similarity._train_ivf_centroids(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = {
        (r.vec_id, r.cell)
        for r in e.where(f"vec_id >= {similarity.N_QUERIES}")
        .select(
            "vec_id",
            similarity._ivf_assign(
                similarity._ivf_qvec("embedding"), cents
            ).alias("cell"),
        )
        .collect()
    }
    assert got == assigned and got

    max_id = max(v for v, _ in assigned)
    batch_ids = {
        v for v, _ in assigned if v > max_id - similarity.APPEND_BATCH
    }
    touched = {f"cell={c}" for v, c in assigned if v in batch_ids}
    all_cells = {f"cell={c}" for _, c in assigned}
    untouched = all_cells - touched
    assert touched, "batch must land somewhere"
    assert untouched, "fixture must leave at least one cell untouched"

    after = _md5_tree(out)
    untouched_before = {
        rel: h
        for rel, h in before.items()
        if rel.split("/", 1)[0] in untouched
    }
    assert untouched_before, "base store must populate untouched cells"
    for rel, h in untouched_before.items():
        assert after.get(rel) == h, f"untouched file rewritten: {rel}"
    # and the touched cells really were restated (their file set changed)
    touched_before = {
        rel for rel in before if rel.split("/", 1)[0] in touched
    }
    touched_after = {
        rel for rel in after if rel.split("/", 1)[0] in touched
    }
    assert touched_before != touched_after or not touched_before


def test_ann_append_store_serves_identical_topk(spark, sf_dir, tmp_path):
    """The OPERATIONAL guarantee of incremental maintenance: a top-k probe
    against the post-append store returns exactly sim_topk_ivf's rows —
    appending a batch neither loses nor distorts what the index serves
    (union relation == full assignment, same frozen quantizer)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = str(tmp_path / "ivf_append_serve")
    similarity.sink_ivf_ann_append_steps(spark, sf_dir, out).collect()
    cents = similarity._train_ivf_centroids(spark, sf_dir)
    scored = similarity._ivf_stored_scores(spark, sf_dir, cents, out)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    got = {
        tuple(r)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= similarity.TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rn")
        .collect()
    }
    want = {
        tuple(r) for r in similarity.sim_topk_ivf(spark, sf_dir).collect()
    }
    assert got == want and got


def test_dsir_resample_is_weighted_without_replacement(spark, sf_dir):
    """Gumbel-top-k invariants: exactly RESAMPLE_K distinct docs; the
    sample key decomposes as weight + gumbel (4dp lattice); the draw is
    biased toward high DSIR weight (sampled mean weight > corpus mean —
    the importance-resampling point); and re-running the op reproduces
    the identical draw (the noise is hash-seeded, not RNG state)."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = curation.llm_dsir_resample(spark, sf_dir).collect()
    assert len(rows) == curation.RESAMPLE_K
    assert len({r.doc_id for r in rows}) == curation.RESAMPLE_K
    for r in rows:
        assert abs((r.dsir_weight + r.gumbel) - r.sample_key) < 2e-4
    wrows = curation.llm_dsir_weights(spark, sf_dir).collect()
    corpus_mean = sum(r.dsir_weight for r in wrows) / len(wrows)
    sample_mean = sum(r.dsir_weight for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    again = curation.llm_dsir_resample(spark, sf_dir).collect()
    assert sorted((r.doc_id, r.sample_key) for r in again) == sorted(
        (r.doc_id, r.sample_key) for r in rows
    )


def test_url_canonical_merges_all_dirt_classes(spark, sf_dir):
    """Every canonical URL is in normal form (lowercase https, no :443,
    no //, no trailing slash, no fragment, no tracking params); groups
    merge >1 raw spelling somewhere (the op does real work); and total
    copies equals the corpus (partition property of a dedup)."""
    import re

    from sdu_hadoop_indexer_spark.llm import dedup as dd

    rows = dd.dedup_url_canonical(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_copies for r in rows) == n_docs
    pat = re.compile(r"^https://[a-z0-9.\-]+/[^?#]*\?id=\d+$")
    for r in rows:
        assert pat.match(r.canonical_url), r.canonical_url
        assert "//" not in r.canonical_url.split("://", 1)[1]
        assert ":443" not in r.canonical_url
        assert "utm_" not in r.canonical_url
        assert "fbclid" not in r.canonical_url
        assert not r.canonical_url.split("?")[0].endswith("/")
        assert r.n_raw_variants <= r.n_copies
    assert any(r.n_raw_variants > 1 for r in rows)
    # collision design: groups key on (source, doc_id % URL_GROUPS)
    assert len(rows) <= 20 * dd.URL_GROUPS


def test_dsir_resample_eval_shifts_toward_target(spark, sf_dir):
    """The composition gate's own gate: the target language's sampled
    share exceeds its corpus share (the draw is weighted toward the
    target domain), shares are consistent with the counts, and the
    sample column sums to RESAMPLE_K."""
    from sdu_hadoop_indexer_spark.llm import curation

    rows = {r.lang: r for r in curation.llm_dsir_resample_eval(spark, sf_dir).collect()}
    tgt = rows[curation.DSIR_TARGET_LANG]
    assert tgt.sample_share > tgt.corpus_share
    assert sum(r.n_sample for r in rows.values()) == curation.RESAMPLE_K
    n_docs = sum(r.n_corpus for r in rows.values())
    for r in rows.values():
        assert abs(r.corpus_share - r.n_corpus / n_docs) < 1e-3
        assert abs(r.sample_share - r.n_sample / curation.RESAMPLE_K) < 1e-3


def test_common_neighbors_matches_python_recompute(spark, sf_dir):
    """Predicted links recomputed from the SAME capped edge relation in
    plain Python (adjacency dict → wedge count → non-edge screen) must
    match the op exactly — pairs, counts, degrees, and the Jaccard
    quotient's half-away rounding."""
    from sdu_hadoop_indexer_spark.llm.dedup import (
        CN_MIN,
        _capped_edges_persisted,
        graph_common_neighbors,
    )

    edges = {
        (r.u, r.v) for r in _capped_edges_persisted(spark, sf_dir).collect()
    }
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expected = {}
    for a, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, x in enumerate(ns):
            for y in ns[i + 1 :]:
                if (x, y) not in edges:
                    expected[(x, y)] = expected.get((x, y), 0) + 1
    expected = {p: c for p, c in expected.items() if c >= CN_MIN}

    got = graph_common_neighbors(spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b): r.common_n for r in got} == expected
    for r in got:
        assert r.deg_a == len(adj[r.doc_a]) and r.deg_b == len(adj[r.doc_b])
        den = r.deg_a + r.deg_b - r.common_n
        assert r.nbr_jaccard == (r.common_n * 20000 + den) // (2 * den) / 10000


def test_pack_bucketed_layout_invariants(spark, sf_dir):
    """Class correctness (n_tokens ≤ slot_len < 2·n_tokens), slot
    capacity, dense rank-based occupancy (every bin but the last full),
    and (bin, slot) uniqueness per class."""
    from sdu_hadoop_indexer_spark.llm.curation import (
        PACK_BUDGET,
        pack_bucketed,
    )

    rows = pack_bucketed(spark, sf_dir).collect()
    assert rows
    classes = {}
    for r in rows:
        assert 1 <= r.n_tokens <= r.slot_len < 2 * r.n_tokens
        assert PACK_BUDGET % r.slot_len == 0
        assert r.padding == r.slot_len - r.n_tokens >= 0
        bin_k = PACK_BUDGET // r.slot_len
        assert 0 <= r.slot_idx < bin_k
        classes.setdefault((r.source, r.slot_len), []).append(
            (r.bin_id, r.slot_idx)
        )
    for (src, slot), members in classes.items():
        assert len(set(members)) == len(members)  # no slot collision
        bin_k = PACK_BUDGET // slot
        m = len(members)
        n_bins = max(b for b, _ in members) + 1
        assert n_bins == -(-m // bin_k)  # dense: exactly ceil(m / k) bins
        from collections import Counter

        occ = Counter(b for b, _ in members)
        assert sum(1 for b, c in occ.items() if c < bin_k) <= 1  # one partial


def test_pack_bucketed_eval_consistent_with_assignment(spark, sf_dir):
    """The eval's per-source totals must re-derive exactly from the
    assignment, bins ≥ the ceil lower bound, waste in [0, 1)."""
    from sdu_hadoop_indexer_spark.llm.curation import (
        PACK_BUDGET,
        pack_bucketed,
        pack_bucketed_eval,
    )

    asn = pack_bucketed(spark, sf_dir).collect()
    per = {}
    for r in asn:
        d = per.setdefault(r.source, {"docs": 0, "toks": 0, "bins": set()})
        d["docs"] += 1
        d["toks"] += r.n_tokens
        d["bins"].add((r.slot_len, r.bin_id))
    for e in pack_bucketed_eval(spark, sf_dir).collect():
        d = per[e.source]
        assert e.n_docs == d["docs"] and e.n_tokens == d["toks"]
        assert e.n_bins == len(d["bins"])
        assert e.n_bins_lower_bound == -(-d["toks"] // PACK_BUDGET)
        assert e.n_bins >= e.n_bins_lower_bound
        assert 0.0 <= e.waste_frac < 1.0


def test_reciprocal_nn_matches_numpy_recompute(spark, sf_dir):
    """Mutual-kNN pairs recomputed with a dense numpy kNN over the same
    embeddings (same 4-dp rounding, same (cos DESC, dst) tie order) must
    match the op exactly — pairs, cosines, and both ranks."""
    import numpy as np

    from sdu_hadoop_indexer_spark.catalog import table
    from sdu_hadoop_indexer_spark.llm.similarity import (
        RNN_K,
        sim_reciprocal_nn_pairs,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in e], dtype=np.int64)
    m = np.array([r.embedding for r in e], dtype=np.float64)
    n = np.linalg.norm(m, axis=1)
    sim = np.round((m @ m.T) / np.outer(n, n), 4)
    order = np.argsort(ids)
    ids, sim = ids[order], sim[np.ix_(order, order)]
    knn = {}
    for i, src in enumerate(ids):
        row = [(float(sim[i, j]), int(ids[j])) for j in range(len(ids)) if j != i]
        row.sort(key=lambda t: (-t[0], t[1]))
        knn[int(src)] = {d: (rk + 1, c) for rk, (c, d) in enumerate(row[:RNN_K])}
    expected = {}
    for a, nb in knn.items():
        for b, (rk_ab, c) in nb.items():
            if a < b and a in knn[b]:
                expected[(a, b)] = (c, rk_ab, knn[b][a][0])
    got = {
        (r.va, r.vb): (r.cosine, r.rank_ab, r.rank_ba)
        for r in sim_reciprocal_nn_pairs(spark, sf_dir).collect()
    }
    assert got == expected
    assert all(1 <= ab <= RNN_K and 1 <= ba <= RNN_K for _, ab, ba in got.values())
