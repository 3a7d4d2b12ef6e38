"""The pin registry (`caching.pin`): one registry, stamp-keyed entries, and
a release that frees exactly what each pin holds."""

from __future__ import annotations

import ast
import re
import shutil
import sys

import pytest

from conftest import REPO, SF_DIR
from sdu_hadoop_indexer_spark import caching
from sdu_hadoop_indexer_spark.llm import dedup
from sdu_hadoop_indexer_spark.text.indexer import tokenize

sys.path.insert(0, str(REPO / "tools"))
from gen_scale_fixture import generate  # noqa: E402

_CACHE_NAME = re.compile(r".*_CACHE$")


def test_no_hand_rolled_caches():
    """Pins live in caching.py only: no module-level ``*_CACHE`` dict
    elsewhere, and no reach-in to another module's ``_*_CACHE``."""
    files = [
        p
        for p in [
            *(REPO / "sdu_hadoop_indexer_spark").rglob("*.py"),
            REPO / "bench.py",
            *(REPO / "tools").rglob("*.py"),
            *(REPO / "tests").rglob("*.py"),
        ]
        if p.name != "caching.py"
    ]
    found = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            found += [
                f"{path.name}: {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and _CACHE_NAME.match(t.id)
            ]
        found += [
            f"{path.name}:{n.lineno}: .{n.attr}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr.startswith("_")
            and _CACHE_NAME.match(n.attr)
        ]
    assert not found


def test_no_dataframe_kwargs_to_spark_sql():
    """``spark.sql(text, t=df)`` registers ``df`` under a temporary view and
    drops that view on return, which uncaches a pinned ``df``; the package
    passes ``spark.sql`` only its text and bound ``args``."""
    found = []
    for path in (REPO / "sdu_hadoop_indexer_spark").rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path))
        found += [
            f"{path.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "sql"
            and any(k.arg != "args" for k in n.keywords)
        ]
    assert not found


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture
def docs_dir(tmp_path) -> str:
    d = str(tmp_path / "docs")
    generate(200, d, SF_DIR)
    return d


def test_rewritten_fixture_is_a_miss(spark, docs_dir, tmp_path):
    """Rewriting a fixture in place within one session must rebuild the
    pin AND release the stale one, or Spark's CacheManager keeps serving
    the old rows to every fresh plan that matches it."""
    old = dedup._token_sets(spark, docs_dir).count()
    generate(400, docs_dir, SF_DIR, seed=7)
    copy = tmp_path / "copy"
    copy.mkdir()
    shutil.copy(f"{docs_dir}/documents.parquet", copy)
    want = tokenize(spark, str(copy)).select("doc_id", "term").distinct().count()
    assert want != old
    assert dedup._token_sets(spark, docs_dir).count() == want
    fresh = tokenize(spark, docs_dir).select("doc_id", "term").distinct()
    assert fresh.count() == want


@pytest.mark.parametrize("form", ["persist", "leaf"])
def test_clear_releases_the_pin(spark, docs_dir, form):
    before = _persistent_rdds(spark)
    caching.pin("probe", spark, docs_dir, lambda: spark.range(50), form).count()
    assert _persistent_rdds(spark) == before + 1
    caching.clear("probe")
    assert _persistent_rdds(spark) == before


def test_clear_leaf_keeps_inner_pin(spark, docs_dir):
    """The near-jaccard leaf reads the token-set pin lazily inside its
    build; clearing the leaf frees its checkpoint RDD only."""
    dedup._token_sets(spark, docs_dir).count()
    before = _persistent_rdds(spark)
    builds = caching.stats("token_sets")["builds"]
    dedup.dedup_near_jaccard(spark, docs_dir).count()
    assert _persistent_rdds(spark) == before + 1
    caching.clear("near_jaccard")
    assert _persistent_rdds(spark) == before
    assert dedup._token_sets(spark, docs_dir).storageLevel.useMemory
    assert caching.stats("token_sets")["builds"] == builds
