"""N-gram (NgramFF) indexing: 2-term phrases over frequent terms read
a pre-joined n-gram posting instead of intersecting two long lists,
with BM25 scores IDENTICAL to the single-term path (reference
NGRAM_SEARCH.md "faithful N-gram Bm25f", tokenizer.rs:673-1387 —
partial-term df/tf stored with the n-gram posting)."""

from __future__ import annotations

import pytest

from seekstorm_spark.index.builder import IndexBuilder
from seekstorm_spark.query.engine import _plan, count_matches, search
from seekstorm_spark.sources.webtext import synth_webtext

N_DOCS = 600
FREQUENT = ["term00000", "term00001", "term00002", "term00003"]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    docs = synth_webtext(spark, N_DOCS, seed=42).cache()
    base = tmp_path_factory.mktemp("ng")
    plain = IndexBuilder(spark, str(base / "plain"), n_buckets=8).build(
        docs, text_col="text", order_col="url"
    )
    ngram = IndexBuilder(
        spark, str(base / "ngram"), n_buckets=8, frequent_terms=FREQUENT
    ).build(docs, text_col="text", order_col="url")
    docs.unpersist()
    return plain, ngram


PHRASES = [
    '"term00000 term00001"',
    '"term00001 term00000"',
    '"term00002 term00003"',
    '"term00000 term00002"',
    '"term00000 term00001" -term00002',  # NOT: no gram-df count shortcut
]


def test_ngram_rewrite_engages(spark, stores):
    _plain, ngram = stores
    plan = _plan(spark, ngram, '"term00000 term00001"', "union")
    assert plan.qtype == "ngram" and plan.units is not None
    assert len(plan.units) == 1 and plan.unit_parts


def test_phrase_results_identical_with_and_without_ngrams(spark, stores):
    plain, ngram = stores
    for q in PHRASES:
        a = search(spark, plain, q, top_k=10, default_type="union").collect()
        b = search(spark, ngram, q, top_k=10, default_type="union").collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in b
        ], q
        assert count_matches(spark, plain, q, "union") == count_matches(
            spark, ngram, q, "union"
        ), q


def test_ngram_pruned_equals_unpruned(spark, stores):
    _plain, ngram = stores
    q = '"term00000 term00001"'
    a = search(spark, ngram, q, top_k=5, prune=True).collect()
    b = search(spark, ngram, q, top_k=5, prune=False).collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]


def test_rare_term_phrase_unaffected(spark, stores):
    plain, ngram = stores
    # rare terms are not in the frequent list → standard phrase path,
    # same results on both indexes
    q = '"term00042 term00100"'
    plan = _plan(spark, ngram, q, "union")
    assert plan.qtype == "phrase"
    a = search(spark, plain, q, top_k=10).collect()
    b = search(spark, ngram, q, top_k=10).collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]


@pytest.fixture(scope="module")
def tri_stores(spark, tmp_path_factory):
    """plain vs FF|FFF-gram index over the same corpus."""
    docs = synth_webtext(spark, N_DOCS, seed=42).cache()
    base = tmp_path_factory.mktemp("ng3")
    plain = IndexBuilder(spark, str(base / "plain"), n_buckets=8).build(
        docs, text_col="text", order_col="url"
    )
    tri = IndexBuilder(
        spark,
        str(base / "tri"),
        n_buckets=8,
        frequent_terms=FREQUENT,
        ngram_patterns=["ff", "fff"],
    ).build(docs, text_col="text", order_col="url")
    docs.unpersist()
    return plain, tri


def test_trigram_rewrite_engages(spark, tri_stores):
    from seekstorm_spark.index.builder import NGRAM_SEP

    _plain, tri = tri_stores
    plan = _plan(spark, tri, '"term00000 term00001 term00002"', "union")
    assert plan.qtype == "ngram"
    assert plan.units is not None and len(plan.units) == 1
    gram = plan.units[0][0]
    assert gram.count(NGRAM_SEP) == 2


def test_trigram_phrase_identical_to_positional(spark, tri_stores):
    plain, tri = tri_stores
    for q in [
        '"term00000 term00001 term00002"',
        '"term00001 term00002 term00003"',
        '"term00003 term00000 term00001"',
    ]:
        a = search(spark, plain, q, top_k=10, default_type="union").collect()
        b = search(spark, tri, q, top_k=10, default_type="union").collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in b
        ], q
        assert count_matches(spark, plain, q, "union") == count_matches(
            spark, tri, q, "union"
        ), q


def test_multi_unit_phrase_gram_plus_leftover(spark, tri_stores):
    """4-term phrase = FFF trigram unit + a rare single aligned on the
    gram's positions (greedy trigram-first rewrite)."""
    plain, tri = tri_stores
    # find a 4-term phrase that actually occurs: 3 frequent + 1 rare
    q = '"term00000 term00001 term00002 term00042"'
    plan = _plan(spark, tri, q, "union")
    if not plan.missing_required:
        assert plan.qtype in ("phrase", "ngram")
        if plan.qtype == "phrase":
            assert plan.units is not None and len(plan.units) == 2
    a = search(spark, plain, q, top_k=10, default_type="union").collect()
    b = search(spark, tri, q, top_k=10, default_type="union").collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]


def test_trigram_count_shortcut(spark, tri_stores):
    """A covering trigram's stored df IS the phrase count (zero jobs)."""
    plain, tri = tri_stores
    q = '"term00000 term00001 term00002"'
    assert count_matches(spark, tri, q, "union") == count_matches(
        spark, plain, q, "union"
    )


def test_duplicate_term_phrase(spark, tri_stores):
    """'a b a' style phrases: the repeated term scores exactly once."""
    plain, tri = tri_stores
    q = '"term00000 term00001 term00000"'
    a = search(spark, plain, q, top_k=10, default_type="union").collect()
    b = search(spark, tri, q, top_k=10, default_type="union").collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]
