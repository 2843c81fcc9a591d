"""Indexed multi-field BM25F e2e: per-field postings, boosts, field
filter, any-field matching, phrase-within-field — reference semantics
from add_result.rs:1171-1426 (per-field tf/dl), search.rs:2483-2495
(field filter), index.rs:5332-5407 (field ids); the reference's own
Wikipedia benchmark indexes title+body as its default shape."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder
from seekstorm_spark.query.engine import (
    count_matches,
    count_matches_many,
    search,
    search_many,
)

DOCS = [
    # (title, body)
    ("spark engine", "fast distributed query engine for big data"),
    ("storage layer", "columnar parquet files and fast scans"),
    ("fast intro", "an introduction to indexing"),
    ("unrelated", "nothing relevant here at all"),
    ("engine tuning", "make the engine fast fast fast"),
]


@pytest.fixture(scope="module")
def mf_store(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(DOCS)),
                "title": [t for t, _ in DOCS],
                "body": [b for _, b in DOCS],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("mf") / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=4, fields=["title", "body"]
    ).build(docs, id_col="doc_id")
    return store


def test_meta_and_stats(mf_store):
    assert mf_store.meta["fields"] == ["title", "body"]
    assert mf_store.n_docs == len(DOCS)
    # avgdl = sum of per-field quantized lengths / doc count
    # title lengths: 2,2,2,1,2 ; body: 7,6,4,5,6 (all < 24 → identity)
    assert mf_store.avgdl == pytest.approx((9 + 28) / 5, rel=1e-6)


def test_any_field_matching(spark, mf_store):
    # "fast" appears in title of doc2 and bodies of 0,1,4
    assert count_matches(spark, mf_store, "fast", "union") == 4
    # AND across fields: doc0 has engine(title+body); doc4 engine+fast
    got = search(spark, mf_store, "engine fast", top_k=10,
                 default_type="intersection").collect()
    assert {r["docid"] for r in got} == {0, 4}


def test_field_filter_restricts_matching(spark, mf_store):
    got = search(
        spark, mf_store, "fast", top_k=10, field_filter=["title"]
    ).collect()
    assert {r["docid"] for r in got} == {2}
    assert (
        count_matches(spark, mf_store, "fast", "union",
                      field_filter=["title"]) == 1
    )


def test_boost_changes_ranking(spark, mf_store):
    # unboosted: doc4 (tf=3 in body) should beat doc2 (tf=1 in title)
    plain = search(spark, mf_store, "fast", top_k=10).collect()
    ranks = [r["docid"] for r in plain]
    assert ranks.index(4) < ranks.index(2)
    # huge title boost flips it
    boosted = search(
        spark, mf_store, "fast", top_k=10,
        fields=[("title", 50.0), ("body", 1.0)],
    ).collect()
    ranks_b = [r["docid"] for r in boosted]
    assert ranks_b.index(2) < ranks_b.index(4)


def test_pruned_equals_unpruned_multifield(spark, mf_store):
    for q, dt in [
        ("fast engine", "union"),
        ("fast engine", "intersection"),
        ("fast -parquet", "union"),
    ]:
        for boosts in (None, [("title", 3.0), ("body", 1.0)]):
            a = search(spark, mf_store, q, top_k=5, default_type=dt,
                       prune=True, fields=boosts).collect()
            b = search(spark, mf_store, q, top_k=5, default_type=dt,
                       prune=False, fields=boosts).collect()
            assert [(r["docid"], r["score"]) for r in a] == [
                (r["docid"], r["score"]) for r in b
            ], (q, dt, boosts)


def test_phrase_within_single_field(spark, mf_store):
    # "engine fast" is adjacent only inside doc4's body ("the engine
    # fast fast fast"); doc0 has engine in title and fast in body —
    # a phrase must NOT match across the field boundary
    got = search(
        spark, mf_store, '"engine fast"', top_k=10, default_type="union"
    ).collect()
    assert {r["docid"] for r in got} == {4}
    # sanity: "fast distributed" adjacent in doc0's body
    got2 = search(
        spark, mf_store, '"fast distributed"', top_k=10,
        default_type="union",
    ).collect()
    assert {r["docid"] for r in got2} == {0}


def test_unknown_field_raises(spark, mf_store):
    with pytest.raises(ValueError):
        search(spark, mf_store, "fast", fields=[("nope", 2.0)])
    # also when no query reaches the kernel (none can match)
    with pytest.raises(ValueError):
        search_many(spark, mf_store, ["@@@"], fields=[("nope", 2.0)])
    with pytest.raises(ValueError):
        search_many(spark, mf_store, ["zzz"], field_filter=["nope"])
    with pytest.raises(ValueError):
        count_matches_many(spark, mf_store, ["@@@", "zzz"], field_filter=["nope"])
    with pytest.raises(ValueError):
        count_matches(spark, mf_store, "@@@", field_filter=["nope"])


@pytest.fixture(scope="module")
def facet_store(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(DOCS)),
                "body": [b for _, b in DOCS],
                "lang": ["en", "de", "en", "fr", "de"],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("fc") / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=4, facet_cols=["lang"]
    ).build(docs, text_col="body", id_col="doc_id")
    return store


def test_facet_filter_in_indexed_search(spark, facet_store):
    # "fast" in bodies of docs 0,1,4; langs en,de,de
    got = search(
        spark, facet_store, "fast", top_k=10,
        facet_filters={"lang": ["de"]},
    ).collect()
    assert {r["docid"] for r in got} == {1, 4}
    # pruned == unpruned under a facet filter
    a = search(spark, facet_store, "fast engine", top_k=3,
               facet_filters={"lang": ["de"]}, prune=True).collect()
    b = search(spark, facet_store, "fast engine", top_k=3,
               facet_filters={"lang": ["de"]}, prune=False).collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]


def test_result_sort_multikey(spark, facet_store):
    got = search(
        spark, facet_store, "fast", top_k=10,
        result_sort=[("lang", "asc"), ("score", "desc")],
    ).collect()
    # matches: doc0 (en), doc1 (de), doc4 (de); sorted de,de,en
    assert [r["lang"] for r in got] == ["de", "de", "en"]
    # within 'de', score desc: doc4 (tf=3) beats doc1 (tf=1)
    assert [r["docid"] for r in got][:2] == [4, 1]


def test_unknown_facet_raises(spark, facet_store):
    with pytest.raises(ValueError):
        search(spark, facet_store, "fast", facet_filters={"nope": ["x"]})


def test_folded_stemmed_index_e2e(spark, tmp_path_factory):
    """Folded tokenizer + Porter stemmer, index- and query-side:
    'café' matches 'cafe', 'running' matches 'runs' (reference
    tokenizer.rs:27-117 fold, 576-592 stemming)."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "the café was running smoothly",
                    "a cafe that runs",
                    "nothing related",
                ],
            }
        )
    )
    path = str(tmp_path_factory.mktemp("fold") / "idx")
    store = IndexBuilder(
        spark,
        path,
        n_buckets=4,
        tokenizer="unicode_alphanumeric_folded",
        stemmer="en",
    ).build(docs, text_col="text", id_col="doc_id")
    # query with the accented form finds the plain form and vice versa
    got = search(spark, store, "cafe", top_k=10).collect()
    assert {r["docid"] for r in got} == {0, 1}
    got = search(spark, store, "café run", top_k=10,
                 default_type="intersection").collect()
    assert {r["docid"] for r in got} == {0, 1}
    assert count_matches(spark, store, "RUNS", "union") == 2


def test_synonyms_multiway_and_oneway(spark, tmp_path_factory):
    """Reference Synonym semantics (index.rs:1077-1098): multi-way —
    every term finds the others; one-way — searches for the FIRST term
    find follower docs, not vice versa."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "the street is long",
                    "an avenue of trees",
                    "a road to nowhere",
                ],
            }
        )
    )
    base = tmp_path_factory.mktemp("syn")
    multi = IndexBuilder(
        spark, str(base / "multi"), n_buckets=4,
        synonyms=[{"terms": ["street", "avenue", "road"], "multiway": True}],
    ).build(docs, text_col="text", id_col="doc_id")
    assert count_matches(spark, multi, "street", "union") == 3
    assert count_matches(spark, multi, "avenue", "union") == 3

    oneway = IndexBuilder(
        spark, str(base / "oneway"), n_buckets=4,
        synonyms=[{"terms": ["street", "avenue", "road"], "multiway": False}],
    ).build(docs, text_col="text", id_col="doc_id")
    assert count_matches(spark, oneway, "street", "union") == 3
    assert count_matches(spark, oneway, "avenue", "union") == 1
    assert count_matches(spark, oneway, "road", "union") == 1
