"""Batched multi-query execution: ``search_many`` runs N queries in
one Spark action (fused scan + one exchange + one kernel covering
union/intersection/NOT/phrase/n-gram; staged level-0 batches join the
same scan) and must be BIT-IDENTICAL per query to ``search``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder
from seekstorm_spark.query.engine import (
    delete_documents,
    search,
    search_many,
)
from seekstorm_spark.sources.webtext import synth_webtext

QUERIES = [
    "term00000 term00001",            # union
    "+term00000 +term00001",          # intersection
    "term00002 term00007 term00011",  # 3-term union
    "term00000 -term00001",           # NOT
    '"term00000 term00001"',          # phrase (fused positional join)
    "term00042",                      # single term
    "zzzmissing term00000",           # partial-missing union
    "+zzzmissing +term00000",         # missing AND term → empty
    "term00000 term00000 term00003",  # duplicate term dedup
    "@@@",                            # garbage → empty
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = synth_webtext(spark, 500, seed=42)
    path = str(tmp_path_factory.mktemp("many") / "idx")
    store = IndexBuilder(spark, path, n_buckets=4).build(
        docs, text_col="text", order_col="url"
    )
    return store


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def _batched_rows(batched, i):
    got = [(r["docid"], r["score"]) for r in batched if r["query_id"] == i]
    return sorted(got, key=lambda x: (-x[1], x[0]))


def test_search_many_identical_to_search(spark, built):
    batched = search_many(spark, built, QUERIES, top_k=10).collect()
    for i, q in enumerate(QUERIES):
        single = _rows(search(spark, built, q, top_k=10))
        assert _batched_rows(batched, i) == single, q


def test_batch_100_bit_identity(spark, built):
    """The bench's 100-query fused batch (same generator as
    bench.py's batched_100): every query's page must be bit-identical
    to the sequential path at this batch size — per-query heaps,
    thresholds and NOT-sets must not cross-talk as the batch grows."""
    big_qs = []
    for i in range(100):
        a, b = i % 40, (i * 7 + 3) % 40
        shape = i % 4
        if shape == 0:
            big_qs.append(f"term{a:05d}")
        elif shape == 1:
            big_qs.append(f"term{a:05d} term{b:05d}")
        elif shape == 2:
            big_qs.append(f"+term{a:05d} +term{b:05d}")
        else:
            big_qs.append(f"term{a:05d} -term{b:05d}")
    batched = search_many(spark, built, big_qs, top_k=10).collect()
    # spot-check every 7th query exactly (full 100 sequential runs
    # would dominate suite time); the fused kernel treats all queries
    # of a shape identically, so the stride covers each shape
    for i in range(0, 100, 7):
        single = _rows(search(spark, built, big_qs[i], top_k=10))
        assert _batched_rows(batched, i) == single, big_qs[i]
    # and all 100 produced a (possibly empty) page bounded by top_k
    for i in range(100):
        assert len(_batched_rows(batched, i)) <= 10


def test_search_many_respects_deletes(spark, built):
    victims = [r["docid"] for r in
               search(spark, built, "term00000", top_k=3).collect()]
    delete_documents(spark, built, victims)
    try:
        batched = search_many(spark, built, QUERIES[:4], top_k=10).collect()
        for i, q in enumerate(QUERIES[:4]):
            single = _rows(search(spark, built, q, top_k=10))
            assert _batched_rows(batched, i) == single, q
            assert not (set(victims)
                        & {d for d, _s in _batched_rows(batched, i)})
    finally:
        import shutil

        shutil.rmtree(built.deletes_path, ignore_errors=True)
        from seekstorm_spark.query.engine import invalidate_term_stats_cache

        invalidate_term_stats_cache(built.path)


def test_search_many_multi_row_blocks(spark, built, tmp_path):
    """After an id_col append, a block can hold multiple rows per
    (term, field) — the fused kernel must merge them like the
    single-query kernel does."""
    from seekstorm_spark.streaming.incremental import append_batch

    path = str(tmp_path / "appended")
    store = IndexBuilder(spark, path, n_buckets=4).build(
        synth_webtext(spark, 150, seed=42), text_col="text",
        order_col="url",
    )
    # explicit ids 200..349 share block 0 with the committed 0..149
    # (row_number, not monotonically_increasing_id — the latter embeds
    # partition bits and would scatter most rows into distant blocks)
    from pyspark.sql import Window

    extra = synth_webtext(spark, 150, seed=77).withColumn(
        "doc_id",
        (F.row_number().over(Window.orderBy("url")) + F.lit(199)).cast(
            "long"
        ),
    )
    append_batch(spark, store, extra, batch_id=1, id_col="doc_id")
    qs = QUERIES[:6]
    batched = search_many(spark, store, qs, top_k=10).collect()
    for i, q in enumerate(qs):
        single = _rows(search(spark, store, q, top_k=10))
        assert _batched_rows(batched, i) == single, q


def test_search_many_staged_falls_back(spark, built, tmp_path):
    """Staged level-0 queries fuse like every other query: the batch's
    rows join the shared scan, and each query's results — staged docs
    included — equal its single-query run."""
    from seekstorm_spark.streaming.incremental import stage_batch

    docs = synth_webtext(spark, 300, seed=42)
    path = str(tmp_path / "staged")
    store = IndexBuilder(spark, path, n_buckets=4).build(
        docs, text_col="text", order_col="url"
    )
    staged = stage_batch(
        spark, store, synth_webtext(spark, 50, seed=99), batch_id=7
    )
    qs = ["term00000 term00001", "+term00000 +term00001"]
    batched = search_many(
        spark, store, qs, top_k=10, staged=[staged]
    ).collect()
    for i, q in enumerate(qs):
        single = _rows(search(spark, store, q, top_k=10, staged=[staged]))
        assert _batched_rows(batched, i) == single, q


def test_search_many_empty_inputs(spark, built):
    assert search_many(spark, built, [], top_k=5).count() == 0
    out = search_many(spark, built, ["zzz", "@@@"], top_k=5)
    assert out.count() == 0


def test_search_many_ngram_index(spark, tmp_path):
    """Fused batch over an n-gram index: gram-rewritten phrases
    (single covering bigram/trigram AND multi-unit) stay bit-identical
    to their single-query runs."""
    docs = synth_webtext(spark, 400, seed=42)
    store = IndexBuilder(
        spark, str(tmp_path / "ng"), n_buckets=4,
        frequent_terms=["term00000", "term00001", "term00002",
                        "term00003"],
    ).build(docs, text_col="text", order_col="url")
    qs = [
        '"term00000 term00001"',            # covering bigram (ngram)
        '"term00000 term00001 term00002"',  # covering trigram
        '"term00000 term00001 term00042"',  # gram unit + single term
        '"term00042 term00007"',            # rare pair → positional
        "term00000 term00042",              # plain union alongside
        "+term00001 +term00042",            # intersection alongside
    ]
    batched = search_many(spark, store, qs, top_k=10).collect()
    for i, q in enumerate(qs):
        single = _rows(search(spark, store, q, top_k=10))
        assert _batched_rows(batched, i) == single, q


def test_count_matches_many_identical_to_count(spark, built):
    """count_matches and count_matches_many share one count core, so
    both must also equal match_docids(...).count() — the emit-all
    kernel, with no df shortcut and no count mode — with and without
    field_filter=["text"] (the only field), which turns the df
    shortcuts off."""
    from seekstorm_spark.query.engine import (
        count_matches,
        count_matches_many,
        match_docids,
    )

    qs = [
        "term00000 term00001",
        "+term00000 +term00001",
        "term00000 -term00001",
        "term00042",                      # df shortcut path
        '"term00000 term00001"',          # phrase count
        "+zzzmissing +term00000",         # empty
        "@@@",
    ]
    independent = [match_docids(spark, built, q).count() for q in qs]
    for field_filter in (None, ["text"]):
        got = count_matches_many(spark, built, qs, field_filter=field_filter)
        want = [
            count_matches(spark, built, q, field_filter=field_filter)
            for q in qs
        ]
        assert got == want == independent, field_filter
    assert got[5] == 0 and got[6] == 0 and got[3] > 0


def test_search_many_hybrid_identical_to_single(spark):
    """Batched hybrid serving: every (query, vector) pair's slice of
    ``search_many_hybrid`` is bit-identical to ``search(mode=
    "hybrid")`` — same RRF ranks, rounding, and docid tiebreaks —
    with the lexical side fused and the ANN probes riding the same
    returned plan."""
    from __spark_entry__ import _emb, _wand_store
    from seekstorm_spark.query.engine import search_many_hybrid

    d = "/root/testdata/sf0.001"
    store = _wand_store(spark, d)
    emb = _emb(spark, d).filter(F.col("vec_id") >= 3)
    qvs = [
        [float(x) for x in r["embedding"]]
        for r in _emb(spark, d).filter(F.col("vec_id") < 3).collect()
    ]
    queries = ["fast table", "+fast +broadband", "zzzmissing fast"]

    got = search_many_hybrid(
        spark, store, queries, qvs, top_k=10, vectors_df=emb
    ).collect()
    for i, (q, v) in enumerate(zip(queries, qvs)):
        want = search(
            spark, store, q, top_k=10, mode="hybrid", vector=v, vectors=emb
        ).collect()
        got_i = [(r["docid"], r["rrf_score"]) for r in got
                 if r["query_id"] == i]
        assert got_i == [(r["docid"], r["rrf_score"]) for r in want], q
    assert got  # non-degenerate

    with pytest.raises(ValueError, match="parallel"):
        search_many_hybrid(spark, store, queries, qvs[:2], vectors_df=emb)
    with pytest.raises(ValueError, match="ann_index"):
        search_many_hybrid(spark, store, queries, qvs)
