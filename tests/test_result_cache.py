"""Frequent-term result cache: driver-served single-term queries
(reference search.rs:3388-3445 cached top-1000, index.rs:1644) —
bit-identical to the kernel path, zero Spark jobs on a hit, and
generation-invalidated by appends until rebuilt."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder, assign_docids
from seekstorm_spark.query import result_cache
from seekstorm_spark.query.engine import search
from seekstorm_spark.query.result_cache import (
    build_result_cache,
    cached_single_term,
)
from seekstorm_spark.sources.webtext import synth_webtext


@pytest.fixture(scope="module")
def cached_store(spark, tmp_path_factory):
    docs = assign_docids(synth_webtext(spark, 400, seed=31), order_col="url")
    path = str(tmp_path_factory.mktemp("rcache") / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=8,
        frequent_terms=["term00000", "term00001"],
    ).build(docs, text_col="text", id_col="docid")
    return store


def _is_local(df) -> bool:
    """Cache hits build from driver-resident rows: the plan is a bare
    local/RDD scan with no parquet read, no exchange, no kernel."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    ) and "parquet" not in plan.lower()


def test_cache_hit_identical_and_local(spark, cached_store):
    store = cached_store
    kernel = search(spark, store, "term00000", top_k=25).collect()
    assert not _is_local(search(spark, store, "term00000", top_k=25))

    keys = build_result_cache(spark, store, k=100)
    assert "term00000" in keys and "term00001" in keys

    hit_df = search(spark, store, "term00000", top_k=25)
    assert _is_local(hit_df)
    hit = hit_df.collect()
    assert [tuple(r) for r in hit] == [tuple(r) for r in kernel]

    # offset slices inside the cached list
    page = search(spark, store, "term00000", top_k=10, offset=5).collect()
    assert [tuple(r) for r in page] == [tuple(r) for r in kernel[5:15]]


def test_cache_ineligible_paths_fall_through(spark, cached_store):
    store = cached_store
    build_result_cache(spark, store, k=50)
    # two-term query: kernel path
    assert not _is_local(search(spark, store, "term00000 term00001"))
    # uncached term: kernel path
    assert not _is_local(search(spark, store, "term00002"))
    # deeper than the cache: kernel path (cache holds k=50 full lists)
    deep = search(spark, store, "term00000", top_k=5000)
    kernel = search(spark, store, "term00000", top_k=5000, prune=False)
    assert {tuple(r) for r in deep.collect()} == {
        tuple(r) for r in kernel.collect()
    }
    # NOT query: kernel path
    assert not _is_local(search(spark, store, "term00000 -term00001"))


def test_cache_invalidated_by_append_then_rebuilt(spark, tmp_path):
    from seekstorm_spark.streaming.incremental import append_batch

    docs = assign_docids(synth_webtext(spark, 300, seed=37), order_col="url")
    path = str(tmp_path / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=8, frequent_terms=["term00000"]
    ).build(docs, text_col="text", id_col="docid")
    build_result_cache(spark, store, k=100)
    assert _is_local(search(spark, store, "term00000", top_k=10))

    more = assign_docids(
        synth_webtext(spark, 60, seed=38), order_col="url"
    ).withColumn("docid", F.col("docid") + 1000)
    store = append_batch(spark, store, more, text_col="text", id_col="docid")

    # generation moved: the stale cache must NOT serve
    post = search(spark, store, "term00000", top_k=10)
    assert not _is_local(post)
    kernel_rows = post.collect()

    # rebuild → serves again, identical to the post-append kernel
    build_result_cache(spark, store, k=100)
    again = search(spark, store, "term00000", top_k=10)
    assert _is_local(again)
    assert [tuple(r) for r in again.collect()] == [
        tuple(r) for r in kernel_rows
    ]
    assert cached_single_term(store, "term00000", 10) is not None


def test_search_many_splices_cached_queries(spark, cached_store):
    """Batched serving: a query answerable from the result cache
    rides as a local-relation branch (its term stays out of the fused
    scan), bit-identical per query to search()."""
    from seekstorm_spark.query.engine import search_many

    store = cached_store
    build_result_cache(spark, store, k=50)
    queries = ["term00000", "term00002 term00003", "term00001"]
    batched = search_many(spark, store, queries, top_k=10).collect()
    for i, q in enumerate(queries):
        single = search(spark, store, q, top_k=10).collect()
        got = sorted(
            ((r["docid"], r["score"]) for r in batched if r["query_id"] == i),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == [(r["docid"], r["score"]) for r in single], q

    # an all-cached batch plans with no index scan at all
    all_cached = search_many(spark, store, ["term00000", "term00001"], top_k=10)
    plan = all_cached._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()
    # None filter entries still count as unfiltered → cached
    nf = search_many(
        spark, store, ["term00000"], top_k=10, facet_filters=[None],
    )
    assert "parquet" not in (
        nf._jdf.queryExecution().executedPlan().toString().lower()
    )
    # a field filter changes scoring semantics → kernel, not cache
    ff = search_many(
        spark, store, ["term00000"], top_k=10, field_filter=["text"],
    )
    assert "parquet" in (
        ff._jdf.queryExecution().executedPlan().toString().lower()
    )


def test_realtime_commit_rebuilds_cache(spark, tmp_path):
    """A RealtimeIndexer commit moves the index generation; when a
    result cache exists it is rebuilt in the same commit (reference
    rebuilds its result cache per commit) — cached serving resumes
    immediately and reflects the committed docs."""
    from seekstorm_spark.streaming.incremental import RealtimeIndexer

    docs = assign_docids(synth_webtext(spark, 200, seed=43), order_col="url")
    path = str(tmp_path / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=4, frequent_terms=["term00000"]
    ).build(docs, text_col="text", id_col="docid")
    build_result_cache(spark, store, k=50)

    idx = RealtimeIndexer(spark, store, text_col="text", id_col="docid",
                          commit_every=10_000)
    more = assign_docids(
        synth_webtext(spark, 40, seed=44), order_col="url"
    ).withColumn("docid", F.col("docid") + 500)
    idx.add_documents(more)
    store = idx.commit()

    hit_df = search(spark, store, "term00000", top_k=10)
    assert _is_local(hit_df)  # cache valid again right after commit
    # identity vs the kernel: a deeper-than-cache request bypasses the
    # cache, so its top 10 is the kernel's answer over committed docs
    deep = search(spark, store, "term00000", top_k=10_000).collect()
    top = sorted(
        ((r["docid"], r["score"]) for r in deep),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [(r["docid"], r["score"]) for r in hit_df.collect()] == top


def _bypassed_kernel(spark, store, queries, k):
    """search_many over ``queries`` with the result cache bypassed
    → one [(docid, f32 score)] list per query, score desc, docid asc."""
    from unittest import mock

    from seekstorm_spark.query.engine import search_many

    with mock.patch.object(
        result_cache, "cached_single_term", lambda *a, **kw: None
    ):
        rows = search_many(spark, store, queries, top_k=k).collect()
    out = [[] for _ in queries]
    for r in rows:
        out[r["query_id"]].append((r["docid"], r["score"]))
    return [sorted(hits, key=lambda t: (-t[1], t[0])) for hits in out]


def _assert_cache_is_kernel(spark, store):
    """The on-disk cache, term by term, == the bypassed kernel's
    top-k of the query string it was planned from."""
    meta_gen, k, by_term = result_cache._load(store)
    assert meta_gen == result_cache._generation(store)
    with open(f"{store.path}/result_cache/cache_meta.json") as f:
        meta = json.load(f)
    kernel = _bypassed_kernel(spark, store, meta["source_terms"], k)
    assert meta["terms"] and all(kernel)
    for key, hits in zip(meta["terms"], kernel):
        assert by_term[key] == hits, key


def _rebuild_jobs(spark, store) -> list:
    """Spark job ids (statusTracker, own job group) started by one
    rebuild_result_cache call."""
    from seekstorm_spark.query.result_cache import rebuild_result_cache

    sc = spark.sparkContext
    sc.setJobGroup("rc_rebuild", "rc_rebuild")
    try:
        assert rebuild_result_cache(spark, store)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup("rc_rebuild"))


FREQ = ["term00000", "term00001", "term00003", "Term00002", "zzzmissing"]


def test_driver_cache_equals_kernel_after_build(spark, tmp_path):
    """Several 64-doc blocks, so the driver kernel's pruning and
    per-block merges run; an absent frequent term is not cached."""
    docs = assign_docids(synth_webtext(spark, 300, seed=51), order_col="url")
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4, block_size=64,
        frequent_terms=FREQ,
    ).build(docs, text_col="text", id_col="docid")
    keys = build_result_cache(spark, store, k=40)
    assert sorted(keys) == [
        "term00000", "term00001", "term00002", "term00003",
    ]
    _assert_cache_is_kernel(spark, store)
    assert _rebuild_jobs(spark, store) == []
    _assert_cache_is_kernel(spark, store)


def test_driver_cache_equals_kernel_after_commit(spark, tmp_path):
    from seekstorm_spark.streaming.incremental import RealtimeIndexer

    docs = assign_docids(synth_webtext(spark, 200, seed=52), order_col="url")
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4, block_size=64,
        frequent_terms=FREQ,
    ).build(docs, text_col="text", id_col="docid")
    build_result_cache(spark, store, k=30)
    idx = RealtimeIndexer(spark, store, text_col="text", id_col="docid",
                          commit_every=10_000)
    more = assign_docids(
        synth_webtext(spark, 80, seed=53), order_col="url"
    ).withColumn("docid", F.col("docid") + 250)
    idx.add_documents(more)
    store = idx.commit()
    # the commit's rebuild covers the committed docs (several rows
    # per (term, field, block) now)
    _assert_cache_is_kernel(spark, store)
    assert _rebuild_jobs(spark, store) == []


def test_driver_cache_equals_kernel_with_deletes(spark, tmp_path):
    from seekstorm_spark.query.engine import delete_documents

    docs = assign_docids(synth_webtext(spark, 300, seed=54), order_col="url")
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4, block_size=64,
        frequent_terms=FREQ,
    ).build(docs, text_col="text", id_col="docid")
    top = _bypassed_kernel(spark, store, ["term00000"], 30)[0]
    gone = [d for d, _s in top[:5]] + [d for d, _s in top[-3:]] + [1, 70]
    delete_documents(spark, store, gone)
    build_result_cache(spark, store, k=30)
    _assert_cache_is_kernel(spark, store)
    _gen, _k, by_term = result_cache._load(store)
    assert not {d for d, _s in by_term["term00000"]} & set(gone)


def test_driver_cache_equals_kernel_two_fields(spark, tmp_path):
    """Two indexed fields: a term's score sums its per-field rows with
    the index's field boosts."""
    docs = assign_docids(
        synth_webtext(spark, 250, seed=55), order_col="url"
    ).select(
        "docid",
        F.substring_index("text", " ", 6).alias("title"),
        F.col("text").alias("body"),
    )
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4, block_size=64,
        fields=["title", "body"], frequent_terms=FREQ,
    ).build(docs, id_col="docid")
    build_result_cache(spark, store, k=30)
    _assert_cache_is_kernel(spark, store)


def test_reader_whose_rows_file_is_gone_falls_back(spark, tmp_path):
    """Each rebuild writes its own rows file and the meta names it; a
    rebuild removes the file the old meta named. A reader that read
    that old meta finds its file gone → no cache, and the query runs
    the kernel."""
    import os

    docs = assign_docids(synth_webtext(spark, 150, seed=56), order_col="url")
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4,
        frequent_terms=["term00000"],
    ).build(docs, text_col="text", id_col="docid")
    cache_dir = os.path.join(store.path, "result_cache")

    def rows_files():
        return sorted(f for f in os.listdir(cache_dir) if f.endswith(".parquet"))

    build_result_cache(spark, store, k=20)
    first = rows_files()
    build_result_cache(spark, store, k=20)
    second = rows_files()
    assert len(first) == len(second) == 1 and first != second
    with open(os.path.join(cache_dir, "cache_meta.json")) as f:
        assert json.load(f)["data"] == second[0]

    kernel = [
        tuple(r)
        for r in search(spark, store, "term00000", top_k=10, prune=False)
        .collect()
    ]
    os.remove(os.path.join(cache_dir, second[0]))
    result_cache._SERVE_CACHE.clear()
    assert result_cache._load(store) is None
    assert cached_single_term(store, "term00000", 10) is None
    miss = search(spark, store, "term00000", top_k=10)
    assert not _is_local(miss)
    assert [tuple(r) for r in miss.collect()] == kernel
