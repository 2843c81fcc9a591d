"""Index lifecycle: creating and clearing an index writes empty
tables plus meta without a Spark job, and a streamed index starts
empty, answers queries before its first batch, and grows exactly as
``append_batch`` does."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from seekstorm_spark.index.builder import IndexBuilder, clear_index
from seekstorm_spark.index.store import IndexStore
from seekstorm_spark.query.engine import count_matches, search
from seekstorm_spark.server import IndexService
from seekstorm_spark.sources.webtext import synth_webtext
from seekstorm_spark.streaming.incremental import (
    append_batch,
    start_incremental_indexing,
)

QUERIES = ["term00001", "term00004 term00009", "+term00000 +term00002"]


def _jobs(spark, group: str, fn):
    """Run ``fn`` in a fresh job group → (its result, the group's
    Spark job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _without_built_at(meta: dict) -> dict:
    return {k: v for k, v in meta.items() if k != "built_at"}


def _hits(spark, store, query: str):
    return [
        (r["docid"], r["score"])
        for r in search(spark, store, query, top_k=50).collect()
    ]


def test_create_and_clear_run_no_spark_job(spark, tmp_path):
    svc = IndexService(spark, {}, writable=True, index_root=str(tmp_path))
    _, jobs = _jobs(spark, "lifecycle-create", lambda: svc.create_index(
        {"name": "fresh"}
    ))
    assert jobs == []
    created = IndexStore.open(str(tmp_path / "fresh"))
    for table in ("postings", "term_stats", "doc_meta"):
        assert os.path.isdir(os.path.join(created.path, table)), table

    # the same meta a Spark build over no documents writes
    empty = spark.createDataFrame([], "doc_id long, text string")
    built = IndexBuilder(spark, str(tmp_path / "built"), n_buckets=8).build(
        empty, text_col="text", id_col="doc_id"
    )
    assert _without_built_at(created.meta) == _without_built_at(built.meta)
    assert search(spark, created, "term00001", top_k=5).collect() == []
    assert count_matches(spark, created, "term00001", "union") == 0

    store = IndexBuilder(
        spark, str(tmp_path / "full"), n_buckets=4, facet_cols=["lang"]
    ).build(synth_webtext(spark, 40, seed=3), text_col="text")
    assert store.n_docs == 40
    cleared, jobs = _jobs(
        spark, "lifecycle-clear", lambda: clear_index(spark, store)
    )
    assert jobs == []
    assert cleared.n_docs == 0
    assert os.path.isdir(cleared.facets_path)
    assert search(spark, cleared, "term00001", top_k=5).collect() == []


def test_create_over_old_files_starts_empty(spark, tmp_path):
    """An index closed (or never loaded) leaves its files under
    ``index_root``; creating one with the same name must not serve
    them, and its first append must not reuse their docids."""
    path = str(tmp_path / "old")
    old = IndexBuilder(spark, path, n_buckets=4).build(
        synth_webtext(spark, 40, seed=5), text_col="text"
    )
    assert count_matches(spark, old, "term00001", "union") > 0
    os.makedirs(os.path.join(path, "deletes"))
    svc = IndexService(
        spark, {"old": path}, writable=True, index_root=str(tmp_path)
    )
    svc.close_index("old")
    _, jobs = _jobs(spark, "lifecycle-recreate", lambda: svc.create_index(
        {"name": "old"}
    ))
    assert jobs == []
    store = svc.stores["old"]
    assert store.n_docs == 0
    assert sorted(
        e for e in os.listdir(path) if os.path.isdir(os.path.join(path, e))
    ) == ["doc_meta", "postings", "term_stats"]
    for table in ("postings", "term_stats", "doc_meta"):
        assert os.listdir(os.path.join(path, table)) == [], table
    assert search(spark, store, "term00001", top_k=5).collect() == []
    assert count_matches(spark, store, "term00001", "union") == 0


def test_stream_matches_append_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    idx, ckpt = str(tmp_path / "stream"), str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema("text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return start_incremental_indexing(
            spark, stream, idx, ckpt, n_buckets=4,
            trigger={"availableNow": True},
        )

    # no files yet: the index exists, empty, before any batch
    query, jobs = _jobs(spark, "lifecycle-stream", start)
    query.awaitTermination()
    assert jobs == []
    store = IndexStore.open(idx)
    assert store.n_docs == 0
    assert search(spark, store, "term00001", top_k=5).collect() == []
    assert count_matches(spark, store, "term00001", "union") == 0

    # two files → two micro-batches, oldest file first
    texts = synth_webtext(spark, 80, seed=11).select("text").toPandas()["text"]
    halves = [list(texts[:45]), list(texts[45:])]
    files = []
    for i, half in enumerate(halves):
        f = str(src / f"part-{i}.parquet")
        pq.write_table(pa.table({"text": half}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
        files.append(f)
    query = start()
    query.awaitTermination()
    store = IndexStore.open(idx)
    assert store.meta["applied_batches"] == [0, 1]
    assert store.n_docs == 80

    ref = IndexBuilder(spark, str(tmp_path / "ref"), n_buckets=4).build(
        spark.createDataFrame([], "text string"), text_col="text"
    )
    for i, f in enumerate(files):
        ref = append_batch(spark, ref, spark.read.parquet(f), batch_id=i)
    for q in QUERIES:
        assert _hits(spark, store, q) == _hits(spark, ref, q), q
        for mode in ("union", "intersection"):
            assert count_matches(spark, store, q, mode) == count_matches(
                spark, ref, q, mode
            ), (q, mode)
    assert _hits(spark, store, QUERIES[0])  # the corpus matches at all


def test_write_meta_is_atomic(tmp_path):
    """meta.json is the commit point: a write whose dump fails midway
    leaves the previous meta.json whole and no temp file behind."""
    import pytest

    store = IndexStore(path=str(tmp_path), meta={"n_docs": 3, "fields": ["text"]})
    store.write_meta()
    store.meta.update(n_docs=4, unserializable=object())
    with pytest.raises(TypeError):
        store.write_meta()
    assert IndexStore.open(str(tmp_path)).meta == {
        "n_docs": 3, "fields": ["text"]
    }
    assert os.listdir(tmp_path) == ["meta.json"]
