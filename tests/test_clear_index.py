"""clear_index — reset to empty while maintaining the schema
(reference ``Index::clear_index``, index.rs:4920-4945). Gates: the
cleared index is empty and fully searchable, every configuration key
(tokenizer, stemmer, stopwords, frequent terms, n-gram patterns,
synonyms, facet dictionaries, API-key hash and rate limit) survives
verbatim, and the cleared index GROWS again through the normal append
path with the frozen facet dictionaries still enforced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder, assign_docids, clear_index
from seekstorm_spark.query.engine import count_matches, search
from seekstorm_spark.server import set_api_key
from seekstorm_spark.sources.webtext import synth_webtext
from seekstorm_spark.streaming.incremental import append_batch


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        assign_docids(synth_webtext(spark, 200, seed=21), order_col="url")
        .withColumn(
            "lang",
            F.element_at(
                F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
                (F.col("docid") % 3 + 1).cast("int"),
            ),
        )
        .withColumn("nlen", F.length("text").cast("double"))
        .cache()
    )
    yield d
    d.unpersist()


def _build(spark, path, docs):
    return IndexBuilder(
        spark,
        str(path),
        n_buckets=8,
        facet_cols=["lang", "nlen"],
        frequent_terms=["term00000", "term00001"],
        stop_words=frozenset({"the"}),
        synonyms=[{"terms": ["term00002", "term00003"], "multiway": True}],
    ).build(docs, text_col="text", id_col="docid")


def test_clear_empties_but_keeps_config(spark, tmp_path, docs):
    store = _build(spark, tmp_path / "idx", docs)
    before = dict(store.meta)
    set_api_key(store.path, "sekrit", rate_limit=7)
    from seekstorm_spark.index.store import IndexStore

    store = IndexStore.open(store.path)
    assert store.meta.get("api_key_sha256")
    keyed = dict(store.meta)

    cleared = clear_index(spark, store)
    assert cleared.meta["n_docs"] == 0
    assert search(spark, cleared, "term00000", top_k=10).collect() == []
    assert count_matches(spark, cleared, "term00000", "union") == 0
    # empty-query browse must also be empty
    from seekstorm_spark.query.engine import browse

    assert browse(spark, cleared, top_k=5).collect() == []

    for key in (
        "tokenizer",
        "stemmer",
        "stop_words",
        "frequent_terms",
        "ngram_patterns",
        "synonyms",
        "fields",
        "n_buckets",
        "block_size",
    ):
        assert cleared.meta.get(key) == before.get(key), key
    # facet dictionaries (schema) survive verbatim
    assert cleared.meta["facets"] == before["facets"]
    assert cleared.meta.get("api_key_sha256") == store.meta["api_key_sha256"]
    # the key keeps its quota
    assert cleared.meta.get("api_key_rate_limit") == 7
    # every key but the corpus state survives verbatim, on disk too
    corpus = {"n_docs", "positions_sum_normalized", "avgdl", "next_docid"}
    on_disk = IndexStore.open(cleared.path).meta
    for key, value in keyed.items():
        if key not in corpus:
            assert on_disk[key] == value, key


def test_cleared_index_grows_again(spark, tmp_path, docs):
    store = _build(spark, tmp_path / "idx2", docs)
    want_all = [
        (r["docid"], r["score"])
        for r in search(spark, store, "term00005", top_k=400).collect()
    ]
    cleared = clear_index(spark, store)
    append_batch(spark, cleared, docs, batch_id=1, id_col="docid")
    got = [
        (r["docid"], r["score"])
        for r in search(spark, cleared, "term00005", top_k=400).collect()
    ]
    # same docs match; scores may differ only via avgdl drift — with
    # the identical corpus re-added under the same ids they are equal
    assert got == want_all
    # frozen facet dictionaries still enforced after the clear
    hits = search(
        spark, cleared, "term00005", top_k=400,
        facet_filters={"lang": ["en"]},
    ).collect()
    assert hits and all(h["docid"] % 3 == 1 for h in hits)
    bad = docs.limit(10).withColumn("lang", F.lit("zz"))
    with pytest.raises(Exception, match="dictionary|facet"):
        append_batch(spark, cleared, bad, batch_id=2, id_col="docid")
