"""Realtime level-0 (search the uncommitted micro-batch) and O(batch)
append cost.

Reference behavior: every indexed doc is searchable immediately —
uncommitted level-0 postings are searched alongside committed levels
(`/root/reference/seekstorm/src/realtime_search.rs:921-2095`). Here a
staged micro-batch is unioned into the query via
``search(..., staged=[batch])`` before its commit.

The O(batch) gate is structural, not a wall-clock race: appends must
never rewrite existing term_stats/postings files (the log-structured
contract) — a per-batch cost that can't grow with index size.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder
from seekstorm_spark.query.engine import count_matches, search
from seekstorm_spark.sources.webtext import synth_webtext
from seekstorm_spark.streaming.incremental import (
    append_batch,
    commit_batch,
    stage_batch,
)

N_DOCS = 600


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_webtext(spark, N_DOCS, seed=7).withColumn(
        "docnum", F.monotonically_increasing_id()
    )
    # stable contiguous ids so halves are deterministic
    from seekstorm_spark.index.builder import assign_docids

    docs = assign_docids(docs, order_col="url").cache()
    yield docs
    docs.unpersist()


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def test_staged_batch_searchable_before_commit(spark, corpus, tmp_path):
    half = corpus.filter(F.col("docid") < N_DOCS // 2)
    rest = corpus.filter(F.col("docid") >= N_DOCS // 2)
    full_store = IndexBuilder(spark, str(tmp_path / "full"), n_buckets=8).build(
        corpus, text_col="text", id_col="docid"
    )
    rt = IndexBuilder(spark, str(tmp_path / "rt"), n_buckets=8).build(
        half, text_col="text", id_col="docid"
    )
    staged = stage_batch(
        spark, rt, rest, text_col="text", batch_id=1, id_col="docid"
    )
    assert staged is not None and staged.batch_n == N_DOCS - N_DOCS // 2

    for q, dt in [
        ("term00000 term00004", "intersection"),
        ("term00002 term00009", "union"),
        ('"term00000 term00001"', "union"),
        ("term00000 -term00017", "union"),
    ]:
        pre = search(spark, rt, q, top_k=10, default_type=dt, staged=[staged])
        full = search(spark, full_store, q, top_k=10, default_type=dt)
        assert _rows(pre) == _rows(full), q
    assert count_matches(
        spark, rt, "term00000 term00004", "intersection", staged=[staged]
    ) == count_matches(spark, full_store, "term00000 term00004", "intersection")

    # without staged=, the uncommitted docs are invisible
    pre_invisible = search(
        spark, rt, "term00000 term00004", top_k=10, default_type="intersection"
    )
    assert len(_rows(pre_invisible)) <= len(_rows(full))

    # commit promotes the same data — results unchanged
    commit_batch(spark, rt, staged)
    for q, dt in [("term00000 term00004", "intersection")]:
        post = search(spark, rt, q, top_k=10, default_type=dt)
        full = search(spark, full_store, q, top_k=10, default_type=dt)
        assert _rows(post) == _rows(full), q


def _file_states(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def test_append_is_o_batch_structurally(spark, corpus, tmp_path):
    """An append must ADD files only: every pre-existing postings and
    term_stats file survives byte-identical (same path, same mtime).
    That is the log-structured contract that makes append cost
    independent of index size — the round-2 appends rewrote the whole
    term_stats table per batch."""
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=8).build(
        corpus.filter(F.col("docid") < 200), text_col="text", id_col="docid"
    )
    b1 = corpus.filter((F.col("docid") >= 200) & (F.col("docid") < 300))
    append_batch(spark, store, b1, batch_id=1, id_col="docid")

    before_ts = _file_states(store.term_stats_path)
    before_po = _file_states(store.postings_path)

    b2 = corpus.filter((F.col("docid") >= 300) & (F.col("docid") < 400))
    append_batch(spark, store, b2, batch_id=2, id_col="docid")

    after_ts = _file_states(store.term_stats_path)
    after_po = _file_states(store.postings_path)
    for rel, mt in before_ts.items():
        assert after_ts.get(rel) == mt, f"term_stats file rewritten: {rel}"
    for rel, mt in before_po.items():
        assert after_po.get(rel) == mt, f"postings file rewritten: {rel}"
    new_ts = set(after_ts) - set(before_ts)
    assert new_ts and all("batch2-" in f for f in new_ts)

    # and the appended docs are correct: stats probe sums partials
    full = IndexBuilder(spark, str(tmp_path / "full2"), n_buckets=8).build(
        corpus.filter(F.col("docid") < 400), text_col="text", id_col="docid"
    )
    q = "term00001 term00005"
    assert _rows(search(spark, store, q, top_k=10, default_type="union")) == _rows(
        search(spark, full, q, top_k=10, default_type="union")
    )


def test_faceted_append_filters_and_sorts(spark, tmp_path):
    """Round-2 ADVICE defect: appended blocks were invisible to facet
    filters and crashed result_sort. Appends now stage+promote facet
    blocks encoded against the frozen dictionaries."""
    docs = synth_webtext(spark, 300, seed=11)
    from seekstorm_spark.index.builder import assign_docids

    docs = assign_docids(docs, order_col="url").withColumn(
        "lang", F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
            (F.col("docid") % 3 + 1).cast("int"),
        )
    ).withColumn("nlen", F.length("text").cast("long")).cache()
    store = IndexBuilder(
        spark, str(tmp_path / "fidx"), n_buckets=8, facet_cols=["lang", "nlen"]
    ).build(docs.filter(F.col("docid") < 200), text_col="text", id_col="docid")
    append_batch(
        spark, store, docs.filter(F.col("docid") >= 200), batch_id=1,
        id_col="docid",
    )
    hits = search(
        spark, store, "term00000", top_k=300, default_type="union",
        facet_filters={"lang": ["en"]},
    ).collect()
    got = {r["docid"] for r in hits}
    assert any(d >= 200 for d in got), "appended docs missing from facet filter"
    # result_sort over appended blocks must not crash and must decode
    srt = search(
        spark, store, "term00000", top_k=300, default_type="union",
        result_sort=[("lang", "asc"), ("score", "desc")],
    ).collect()
    assert any(r["docid"] >= 200 for r in srt)
    assert all(r["lang"] in ("de", "en", "fr") for r in srt)
    docs.unpersist()


def test_faceted_append_rejects_new_dictionary_values(spark, tmp_path):
    docs = synth_webtext(spark, 100, seed=3)
    from seekstorm_spark.index.builder import assign_docids

    docs = assign_docids(docs, order_col="url").withColumn(
        "lang", F.lit("en")
    )
    store = IndexBuilder(
        spark, str(tmp_path / "fidx2"), n_buckets=8, facet_cols=["lang"]
    ).build(docs, text_col="text", id_col="docid")
    bad = docs.limit(5).withColumn("lang", F.lit("zz")).withColumn(
        "docid", F.col("docid") + 1000
    )
    with pytest.raises(ValueError, match="not in the index dictionary"):
        append_batch(spark, store, bad, batch_id=9, id_col="docid")
    # nothing promoted: original results intact
    assert store.meta.get("applied_batches") in (None, [],)


def test_realtime_indexer_multi_batch_and_autocommit(spark, tmp_path):
    """RealtimeIndexer: several uncommitted batches chain docid ranges,
    are all searchable pre-commit, and auto-commit at the threshold."""
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.streaming.incremental import RealtimeIndexer

    docs = synth_webtext(spark, 300, seed=21)
    from seekstorm_spark.index.builder import assign_docids

    docs = assign_docids(docs, order_col="url").cache()
    store = IndexBuilder(spark, str(tmp_path / "rt2"), n_buckets=8).build(
        docs.filter(F.col("docid") < 100), text_col="text", id_col="docid"
    )
    rti = RealtimeIndexer(spark, store, commit_every=10_000)
    rti.add_documents(
        docs.filter((F.col("docid") >= 100) & (F.col("docid") < 200)).select(
            "url", "text"
        )
    )
    rti.add_documents(docs.filter(F.col("docid") >= 200).select("url", "text"))
    assert len(rti.staged) == 2
    # distinct staged batches occupy distinct block-aligned ranges
    b0, b1 = rti.staged
    assert b1.next_docid > b0.next_docid

    full = IndexBuilder(spark, str(tmp_path / "full3"), n_buckets=8).build(
        docs, text_col="text", id_col="docid"
    )
    q = "term00000 term00002"
    pre = rti.count(q, "intersection")
    want = count_matches(spark, full, q, "intersection")
    assert pre == want

    # low threshold forces auto-commit on the next add
    rti.commit_every = 1
    extra = synth_webtext(spark, 20, seed=99).select("url", "text")
    rti.add_documents(extra)
    assert rti.staged == []  # auto-committed
    # committed store (no staged) now answers with the extra docs too
    post = count_matches(spark, rti.store, q, "intersection")
    assert want <= post <= want + 20 and rti.count(q, "intersection") == post


def test_realtime_indexer_time_based_autocommit(spark, tmp_path):
    """commit_interval_s=0 forces a commit on every add; None (the
    default) leaves batches staged below the doc threshold."""
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.streaming.incremental import RealtimeIndexer

    docs = synth_webtext(spark, 60, seed=33)
    store = IndexBuilder(spark, str(tmp_path / "rtt"), n_buckets=4).build(
        docs, text_col="text", order_col="url"
    )
    rti = RealtimeIndexer(
        spark, store, commit_every=10_000, commit_interval_s=0.0
    )
    rti.add_documents(synth_webtext(spark, 20, seed=44).select("url", "text"))
    assert rti.staged == []  # time trigger fired immediately

    rti2 = RealtimeIndexer(spark, rti.store, commit_every=10_000)
    rti2.add_documents(synth_webtext(spark, 20, seed=55).select("url", "text"))
    assert len(rti2.staged) == 1  # no time trigger, below doc threshold
    rti2.commit()


def test_update_documents_and_delete_by_query(spark, tmp_path):
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import delete_by_query, search
    from seekstorm_spark.streaming.incremental import update_documents

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha delta"),
            (2, "epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    store = IndexBuilder(spark, str(tmp_path / "upd"), n_buckets=4).build(
        docs, text_col="text", id_col="doc_id"
    )
    # update doc 1: new content, old version deleted
    new = spark.createDataFrame([("alpha omega",)], "text string")
    update_documents(spark, store, new, old_docids=[1], batch_id=50)
    hits = {r["docid"] for r in search(spark, store, "omega").collect()}
    assert len(hits) == 1 and 1 not in hits
    hits = {r["docid"] for r in search(spark, store, "delta").collect()}
    assert hits == set()  # old version gone
    hits = {r["docid"] for r in search(spark, store, "alpha").collect()}
    assert 0 in hits and 1 not in hits and len(hits) == 2

    # delete-by-query: every doc matching 'alpha' disappears
    delete_by_query(spark, store, "alpha")
    assert search(spark, store, "alpha").count() == 0
    assert {r["docid"] for r in search(spark, store, "zeta").collect()} == {2}


def test_staged_counts_facets_and_sorts_match_committed(spark, tmp_path):
    """Every caller of the scoring kernel returns over a staged batch
    exactly what it returns once the batch is committed: filtered
    counts, string / numeric-range / geo-distance facet counts, all
    matching docids, a string-facet result sort, and the batched
    twins (search_many, count_matches_many with a df-shortcut term,
    facet_counts_many, facet_range_counts_many,
    geo_range_counts_many). The staged ids interleave with the
    committed ones, so every block carries a committed and a staged
    row per (term, field)."""
    from seekstorm_spark.index.builder import assign_docids
    from seekstorm_spark.query.engine import (
        count_matches_many,
        facet_counts,
        facet_counts_many,
        facet_range_counts,
        facet_range_counts_many,
        geo_range_counts,
        geo_range_counts_many,
        match_docids,
        search_many,
    )

    docs = assign_docids(
        synth_webtext(spark, 400, seed=19), order_col="url"
    ).select(
        "docid",
        "text",
        F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
            (F.col("docid") % 3 + 1).cast("int"),
        ).alias("lang"),
        F.length("text").cast("double").alias("nlen"),
        (F.lit(48.0) + (F.col("docid") % 50) / 10.0).alias("lat"),
        (F.lit(2.0) + (F.col("docid") % 40) / 10.0).alias("lon"),
    ).cache()
    store = IndexBuilder(
        spark, str(tmp_path / "idx"), n_buckets=4, block_size=64,
        facet_cols=["lang", "nlen", "lat", "lon"],
    ).build(
        docs.filter(F.col("docid") % 4 != 3), text_col="text", id_col="docid"
    )
    staged = stage_batch(
        spark, store, docs.filter(F.col("docid") % 4 == 3),
        text_col="text", batch_id=1, id_col="docid",
    )
    assert staged is not None

    q = "term00000 term00001"
    q_and = "+term00000 +term00001"
    geo_spec = {"base": (48.5, 2.5), "ranges": [0.0, 50.0, 200.0],
                "lat": "lat", "lon": "lon"}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def run(st, batches):
        return {
            "count": count_matches(
                spark, st, q, facet_filters={"lang": ["en", "fr"]},
                staged=batches,
            ),
            "facets": rows(facet_counts(spark, st, q, ["lang"], staged=batches)),
            "ranges": rows(
                facet_range_counts(
                    spark, st, q, {"nlen": [0.0, 400.0, 800.0]},
                    staged=batches,
                )
            ),
            "geo": rows(
                geo_range_counts(
                    spark, st, q, (48.5, 2.5), [0.0, 50.0, 200.0],
                    lat="lat", lon="lon", staged=batches,
                )
            ),
            "match": rows(match_docids(spark, st, q, staged=batches)),
            "sorted": [
                tuple(r)
                for r in search(
                    spark, st, q, top_k=40, result_sort=[("lang", "asc")],
                    staged=batches,
                ).collect()
            ],
            "many": rows(
                search_many(spark, st, [q, q_and], top_k=20, staged=batches)
            ),
            "counts_many": count_matches_many(
                spark, st, [q, "term00000", q_and], staged=batches
            ),
            "facets_many": rows(
                facet_counts_many(
                    spark, st, [(q, ["lang"]), (q_and, ["lang"])],
                    staged=batches,
                )
            ),
            "ranges_many": rows(
                facet_range_counts_many(
                    spark, st,
                    [(q, {"nlen": [0.0, 400.0]}),
                     (q_and, {"nlen": [0.0, 400.0, 800.0]})],
                    staged=batches,
                )
            ),
            "geo_many": rows(
                geo_range_counts_many(
                    spark, st, [(q, geo_spec), (q_and, geo_spec)],
                    staged=batches,
                )
            ),
        }

    # staged queries fuse: ONE kernel for the whole batch
    many_plan = search_many(
        spark, store, [q, q_and], top_k=20, staged=[staged]
    )._jdf.queryExecution().optimizedPlan().toString()
    assert many_plan.count("MapInPandas") == 1

    before = run(store, [staged])
    after = run(commit_batch(spark, store, staged), None)
    assert before == after
    assert before["counts_many"][1] > 0
    assert {r[0] for r in before["many"]} == {0, 1}
    assert any(d % 4 == 3 for (d,) in before["match"])
    assert before["count"] > 0 and before["facets"] and before["geo"]
    assert len(before["sorted"]) == 40
    assert any(r[0] % 4 == 3 for r in before["sorted"])
    docs.unpersist()
