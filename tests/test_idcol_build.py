"""``id_col`` builds and appends take the segment shuffle: the caller's
ids are range-partitioned and sorted before tokenizing, so input whose
ids interleave across partitions indexes exactly like input in id
order, and a repeated id fails loudly instead of corrupting postings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder
from seekstorm_spark.sources.webtext import synth_webtext
from seekstorm_spark.streaming.incremental import append_batch


def _docs(spark, n, seed):
    return synth_webtext(spark, n, seed=seed, partitions=4).select(
        F.substring("url", -10, 10).cast("long").alias("doc_id"), "text"
    )


def _table(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _artifacts(spark, store):
    return {
        "postings": _table(store.postings(spark)),
        "doc_meta": _table(store.doc_meta(spark)),
        "term_stats": _table(store.term_stats(spark)),
    }


def test_interleaved_ids_match_ordered_build(spark, tmp_path):
    docs = _docs(spark, 600, seed=61).cache()
    try:
        ordered = docs.coalesce(1).sortWithinPartitions("doc_id")
        interleaved = docs.repartition(4, F.rand(7))
        # every partition spans the whole id range
        spans = interleaved.groupBy(F.spark_partition_id().alias("p")).agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()
        assert len(spans) == 4
        assert all(r["lo"] < 50 and r["hi"] > 550 for r in spans)
        got = {}
        for name, df in (("ordered", ordered), ("interleaved", interleaved)):
            store = IndexBuilder(
                spark, str(tmp_path / name), n_buckets=4, block_size=256
            ).build(df, text_col="text", id_col="doc_id")
            assert store.meta["n_docs"] == 600
            got[name] = _artifacts(spark, store)
    finally:
        docs.unpersist()
    for table in ("postings", "doc_meta", "term_stats"):
        assert got["interleaved"][table] == got["ordered"][table], table


def test_duplicate_id_col_build_raises(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c"), (2, "c d"), (2, "d e"), (3, "e f")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="duplicate docid 2"):
        IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=2).build(
            docs, text_col="text", id_col="doc_id"
        )


def test_duplicate_id_col_append_raises(spark, tmp_path):
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=2).build(
        spark.createDataFrame([(0, "a b")], "doc_id long, text string"),
        text_col="text",
        id_col="doc_id",
    )
    batch = spark.createDataFrame(
        [(5, "x y"), (6, "y z"), (6, "z w")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="duplicate docid 6"):
        append_batch(spark, store, batch, text_col="text", id_col="doc_id")
