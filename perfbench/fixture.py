"""Build the serving fixture with the code under test.

    python3 perfbench/fixture.py --out DIR --docs N

Writes DIR/corpus (parquet), DIR/index (the index, its doc store under
``doc_store/`` and the frequent-term result cache) and DIR/fixture.json
(corpus size and text bytes, plus the unpruned in-process top-10 of
every probe query: the reference the REST checks compare against).
Callers key DIR on the engine source hash and the corpus seed, so an
index-format change never serves an old fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import common
import inputs


def build(out: str, n_docs: int) -> None:
    common.apply_env()
    from pyspark.sql import functions as F

    from seekstorm_spark.index.builder import IndexBuilder, assign_docids
    from seekstorm_spark.query.docstore import write_doc_store
    from seekstorm_spark.query.engine import search
    from seekstorm_spark.query.result_cache import build_result_cache
    from seekstorm_spark.session import get_spark
    from seekstorm_spark.sources.webtext import synth_webtext

    spark = get_spark(
        "perfbench-fixture",
        master=f"local[{common.CPUS}]",
        shuffle_partitions=common.shuffle_partitions("build"),
        extra_conf=common.spark_conf("build"),
    )
    try:
        corpus = os.path.join(out, "corpus")
        synth_webtext(
            spark, n_docs, seed=common.CORPUS_SEED, partitions=64
        ).select("url", "text").write.mode("overwrite").parquet(corpus)
        docs = spark.read.parquet(corpus)
        text_bytes = docs.agg(F.sum(F.octet_length("text"))).first()[0]
        path = os.path.join(out, "index")
        store = IndexBuilder(
            spark, path, n_buckets=64, frequent_terms=inputs.FREQUENT_TERMS
        ).build(docs, text_col="text", order_col="url")
        # same order_col and bucket count as the build: identical docids
        write_doc_store(
            assign_docids(docs, order_col="url", n_buckets=64),
            os.path.join(path, "doc_store"),
            fields=["url", "text"],
            docs_per_bucket=1 << 16,
        )
        build_result_cache(spark, store)
        probes = {}
        for q in inputs.probe_queries(common.CORPUS_SEED):
            rows = search(spark, store, q, top_k=10, prune=False).collect()
            probes[q] = [[int(r["docid"]), float(r["score"])] for r in rows]
        meta = {
            "n_docs": int(store.meta["n_docs"]),
            "text_bytes": int(text_bytes),
            "probes": probes,
        }
    finally:
        spark.stop()
    shutil.rmtree(corpus)  # only the index is served
    with open(os.path.join(out, "fixture.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, required=True)
    args = ap.parse_args()
    build(args.out, args.docs)
