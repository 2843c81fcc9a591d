#!/usr/bin/env python
"""Build a seeded index, stage and commit batches into it, and print
one line per artifact table: its row count and a SHA-256 of its rows.

    python scripts/dump_index_artifacts.py [WORKDIR] > out.txt

The build/staging counterpart of ``dump_rest_responses.py``: run it on
two checkouts and diff the outputs — a change to the build or staging
code that keeps the index format must print the same lines. It builds
a 72,000-doc ``synth_webtext`` index (seed 42) in 64 term buckets,
with n-gram postings over the 20 most frequent terms and a ``lang``
facet. At 72,000 docs the index has two 65,536-docid blocks, and each
(term, block) run is spliced from several tokenize batches' segments.

Then, each on the built index and removed afterwards, it stages a
1,000-doc held-out batch four ways: as a ``pyarrow.Table`` and as a
Spark DataFrame, each with builder docids and with caller ids
(``id_col``; the ids continue the index's own, so the batch shares
its last block). Last it stages and commits a Table batch with
builder ids and then a DataFrame batch with caller ids, and prints the
committed tables. On the committed index it then builds the spell and
completion dictionaries and prints them, collapses the term-stats
partials (``compact_term_stats``) and prints term_stats, and deletes
the docs matching one term and compacts (``compact``), printing the
rewritten postings.

A table's digest hashes its columns in name order after sorting the
rows by the table's key (postings: tbucket, block_id, term, field;
term_stats: tbucket, term; doc_meta: docid, field; facets: facet,
block_id; spell: dbucket, dkey, term; completions: pbucket, prefix,
rank), so it does not depend on file layout. Each partitioned
table also prints its number of partition dirs and the set of
per-dir file counts. Takes about 3–4 minutes on a 4-vCPU host;
WORKDIR (default: a new temp dir, removed afterwards) holds about
65 MB.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_DOCS = 72_000
BATCH = 1_000
FREQUENT = [f"term{i:05d}" for i in range(20)]
KEYS = {
    "postings": ("tbucket", ["tbucket", "block_id", "term", "field"]),
    "term_stats": ("tbucket", ["tbucket", "term"]),
    "doc_meta": (None, ["docid", "field"]),
    "facets": ("facet", ["facet", "block_id"]),
    "spell": ("dbucket", ["dbucket", "dkey", "term"]),
    "completions": ("pbucket", ["pbucket", "prefix", "rank"]),
}
INDEX_TABLES = ("postings", "term_stats", "doc_meta", "facets")


def digest(root: str, table: str) -> str:
    """``<table> rows=<n> sha256=<hex> [dirs=<n> files=<counts>]``."""
    import pyarrow.dataset as pads

    part, keys = KEYS[table]
    path = os.path.join(root, table)
    line = table
    if not os.path.exists(path):
        return f"{line} absent"
    tbl = pads.dataset(path, partitioning="hive").to_table()
    h = hashlib.sha256()
    if tbl.num_rows:
        tbl = tbl.sort_by([(k, "ascending") for k in keys])
        for name in sorted(tbl.column_names):
            h.update(repr((name, tbl[name].to_pylist())).encode())
    line += f" rows={tbl.num_rows} sha256={h.hexdigest()}"
    if part is not None:
        dirs = sorted(d for d in os.listdir(path) if d.startswith(part + "="))
        files = {
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
            for d in dirs
        }
        line += f" dirs={len(dirs)} files={sorted(files)}"
    return line


def dump(label: str, root: str, tables=INDEX_TABLES) -> None:
    for table in tables:
        print(f"{label} {digest(root, table)}", flush=True)


def main(work: str) -> None:
    from pyspark.sql import functions as F

    from seekstorm_spark import get_spark
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.index.compaction import compact, compact_term_stats
    from seekstorm_spark.query.engine import delete_by_query
    from seekstorm_spark.query.spell import (
        build_completion_dictionary,
        build_spell_dictionary,
    )
    from seekstorm_spark.sources.webtext import synth_webtext
    from seekstorm_spark.streaming.incremental import commit_batch, stage_batch

    spark = get_spark("dump-index-artifacts", master="local[4]",
                      shuffle_partitions=8)
    try:
        docs = synth_webtext(spark, N_DOCS, seed=42).select("text", "lang")
        store = IndexBuilder(
            spark, os.path.join(work, "idx"), n_buckets=64,
            frequent_terms=FREQUENT, facet_cols=["lang"],
        ).build(docs, text_col="text")
        meta = store.meta
        print(f"built n_docs={meta['n_docs']} avgdl={meta['avgdl']}")
        dump("built", store.path)

        def batch(seed: int, form: str, ids: bool):
            df = synth_webtext(spark, BATCH, seed=seed)
            if ids:
                # caller ids continue the index's own: the batch shares
                # its last block with committed docs
                df = df.withColumn(
                    "doc_id",
                    F.substring("url", -10, 10).cast("long")
                    + F.lit(int(store.meta["next_docid"])),
                )
            df = df.select(*(["doc_id"] if ids else []), "text", "lang")
            return df.toArrow() if form == "table" else df

        seed = 100
        for form in ("table", "frame"):
            for ids in (False, True):
                seed += 1
                sb = stage_batch(
                    spark, store, batch(seed, form, ids), batch_id=seed,
                    id_col="doc_id" if ids else None,
                )
                label = f"staged-{form}-{'idcol' if ids else 'builder'}"
                print(f"{label} manifest n={sb.batch_n} "
                      f"pos_sum={sb.batch_pos_sum} next={sb.next_docid}")
                dump(label, sb.stage_path)
                shutil.rmtree(sb.stage_path)

        for seed, form, ids in ((201, "table", False), (202, "frame", True)):
            sb = stage_batch(
                spark, store, batch(seed, form, ids), batch_id=seed,
                id_col="doc_id" if ids else None,
            )
            store = commit_batch(spark, store, sb)
        meta = store.meta
        print(f"committed n_docs={meta['n_docs']} "
              f"next_docid={meta['next_docid']} "
              f"pos_sum={meta['positions_sum_normalized']}")
        dump("committed", store.path)

        build_spell_dictionary(spark, store)
        build_completion_dictionary(spark, store)
        dump("dictionaries", store.path, ("spell", "completions"))
        compact_term_stats(spark, store)
        dump("compact-term-stats", store.path, ("term_stats",))
        delete_by_query(spark, store, "term00150")
        store = compact(spark, store)
        meta = store.meta
        print(f"compacted n_docs={meta['n_docs']} avgdl={meta['avgdl']}")
        dump("compacted", store.path, ("postings",))
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1:
        os.makedirs(sys.argv[1], exist_ok=True)
        main(sys.argv[1])
    else:
        tmp = tempfile.mkdtemp(prefix="dump-index-artifacts-")
        try:
            main(tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
