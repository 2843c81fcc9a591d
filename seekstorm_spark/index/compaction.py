"""Delete-set compaction: rewrite posting blocks minus deleted docs.

The reference recovers deleted documents' space by rewriting index
levels (`/root/reference/seekstorm/src/commit.rs:203-258`,
`index.rs:5081-5200`); until then deletes live in delete.bin and are
filtered at query time. This engine does the same (``deletes/``
parquet filtered inside the kernel) — ``compact`` is the level
rewrite: every posting block drops its deleted docids, term stats and
corpus stats are recomputed from the surviving postings, and the
delete set is reset, shrinking the per-query kernel closure back to
zero.

Docids are NOT renumbered — blocks keep their ranges (gaps are fine;
block-local arrays already tolerate sparse docids), so doc stores /
external references stay valid and the compacted index is
bit-identical to a fresh build over the surviving docs with the same
ids (the pytest gate).

Scale shape: one ``groupBy(tbucket, block_id).applyInPandas`` pass —
the same bounded-task contract as the build (≤65,536 docids per
block × the bucket's vocabulary share); blocks containing no deleted
docid pass through without re-encoding.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from seekstorm_spark.codecs import (
    ROARING_BLOCK_SIZE,
    decode_docids,
    decode_positions,
    decode_tfs,
    encode_docids,
    encode_positions,
    encode_tfs,
)
from seekstorm_spark.index.builder import (
    NGRAM_SEP,
    length_histogram,
    term_stats_aggregate,
    write_term_stats,
)
from seekstorm_spark.index.store import POSTINGS_DDL, IndexStore
from seekstorm_spark.quantization import avgdl_f32, length_stats


def _rewrite_block(
    pdf: pd.DataFrame, dlocal: np.ndarray
) -> Iterable[dict]:
    """One (tbucket, block) group → surviving posting rows."""
    out_rows: list[dict] = []
    kept_docs_by_term: dict[str, list[np.ndarray]] = {}
    first_row_by_term: dict[str, int] = {}
    for _, r in pdf.iterrows():
        d = decode_docids(r["docids_vb"])
        keep = ~np.isin(d, dlocal)
        if not keep.any():
            continue
        row = dict(r)
        tfs = decode_tfs(r["tfs_vb"])
        if not keep.all():
            kept_d = d[keep]
            kept_tfs = tfs[keep]
            dls = np.frombuffer(r["dls"], dtype=np.uint8)[keep]
            # a position belongs to its doc: repeat keep per position
            kept_pos = decode_positions(r["positions_vb"], tfs)[
                np.repeat(keep, tfs)
            ]
            row.update(
                posting_count=int(kept_d.size),
                max_tf=int(kept_tfs.max()),
                min_dl_byte=int(dls.min()),
                docids_vb=encode_docids(kept_d),
                tfs_vb=encode_tfs(kept_tfs),
                dls=dls.tobytes(),
                positions_vb=encode_positions(kept_pos, kept_tfs),
            )
            if NGRAM_SEP in r["term"]:
                n_parts = r["term"].count(NGRAM_SEP) + 1
                for k in range(n_parts):
                    part = decode_tfs(r[f"tfs{k + 1}_vb"])[keep]
                    row[f"tfs{k + 1}_vb"] = encode_tfs(part)
                    row[f"max_tf{k + 1}"] = int(part.max())
            d = kept_d
        term = r["term"]
        kept_docs_by_term.setdefault(term, []).append(d)
        if term not in first_row_by_term:
            first_row_by_term[term] = len(out_rows)
        row["df_block"] = 0
        out_rows.append(row)
    # df_block = distinct surviving docs per term across fields,
    # carried on the term's first row only (sum-safe, as at build)
    for term, chunks in kept_docs_by_term.items():
        df = int(np.unique(np.concatenate(chunks)).size)
        out_rows[first_row_by_term[term]]["df_block"] = df
    return out_rows


def compact_term_stats(spark: SparkSession, store: IndexStore) -> None:
    """Collapse the log-structured term-stats partials that appends
    accumulate (one partial row set per batch) back into one aggregate
    row per term — without touching postings. Readers stay correct
    either way (they sum df per term); this just caps probe fan-in for
    long-running streams. O(term_stats), not O(postings)."""
    n_buckets = int(store.meta.get("n_buckets", 32))
    collapsed = (
        store.term_stats(spark)
        .groupBy("tbucket", "term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf_fields").cast("long").alias("cf_fields"),
            F.sum("n_blocks").cast("int").alias("n_blocks"),
            F.max("max_tf").cast("int").alias("max_tf"),
            F.min("min_dl_byte").cast("int").alias("min_dl_byte"),
            F.sum("bytes").cast("long").alias("bytes"),
        )
    )
    tmp = store.term_stats_path + ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    write_term_stats(collapsed, n_buckets, tmp)
    shutil.rmtree(store.term_stats_path)
    os.rename(tmp, store.term_stats_path)

    from seekstorm_spark.query.engine import invalidate_term_stats_cache

    invalidate_term_stats_cache(store.path)


def compact(spark: SparkSession, store: IndexStore) -> IndexStore:
    """Rewrite the index without its deleted docs and reset the delete
    set. No-op when nothing is deleted. Not crash-atomic on the local
    FS (the postings swap is rmtree+rename); a table-format deployment
    would commit the rewritten files as a new snapshot instead."""
    from seekstorm_spark.query.engine import (
        _load_delete_set,
        invalidate_term_stats_cache,
    )

    deletes = _load_delete_set(store)
    if deletes.size == 0:
        if os.path.exists(store.deletes_path):
            shutil.rmtree(store.deletes_path)
            invalidate_term_stats_cache(store.path)
        return store

    meta = dict(store.meta)
    bs = int(meta.get("block_size", ROARING_BLOCK_SIZE))
    n_buckets = int(meta.get("n_buckets", 32))
    deletes_b = spark.sparkContext.broadcast(deletes)

    def _rw(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        block_id = int(key[1])
        base = block_id * bs
        dels = deletes_b.value
        lo, hi = np.searchsorted(dels, [base, base + bs])
        dlocal = dels[lo:hi] - base
        if dlocal.size == 0:
            return pdf  # untouched block: pass through unchanged
        rows = list(_rewrite_block(pdf, dlocal))
        if not rows:
            return pdf.iloc[0:0]
        return pd.DataFrame(rows)[list(pdf.columns)]

    postings = store.postings(spark)
    rewritten = postings.groupBy("tbucket", "block_id").applyInPandas(
        _rw, schema=POSTINGS_DDL
    )
    tmp_postings = store.postings_path + ".compact"
    shutil.rmtree(tmp_postings, ignore_errors=True)
    (
        rewritten.repartition(n_buckets, "tbucket")
        .sortWithinPartitions("term", "block_id")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(tmp_postings)
    )

    # doc_meta minus deletes (browse/doc store stay consistent)
    dm = store.doc_meta(spark)
    dels_df = spark.createDataFrame(
        [(int(d),) for d in deletes.tolist()], "docid long"
    )
    live_dm = dm.join(F.broadcast(dels_df), "docid", "left_anti")
    tmp_dm = store.doc_meta_path + ".compact"
    shutil.rmtree(tmp_dm, ignore_errors=True)
    live_dm.write.mode("overwrite").parquet(tmp_dm)

    # swap in the rewritten tables
    shutil.rmtree(store.postings_path)
    os.rename(tmp_postings, store.postings_path)
    shutil.rmtree(store.doc_meta_path)
    os.rename(tmp_dm, store.doc_meta_path)
    shutil.rmtree(store.deletes_path, ignore_errors=True)
    invalidate_term_stats_cache(store.path)

    # term stats: full re-aggregate (compaction IS the full pass) —
    # also collapses any log-structured append partials
    write_term_stats(
        term_stats_aggregate(store.postings(spark)), n_buckets,
        store.term_stats_path,
    )

    # corpus stats from the surviving doc_meta (same f32 math as build)
    n_docs, pos_sum = length_stats(length_histogram(store.doc_meta(spark)))
    meta.update(
        {
            "n_docs": n_docs,
            "positions_sum_normalized": pos_sum,
            "avgdl": avgdl_f32(pos_sum, n_docs),
        }
    )
    store.meta = meta
    store.write_meta()
    invalidate_term_stats_cache(store.path)
    deletes_b.unpersist()
    return store
