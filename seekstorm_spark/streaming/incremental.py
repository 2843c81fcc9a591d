"""Incremental / near-real-time indexing via Structured Streaming.

The reference makes every indexed doc searchable immediately
(uncommitted level-0 searched alongside committed levels,
`/root/reference/seekstorm/src/realtime_search.rs:921-2095`) and
auto-commits every 65,536 docs per shard (`index.rs:5513-5521`).

Spark analog — a two-phase append with a searchable staging area:

* ``stage_batch`` tokenizes one micro-batch and writes its postings,
  doc_meta, per-batch term-stats DELTA, and facet blocks to a staging
  dir. The staged batch IS the reference's uncommitted level-0:
  ``query.engine.search(..., staged=[batch])`` unions the staged
  postings/stats into the query, so a doc is searchable the moment
  staging finishes — before any commit.
* ``commit_batch`` promotes the staged files into the live tables
  under deterministic per-batch names and writes meta last.
* ``append_batch`` = stage + commit (the foreachBatch path).

A batch stages in one of two forms, with the same kernels and the
same staged rows (``stage_batch``):

* a Spark DataFrame runs a distributed plan sized for micro-batches:
  every stage runs at most ``P = min(n_buckets, defaultParallelism)``
  tasks (aggregations at most the shuffle width), because a 1,000-doc
  batch costs its per-task overhead, not its per-doc work — about
  50 ms per Python task on a 4-vCPU host. Streaming batches and bulk
  appends of any size take this form.
* a ``pyarrow.Table`` already held by the driver (the REST server's
  ``/docs``) runs the kernels in-process and writes with pyarrow,
  with no Spark job: the boundary costs that are most of a small
  batch's Spark plan are gone. It is single-threaded, so it suits
  micro-batches only.

**Append cost is O(batch), not O(index)**: the term-stats table is
log-structured — each commit appends the batch's own (tbucket, term)
partial aggregates as new files in the touched ``tbucket=`` partitions
(readers sum df per term across partials; the reference equivalently
keeps per-level stats merged at query time). Nothing existing is ever
rewritten, so append wall time is independent of index size.

Appended batches use block ranges disjoint from prior batches (docid
base = running doc count rounded up to a block boundary), so no block
is ever rewritten — the same append-only "no segment merges" design
the reference claims for latency consistency (README.md:192). Stats
(N, avgdl) refresh in meta at each commit; block-max bounds are stored
avgdl-free (format v3+) and computed at query time, so pruning stays
admissible as avgdl drifts across appends.

foreachBatch is at-least-once, so appends are idempotent: staged
writes promoted under deterministic per-batch file names
(``batch<tag>-<i>.parquet``) + applied-batch ids recorded in meta.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seekstorm_spark.codecs import ROARING_BLOCK_SIZE
from seekstorm_spark.hashing import spark_hash, term_buckets
from seekstorm_spark.index.builder import (
    TERM_SEG_SCHEMA,
    IndexBuilder,
    _decode_doc_meta,
    _tokenizer_settings,
    assign_docids,
    build_posting_blocks,
    doc_meta_kernel,
    encode_facet_blocks,
    facet_kernel,
    facet_kind,
    facet_values,
    length_histogram,
    segment_kernel,
    splice_kernel,
    term_stats_aggregate,
    tokenize_to_term_rows,
    write_empty_index,
)
from seekstorm_spark.index.store import (
    DOC_META_DDL,
    FACETS_DDL,
    POSTINGS_DDL,
    TERM_STATS_DDL,
    IndexStore,
    arrow_schema,
)
from seekstorm_spark.quantization import avgdl_f32, length_stats


@dataclass
class StagedBatch:
    """A tokenized-but-uncommitted micro-batch (realtime level-0).

    ``search(..., staged=[batch])`` makes it searchable pre-commit.
    """

    stage_path: str
    tag: str
    batch_id: int | None
    batch_n: int
    batch_pos_sum: int
    next_docid: int

    @property
    def postings_path(self) -> str:
        return os.path.join(self.stage_path, "postings")

    @property
    def term_stats_path(self) -> str:
        return os.path.join(self.stage_path, "term_stats")

    @property
    def doc_meta_path(self) -> str:
        return os.path.join(self.stage_path, "doc_meta")

    @property
    def facets_path(self) -> str:
        return os.path.join(self.stage_path, "facets")

    def save_manifest(self) -> None:
        with open(os.path.join(self.stage_path, "stage_meta.json"), "w") as f:
            json.dump(
                {
                    "tag": self.tag,
                    "batch_id": self.batch_id,
                    "batch_n": self.batch_n,
                    "batch_pos_sum": self.batch_pos_sum,
                    "next_docid": self.next_docid,
                },
                f,
            )

    @classmethod
    def load(cls, stage_path: str) -> "StagedBatch":
        with open(os.path.join(stage_path, "stage_meta.json")) as f:
            m = json.load(f)
        return cls(stage_path=stage_path, **m)


def _promote_staged(stage_dir: str, dest_dir: str, tag: str) -> None:
    """Move staged parquet files into the live table under
    DETERMINISTIC names (``batch<tag>-<i>.parquet``). A retried batch
    re-stages and ``os.replace``s the SAME target names, so a crash
    between promotion and the meta commit never duplicates rows —
    the local-FS analog of an Iceberg append commit."""
    os.makedirs(dest_dir, exist_ok=True)
    files = sorted(
        f for f in os.listdir(stage_dir) if f.endswith(".parquet")
    )
    for i, f in enumerate(files):
        os.replace(
            os.path.join(stage_dir, f),
            os.path.join(dest_dir, f"batch{tag}-{i:05d}.parquet"),
        )


def _promote_partitioned(stage_root: str, dest_root: str, tag: str, prefix: str) -> None:
    for part in sorted(os.listdir(stage_root)):
        if not part.startswith(prefix + "="):
            continue
        _promote_staged(
            os.path.join(stage_root, part),
            os.path.join(dest_root, part),
            tag,
        )


def _check_facets(spark: SparkSession, facet_meta: dict, batch) -> None:
    """Reject a batch that lacks an indexed facet column or carries a
    string value outside the index's EXISTING facet dictionary, before
    anything is staged (the sorted-dictionary ⇒ byte-order invariant
    forbids extending a dictionary in place)."""
    columns = batch.columns if isinstance(batch, DataFrame) else batch.column_names
    missing = [c for c in facet_meta if c not in columns]
    if missing:
        raise ValueError(
            f"batch is missing facet columns {missing}; appends into a "
            "faceted index must carry every indexed facet column"
        )
    for fc, spec in facet_meta.items():
        values = facet_values(spec)
        if values is None:  # numeric facet: any value encodes
            continue
        is_set = facet_kind(spec) == "string_set"
        if isinstance(batch, DataFrame):
            col = (
                batch.select(F.explode(F.col(fc)).alias(fc))
                if is_set
                else batch.select(fc)
            )
            # executor-side anti-join against the broadcast dictionary —
            # only OFFENDING values reach the driver (a pathological
            # batch must fail the gate, not OOM the driver collecting
            # its distincts first)
            dict_df = spark.createDataFrame(
                [(str(v),) for v in values], "__known string"
            )
            new = [
                r[0]
                for r in col.filter(F.col(fc).isNotNull())
                .select(F.col(fc).cast("string").alias(fc))
                .distinct()
                .join(
                    F.broadcast(dict_df),
                    F.col(fc) == F.col("__known"),
                    "left_anti",
                )
                .limit(5)
                .collect()
            ]
        else:
            col = pc.list_flatten(batch[fc]) if is_set else batch[fc]
            seen = {str(v) for v in pc.unique(col).to_pylist() if v is not None}
            new = sorted(seen - set(values))[:5]
        if new:
            raise ValueError(
                f"facet {fc!r}: batch carries values {sorted(map(str, new))} "
                "not in the index dictionary; rebuild with a wider "
                "dictionary (byte order == value order forbids in-place "
                "dictionary growth)"
            )


def _frame_docs(
    batch: DataFrame,
    text_col: str,
    id_col: str | None,
    base_docid: int,
    width: int,
) -> DataFrame:
    """Number a DataFrame batch: range-partitioned on docid into
    ``width`` tasks and sorted, ready for the tokenizer."""
    if id_col is not None:
        return assign_docids(batch, None, id_col=id_col, width=width)
    # order_col sorting happens per hash bucket on one task — fine
    # for micro-batches; bulk loads should pass id_col or use the
    # builder's partition-offset path (see assign_docids docstring).
    # The 16 buckets fix the docids, the width only the tasks
    return assign_docids(
        batch, order_col=text_col, n_buckets=16, width=width
    ).withColumn("docid", F.col("docid") + F.lit(base_docid))


def _table_docs(
    batch: pa.Table,
    text_col: str,
    id_col: str | None,
    base_docid: int,
) -> pa.Table:
    """Number a driver-resident batch with the docids
    :func:`_frame_docs` gives, and sort it by docid, with no Spark job.
    Builder ids mirror ``_rank_in_buckets`` on the text column: the
    bucket is ``pmod(hash(text), 16)`` (``hashing.spark_hash``), and
    the docids run through the buckets in order, each bucket sorted
    by text as Spark sorts it (null first, then UTF-8 byte order,
    equal texts in arrival order)."""
    if id_col is not None:
        ids = pc.cast(batch[id_col], pa.int64())
        if ids.null_count:
            raise ValueError(f"id_col {id_col!r} holds null ids")
        docid = ids.to_numpy()
        order = np.argsort(docid, kind="stable")
        docid = docid[order]
    else:
        # a /docs body whose texts are all null has a null-typed column
        text = batch[text_col].cast(pa.string())
        order = pc.sort_indices(
            pa.table({"b": spark_hash(text) % 16, "t": text}),
            sort_keys=[("b", "ascending"), ("t", "ascending")],
            null_placement="at_start",
        )
        docid = base_docid + np.arange(batch.num_rows, dtype=np.int64)
    if "docid" in batch.column_names:  # id_col="docid", now cast to long
        batch = batch.drop_columns(["docid"])
    return batch.take(order).append_column("docid", pa.array(docid))


def _write_frame(
    spark: SparkSession,
    meta: dict,
    docs: DataFrame,
    stage: str,
    text_col: str,
    width: int,
) -> dict[tuple[int, int], int]:
    """Stage a numbered DataFrame batch with Spark jobs; returns the
    doc_meta (field, dl_byte) histogram."""
    settings = _tokenizer_settings(meta)
    bs = settings["block_size"]
    term_rows = tokenize_to_term_rows(
        docs, text_col, fields=meta.get("fields"), **settings
    ).cache()
    postings = build_posting_blocks(
        term_rows.filter(F.col("term") != ""),
        int(meta.get("n_buckets", 32)),
        block_size=bs,
        width=width,
    ).cache()
    # postings first: this job fills both caches
    postings.write.mode("overwrite").partitionBy("tbucket").parquet(
        os.path.join(stage, "postings")
    )
    # then doc_meta from the cached term='' segments on ONE task (for
    # a 1,000-doc batch on a 4-vCPU host: ~0.4 s, against ~0.5 s when
    # decoded across the 4 tokenize partitions). Coalescing before the
    # cache is filled would serialize the tokenize instead.
    sentinels = term_rows.filter(F.col("term") == "").select(
        "block_id", "field", "docids_vb", "dls"
    )
    _decode_doc_meta(sentinels.coalesce(1), bs).write.mode(
        "overwrite"
    ).parquet(os.path.join(stage, "doc_meta"))
    term_rows.unpersist()

    hist = length_histogram(
        spark.read.schema(DOC_META_DDL).parquet(os.path.join(stage, "doc_meta"))
    )
    # per-batch term-stats DELTA from the cached posting rows only — the
    # O(batch) replacement for re-aggregating the whole index; readers
    # sum df per term across these log-structured partials
    (
        term_stats_aggregate(postings)
        .repartition(width, "tbucket")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(os.path.join(stage, "term_stats"))
    )
    postings.unpersist()

    if meta.get("facets"):
        (
            encode_facet_blocks(docs, meta["facets"], bs)
            .repartition(1, "facet")
            .write.mode("overwrite")
            .partitionBy("facet")
            .parquet(os.path.join(stage, "facets"))
        )
    return hist


def _write_table(
    spark: SparkSession,
    meta: dict,
    docs: pa.Table,
    stage: str,
    text_col: str,
) -> dict[tuple[int, int], int]:
    """Stage a numbered, docid-sorted Table in this process: the
    kernels of :func:`_write_frame`'s plan, then pyarrow writes in the
    same layout (one file per ``tbucket=`` / ``facet=`` dir). Returns
    the doc_meta (field, dl_byte) histogram."""
    settings = _tokenizer_settings(meta)
    bs = settings["block_size"]
    n_buckets = int(meta.get("n_buckets", 32))
    field_cols = list(meta.get("fields") or [text_col])
    tokenize = segment_kernel(field_cols, **settings)
    max_rows = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    segs = pa.Table.from_batches(
        list(tokenize(docs.select(["docid", *field_cols]).to_batches(max_rows))),
        schema=arrow_schema(TERM_SEG_SCHEMA),
    )
    is_sentinel = pc.equal(segs["term"], "")

    # the whole batch's (tbucket, block_id) groups in one splice, each
    # distinct term hashed once
    post = segs.filter(pc.invert(is_sentinel))
    terms = post["term"].combine_chunks().dictionary_encode()
    tbucket = term_buckets(terms.dictionary, n_buckets)[
        terms.indices.to_numpy()
    ]
    postings = splice_kernel(post, tbucket, bs)
    _write_parts(
        postings, "tbucket", arrow_schema(POSTINGS_DDL, "tbucket"),
        os.path.join(stage, "postings"),
    )

    dec = doc_meta_kernel(bs)
    sentinels = segs.filter(is_sentinel).select(
        ["block_id", "field", "docids_vb", "dls"]
    )
    doc_meta = pa.Table.from_batches(
        [
            pa.RecordBatch.from_pandas(
                part, schema=arrow_schema(DOC_META_DDL), preserve_index=False
            )
            for part in dec([sentinels.to_pandas()])
        ],
        schema=arrow_schema(DOC_META_DDL),
    )
    _write_parts(
        doc_meta, None, arrow_schema(DOC_META_DDL),
        os.path.join(stage, "doc_meta"),
    )
    pairs, counts = np.unique(
        np.stack(
            [doc_meta["field"].to_numpy(), doc_meta["dl_byte"].to_numpy()]
        ),
        axis=1,
        return_counts=True,
    )
    hist = {
        (int(f), int(b)): int(c) for (f, b), c in zip(pairs.T, counts)
    }

    # the aggregates of term_stats_aggregate
    nbytes = pc.binary_length(postings["docids_vb"]).cast(pa.int64())
    for c in ("tfs_vb", "dls", "positions_vb"):
        nbytes = pc.add(nbytes, pc.binary_length(postings[c]))
    term_stats = (
        postings.append_column("nbytes", nbytes)
        .group_by(["tbucket", "term"], use_threads=False)
        .aggregate(
            [
                ("df_block", "sum"),
                ("posting_count", "sum"),
                ("block_id", "count"),
                ("max_tf", "max"),
                ("min_dl_byte", "min"),
                ("nbytes", "sum"),
            ]
        )
        .rename_columns(
            ["tbucket", "term", "df", "cf_fields", "n_blocks", "max_tf",
             "min_dl_byte", "bytes"]
        )
        .sort_by([("tbucket", "ascending"), ("term", "ascending")])
    )
    _write_parts(
        term_stats, "tbucket",
        # Spark's count(*) is non-nullable
        arrow_schema(TERM_STATS_DDL, "tbucket", not_null=("n_blocks",)),
        os.path.join(stage, "term_stats"),
    )

    facet_meta = meta.get("facets")
    if facet_meta:
        encode = facet_kernel(facet_meta, bs)
        fdocs = docs.select(["docid", *facet_meta]).to_pandas()
        fdocs["block_id"] = (fdocs["docid"] // bs).astype(np.int32)
        schema = arrow_schema(FACETS_DDL)
        _write_parts(
            pa.Table.from_batches(
                [
                    pa.RecordBatch.from_pandas(
                        encode((block_id,), group.reset_index(drop=True)),
                        schema=schema,
                        preserve_index=False,
                    )
                    for block_id, group in fdocs.groupby("block_id")
                ],
                schema=schema,
            ),
            "facet", arrow_schema(FACETS_DDL, "facet"),
            os.path.join(stage, "facets"),
        )
    return hist


# Spark's partition-dir escaping (ExternalCatalogUtils.escapePathName)
_HIVE_ESCAPE = frozenset('"#%\'*/:=?\\\x7f{[]^')


def _write_parts(
    table: pa.Table, key: str | None, schema: pa.Schema, root: str
) -> None:
    """One parquet file per ``key=value`` dir under ``root`` (all rows
    in one file when ``key`` is None), holding ``schema``'s columns.
    The dir exists even without rows, as after an empty Spark write."""
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    if not table.num_rows:
        return
    if key is None:
        pq.write_table(
            table.select(schema.names).cast(schema),
            os.path.join(root, "part-00000.parquet"),
        )
        return
    keys = table[key].to_numpy()
    order = np.argsort(keys, kind="stable")
    table = table.take(order).select(schema.names).cast(schema)
    keys = keys[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    for start, end in zip(starts, np.r_[starts[1:], len(keys)]):
        escaped = "".join(
            f"%{ord(c):02X}" if c in _HIVE_ESCAPE or ord(c) < 0x20 else c
            for c in str(keys[start])
        )
        path = os.path.join(root, f"{key}={escaped}")
        os.makedirs(path)
        pq.write_table(
            table.slice(start, end - start),
            os.path.join(path, "part-00000.parquet"),
        )


def stage_batch(
    spark: SparkSession,
    store: IndexStore,
    batch_docs: DataFrame | pa.Table,
    text_col: str = "text",
    batch_id: int | None = None,
    id_col: str | None = None,
    min_next_docid: int | None = None,
) -> StagedBatch | None:
    """Tokenize + write one micro-batch to the staging area (realtime
    level-0). Returns None when ``batch_id`` was already applied.

    Docids start at the next block boundary after the current doc
    count (so the batch's (term, block) rows never collide with
    committed blocks) unless ``id_col`` provides caller-managed ids —
    then blocks may be shared with committed ones and the query side
    merges rows per block (both are sound; block-sharing is what the
    realtime oracle row uses to keep docids == doc_id). Repeated
    ``id_col`` values raise ``ValueError``.

    Same kernels as :meth:`IndexBuilder.build`: docids as in
    ``assign_docids`` → segment rows (:func:`segment_kernel`) → the
    splice of the (tbucket, block) groups (:func:`splice_kernel`),
    with doc_meta decoded from the batch's term='' segments. The
    staged postings hold no term='' rows. The input type picks where
    they run:

    * a Spark ``DataFrame`` runs them as a distributed plan — any
      batch size, tokenized in parallel (streaming ``foreachBatch``,
      ``append_batch``, ``update_documents``). Tokenize, splice and
      both ``tbucket``-partitioned writes run in
      ``P = min(n_buckets, defaultParallelism)`` tasks, whatever the
      index's bucket count: a micro-batch costs per-task overhead
      (about 50 ms per Python task on a 4-vCPU host), so stages sized
      by ``n_buckets`` cost seconds for a 1,000-doc batch. Tokenize
      reads one ``repartitionByRange(P, "docid")``; the splice is
      hash-partitioned on ``tbucket`` into P tasks and written
      straight out; the term-stats delta aggregates the cached
      posting rows.
    * a ``pyarrow.Table`` already on the driver (the REST server's
      ``/docs``) runs them in this process and writes with pyarrow:
      no Spark job at all. Builder docids are ranked with numpy
      (:func:`_table_docs`), the batch's distinct terms are hashed to
      buckets in one call (``hashing.term_buckets``), and one splice
      covers the whole batch. For a micro-batch the Spark plan's
      boundary costs — Python workers, per-group pandas frames,
      per-file writer and commit costs — are most of its time. The
      kernels run single-threaded while holding the GIL, so bulk loads
      should pass a DataFrame.

    Both forms stage the same rows in the same layout (one file per
    staged ``tbucket=`` dir).
    """
    meta = dict(store.meta)
    if batch_id is not None and batch_id in (meta.get("applied_batches") or []):
        return None
    bs = int(meta.get("block_size", ROARING_BLOCK_SIZE))
    # min_next_docid lets a caller chain MULTIPLE uncommitted staged
    # batches (each next batch starts after the previous staged one)
    nd = max(int(meta.get("next_docid", 0)), int(min_next_docid or 0))
    frame = isinstance(batch_docs, DataFrame)
    columns = batch_docs.columns if frame else batch_docs.column_names
    if id_col is None and "docid" in columns:
        raise ValueError(
            "batch already carries a 'docid' column; pass id_col='docid' "
            "to use it as the index docid, or drop/rename it so the "
            "engine can assign block-aligned ids"
        )
    _check_facets(spark, meta.get("facets") or {}, batch_docs)

    if id_col is not None:
        # min/max on the input, not the range-partitioned docs: no
        # sampling job or shuffle just for two numbers
        if frame:
            ids = batch_docs.agg(
                F.min(F.col(id_col).cast("long")).alias("lo"),
                F.max(F.col(id_col).cast("long")).alias("hi"),
            ).collect()[0]
            lo, hi = ids["lo"], ids["hi"]
        else:
            ids = pc.min_max(pc.cast(batch_docs[id_col], pa.int64()))
            lo, hi = ids["min"].as_py(), ids["max"].as_py()
        base_docid = int(lo) if lo is not None else nd
        next_docid = max(nd, (int(hi) + 1) if hi is not None else nd)
    else:
        base_docid = -(-nd // bs) * bs  # the next block boundary
        next_docid = None  # set after batch_n is known

    if frame:
        width = min(
            int(meta.get("n_buckets", 32)), spark.sparkContext.defaultParallelism
        )
        docs = _frame_docs(batch_docs, text_col, id_col, base_docid, width)
    else:
        docs = _table_docs(batch_docs, text_col, id_col, base_docid)

    tag = str(batch_id) if batch_id is not None else f"d{base_docid}"
    stage = os.path.join(store.path, "_staging", f"batch_{tag}")
    shutil.rmtree(stage, ignore_errors=True)
    if frame:
        hist = _write_frame(spark, meta, docs, stage, text_col, width)
    else:
        hist = _write_table(spark, meta, docs, stage, text_col)

    batch_n, batch_pos_sum = length_stats(hist)
    if next_docid is None:
        next_docid = base_docid + batch_n
    staged = StagedBatch(
        stage_path=stage,
        tag=tag,
        batch_id=batch_id,
        batch_n=batch_n,
        batch_pos_sum=batch_pos_sum,
        next_docid=next_docid,
    )
    staged.save_manifest()
    return staged


def commit_batch(
    spark: SparkSession, store: IndexStore, staged: StagedBatch
) -> IndexStore:
    """Promote a staged batch into the live tables (deterministic
    renames), then write meta (the commit point) last."""
    meta = dict(store.meta)
    tag = staged.tag
    _promote_staged(staged.doc_meta_path, store.doc_meta_path, tag)
    _promote_partitioned(
        staged.postings_path, store.postings_path, tag, "tbucket"
    )
    _promote_partitioned(
        staged.term_stats_path, store.term_stats_path, tag, "tbucket"
    )
    if os.path.exists(staged.facets_path):
        _promote_partitioned(
            staged.facets_path, store.facets_path, tag, "facet"
        )
    shutil.rmtree(staged.stage_path, ignore_errors=True)

    from seekstorm_spark.query.engine import invalidate_term_stats_cache

    invalidate_term_stats_cache(store.path)
    n_docs = int(meta.get("n_docs", 0)) + staged.batch_n
    pos_sum = int(meta.get("positions_sum_normalized", 0)) + staged.batch_pos_sum
    applied = list(meta.get("applied_batches") or [])
    if staged.batch_id is not None:
        applied.append(int(staged.batch_id))
    meta.update(
        {
            "n_docs": n_docs,
            "positions_sum_normalized": pos_sum,
            "avgdl": avgdl_f32(pos_sum, n_docs),
            "next_docid": max(int(meta.get("next_docid", 0)), staged.next_docid),
            "applied_batches": applied,
            "complete": True,
        }
    )
    store.meta = meta
    store.write_meta()
    return store


def append_batch(
    spark: SparkSession,
    store: IndexStore,
    batch_docs: DataFrame,
    text_col: str = "text",
    batch_id: int | None = None,
    id_col: str | None = None,
) -> IndexStore:
    """Index one micro-batch into an existing (possibly empty) index:
    ``stage_batch`` + ``commit_batch``. Idempotent under at-least-once
    replay (applied-batch ids + deterministic promoted names); cost is
    O(batch) — see module docstring."""
    staged = stage_batch(spark, store, batch_docs, text_col, batch_id, id_col)
    if staged is None:
        return store
    return commit_batch(spark, store, staged)


def update_documents(
    spark: SparkSession,
    store: IndexStore,
    batch_docs: DataFrame,
    old_docids: list[int],
    text_col: str = "text",
    batch_id: int | None = None,
    id_col: str | None = None,
) -> IndexStore:
    """Update = delete the old versions + index the new contents at
    fresh block-aligned docids (the reference's update_document is the
    same delete + re-add, api_endpoints.rs; postings are immutable).
    The old docids land in the delete set; ``compact`` reclaims them.
    ``id_col`` forwards to :func:`append_batch` for caller-managed
    docids on the re-added versions."""
    from seekstorm_spark.query.engine import delete_documents

    store = append_batch(
        spark, store, batch_docs, text_col, batch_id, id_col=id_col
    )
    delete_documents(spark, store, old_docids)
    return store


class RealtimeIndexer:
    """Reference-style realtime indexing session
    (`realtime_search.rs:921-2095` + the 64k auto-commit,
    `index.rs:5513-5521`): ``add_documents`` stages a batch that is
    searchable IMMEDIATELY via :meth:`search`; staged batches chain
    docid ranges and auto-commit once ``commit_every`` docs are
    pending OR ``commit_interval_s`` seconds have passed since the
    last commit (whichever fires first; both checked at
    ``add_documents`` time), or on an explicit :meth:`commit`.
    Staging is what makes docs searchable, so the time trigger bounds
    only the UNCOMMITTED (crash-replayable) window, not visibility
    latency."""

    def __init__(
        self,
        spark: SparkSession,
        store: IndexStore,
        text_col: str = "text",
        commit_every: int = ROARING_BLOCK_SIZE,
        id_col: str | None = None,
        commit_interval_s: float | None = None,
    ):
        import time

        self.spark = spark
        self.store = store
        self.text_col = text_col
        self.id_col = id_col
        self.commit_every = int(commit_every)
        self.commit_interval_s = (
            float(commit_interval_s) if commit_interval_s is not None else None
        )
        self._last_commit = time.monotonic()
        self.staged: list[StagedBatch] = []
        self._pending = 0
        applied = store.meta.get("applied_batches") or []
        self._next_batch_id = (max(applied) + 1) if applied else 0

    def add_documents(self, batch_docs: DataFrame | pa.Table) -> None:
        """Stage a batch (a Spark DataFrame, or a driver-side Arrow
        table that stages in-process — see :func:`stage_batch`)."""
        staged = stage_batch(
            self.spark,
            self.store,
            batch_docs,
            self.text_col,
            batch_id=self._next_batch_id,
            id_col=self.id_col,
            min_next_docid=self.staged[-1].next_docid if self.staged else None,
        )
        self._next_batch_id += 1
        if staged is None:
            return
        self.staged.append(staged)
        self._pending += staged.batch_n
        import time

        due = (
            self.commit_interval_s is not None
            and time.monotonic() - self._last_commit >= self.commit_interval_s
        )
        if self._pending >= self.commit_every or due:
            self.commit()

    def search(self, query: str, **kwargs):
        """Search committed levels PLUS every uncommitted staged batch
        (realtime level-0)."""
        from seekstorm_spark.query.engine import search

        return search(
            self.spark, self.store, query, staged=self.staged or None,
            **kwargs,
        )

    def count(self, query: str, default_type: str = "union") -> int:
        from seekstorm_spark.query.engine import count_matches

        return count_matches(
            self.spark, self.store, query, default_type,
            staged=self.staged or None,
        )

    def commit(self) -> IndexStore:
        import os
        import time

        had_batches = bool(self.staged)
        for staged in self.staged:
            self.store = commit_batch(self.spark, self.store, staged)
        self.staged = []
        self._pending = 0
        self._last_commit = time.monotonic()
        # a commit moves the index generation, which invalidates any
        # frequent-term result cache — rebuild it so cached serving
        # resumes immediately (the reference rebuilds its result cache
        # per commit, index.rs:1644)
        if had_batches and os.path.isdir(
            os.path.join(self.store.path, "result_cache")
        ):
            from seekstorm_spark.query.result_cache import (
                rebuild_result_cache,
            )

            rebuild_result_cache(self.spark, self.store)
        return self.store


def start_incremental_indexing(
    spark: SparkSession,
    stream_df: DataFrame,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    n_buckets: int = 32,
    trigger: dict[str, Any] | None = None,
):
    """Wire a streaming DataFrame into the index via foreachBatch.

    Returns the StreamingQuery. ``checkpoint_path`` provides
    exactly-once batch tracking across restarts. Without an index at
    ``index_path`` (no meta.json) this first writes an empty one over
    ``text_col`` (``write_empty_index``, no Spark job; leftover data
    dirs of a crashed build are removed), so it answers queries
    before the first batch.
    """
    if os.path.exists(os.path.join(index_path, "meta.json")):
        store = IndexStore.open(index_path)
    else:
        builder = IndexBuilder(spark, index_path, n_buckets=n_buckets)
        store = write_empty_index(index_path, builder.index_meta([text_col]))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with open(store.meta_path) as f:
            store.meta = json.load(f)
        # batch_id makes the append idempotent under foreachBatch's
        # at-least-once replay (skip if applied; deterministic file
        # names if partially promoted)
        append_batch(spark, store, batch_df, text_col, batch_id=batch_id)

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
