"""Distributed inverted-index build.

Spark-first re-expression of the reference's write path
(`/root/reference/seekstorm/src/index.rs:5279-5928`,
`commit.rs:109-682`):

1. **docid assignment** — contiguous, deterministic, *distributed*:
   hash docs into buckets, count per bucket (tiny collect), broadcast
   prefix-sum offsets, assign ``offset + local_rank`` per bucket. No
   global ``row_number`` window (which would serialize at 10^12 docs).
   The reference's round-robin ``docid % shards`` (`index.rs:5284`)
   becomes this bucket layout.
2. **tokenize** — one `mapInArrow` pass that aggregates each map
   batch down to posting segments: one row per (term, field, block)
   carrying that batch's posting bytes in final encoded form, tf,
   positions and the docs' quantized lengths included (the
   reference's `unique_terms` map, `tokenizer.rs:653-671`). Carrying
   dl on every posting denormalizes ~1 byte/posting but removes the
   N-row doc-length join at both build and query time — the reference
   makes the same trade with its in-RAM per-shard doc-length array
   (`index.rs:5840-5850`).
3. **posting blocks** — ``groupBy(tbucket, block_id).applyInPandas``
   splices the segments of each (term, field, block) in docid order:
   each group covers ≤65,536 docids (`ROARING_BLOCK_SIZE`,
   `index.rs:114-115`), so even a stopword's posting list splits into
   bounded tasks — the block structure *is* the skew salt.
4. **stats + block-max metadata** — df per term, SmallFloat-quantized
   doc lengths, avgdl (`commit.rs:318-319`), per-block max BM25 tf
   component for WAND (`compress_postinglist.rs:530-676`).
5. **lineage** — per-bucket metrics; an interrupted build resumes by
   anti-joining pending buckets against committed lineage (the
   reference's incomplete-level truncate+rewrite, `commit.rs:203-258`).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seekstorm_spark.codecs import ROARING_BLOCK_SIZE
from seekstorm_spark.hashing import bucket_column, term_buckets
from seekstorm_spark.index.store import DOC_META_DDL, POSTINGS_DDL, IndexStore
from seekstorm_spark.quantization import avgdl_f32, length_stats

# Segment-row shuffle, the one build format: every map task covers
# ascending docids, and tasks cover disjoint docid ranges
# (``assign_docids`` guarantees both — builder-assigned ids are
# numbered per partition, ``id_col`` ids are range-partitioned and
# sorted), so the map side aggregates its (doc, term) pairs all the
# way down to ONE row per (term, field, block, map-batch) — the
# segment's posting bytes already in final encoded form. The reduce
# concatenates segments in docid order, re-encoding ONLY each boundary
# docid varint (a segment's first docid is encoded absolute; in the
# joined stream it must be the delta-1 from the previous segment's
# last docid — varints are per-value independent, so the spliced
# stream is byte-identical to encoding the whole run at once). At the
# 250k-doc bench corpus this shuffles ~1M segment rows where one row
# per (doc, term) pair would be ~40M; the dominant cost was not bytes
# but per-row shuffle serialization + the Arrow→pandas object
# materialization in the reduce.
TERM_SEG_SCHEMA = (
    "term string, field int, block_id int, seg_first long, "
    "seg_last long, n_pairs int, max_tf int, min_dl_byte int, "
    "max_tf1 int, max_tf2 int, max_tf3 int, docids_vb binary, "
    "tfs_vb binary, dls binary, positions_vb binary, "
    "tfs1_vb binary, tfs2_vb binary, tfs3_vb binary"
)


# format v3: blocks store (max_tf, min_dl_byte) instead of a baked
# max-score component. BM25's tf saturation is increasing in tf and
# decreasing in dl, so comp(max_tf, min_dl) bounds every doc in the
# block for ANY avgdl — the bound is computed at query time from the
# CURRENT corpus avgdl (the reference equivalently stores the argmax
# doc and rescores it at query time, compress_postinglist.rs:530-676).
# This keeps block-max WAND admissible for incrementally grown indexes
# where avgdl drifts after blocks are written, and removes the avgdl
# dependency from the build (enabling the single-pass build below).
#
# format v4: trigram n-gram postings (tfs3_vb/max_tf3 partial-tf
# columns, reference NgramSet patterns index.rs:1834-1872), typed facet
# metadata ({"type": "string"|"numeric"}), and a LOG-STRUCTURED
# term_stats table: incremental appends add per-batch partial
# aggregates as new files, readers sum df per term across partials.
# v5 adds per-block vmin/vmax zone bounds on numeric facet rows
# (block skipping for range/geo filters); readers tolerate their
# absence, so v4 tables stay readable — the bump just retires caches.
INDEX_FORMAT_VERSION = 5

# The meta.json keys that describe the indexed documents rather than
# the index's settings (plus ``applied_batches``, the committed batch
# ids): an empty index holds these values, and clear_index resets
# only these keys.
EMPTY_CORPUS = {
    "n_docs": 0,
    "positions_sum_normalized": 0,
    "avgdl": 1.0,
    "next_docid": 0,
}

# hard ceiling on string-facet dictionary cardinality: the sorted
# dictionary is driver-resident (embedded in meta.json, broadcast into
# the encode kernel), so it must stay bounded — enforced executor-side
# before any collect. Higher-cardinality attributes belong in numeric
# or hashed facets.
FACET_DICT_CAP = 1 << 20

# reference NgramSet (index.rs:1834-1852): which adjacent-term shapes
# get pre-joined postings; f = frequent (in frequent_terms), r = rare.
# Default mirrors the reference's DEFAULT_NGRAM_INDEXING (FF | FFF,
# index.rs:1423).
ALL_NGRAM_PATTERNS = ("ff", "fr", "rf", "fff", "rff", "ffr", "frf")
DEFAULT_NGRAM_PATTERNS = ("ff", "fff")


def synonym_map_from_groups(groups: list[dict]) -> dict[str, list[str]]:
    """Synonym groups → source-term expansion map (reference Synonym
    struct, index.rs:1077-1098). Multi-way: every term is indexed
    under all others; one-way: followers are indexed under the FIRST
    term only."""
    out: dict[str, list[str]] = {}
    for group in groups:
        terms_g = list(group["terms"])
        multiway = bool(group.get("multiway", True))
        for i, t in enumerate(terms_g):
            if multiway:
                targets = [x for x in terms_g if x != t]
            elif i > 0:
                targets = [terms_g[0]]
            else:
                targets = []
            if targets:
                out.setdefault(t, []).extend(targets)
    return out


def assign_docids(
    docs: DataFrame,
    order_col: str | None,
    n_buckets: int = 64,
    id_col: str | None = None,
    width: int | None = None,
) -> DataFrame:
    """Add a contiguous ``docid`` column without a global sort barrier.

    Three strategies, all cluster-scalable:
    * ``id_col`` — trust an existing unique 0-based long id; range-
      partition and sort on it so every task holds ascending docids and
      tasks hold disjoint ranges (the segment emission contract).
    * ``order_col`` — deterministic independent of input partitioning:
      hash-partition on the key (deterministic across jobs, unlike
      range partitioning whose boundaries are re-sampled per
      execution), SPARK-side sort within each partition (the spilling
      sort — bounded per-task memory, unlike the former per-bucket
      pandas sort that materialized N/n_buckets rows in one task),
      then partition-offset numbering (tiny count collect + broadcast
      prefix sums). Deterministic for unique keys.
    * neither — partition-offset assignment: count rows per input
      partition (map-side, near-zero shuffle), broadcast prefix sums,
      number rows in place. NO data shuffle — the bulk-load fast path;
      deterministic for a fixed input layout.

    ``width`` (with ``id_col`` or ``order_col``) returns the docs
    range-partitioned on docid into that many tasks and sorted within
    each: tokenizer-ready input at the caller's width, instead of
    ``spark.sql.shuffle.partitions`` ranges (``id_col``) or
    ``n_buckets`` hash buckets (``order_col``). The docids do not
    change (see :func:`_rank_in_buckets`).
    """
    if width is not None and (id_col is not None or order_col is not None):
        docs = (
            docs.withColumn("docid", F.col(id_col).cast("long"))
            if id_col is not None
            else _rank_in_buckets(docs, order_col, n_buckets)
        )
        return docs.repartitionByRange(width, "docid").sortWithinPartitions(
            "docid"
        )
    if id_col is not None:
        return (
            docs.withColumn("docid", F.col(id_col).cast("long"))
            .repartitionByRange("docid")
            .sortWithinPartitions("docid")
        )

    if order_col is not None:
        docs = docs.repartition(
            n_buckets, F.col(order_col)
        ).sortWithinPartitions(order_col)

    with_pid = docs.withColumn("_pid", F.spark_partition_id())
    counts = {
        int(r["_pid"]): int(r["cnt"])
        for r in with_pid.groupBy("_pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    max_pid = max(counts) if counts else 0
    offs: list[int] = []
    acc = 0
    for pid in range(max_pid + 1):
        offs.append(acc)
        acc += counts.get(pid, 0)

    # pure-JVM numbering (no Python pass — the former mapInPandas
    # assignment pushed the whole corpus across the JVM↔Python
    # boundary a second time before tokenize):
    # monotonically_increasing_id() is (partition id << 33) | row
    # index within partition, so offset[pid] + (mid - (pid << 33))
    # reproduces the exact sequential numbering batch iteration gave.
    from seekstorm_spark.sqlexpr import long_array

    local = F.monotonically_increasing_id() - F.shiftleft(
        F.col("_pid").cast("long"), 33
    )
    base = F.element_at(long_array(offs), F.col("_pid") + 1)
    # the numbering job re-reads the input: a source that changed
    # since the count job (a table appended to mid-build, a
    # nondeterministic partitioning key) would repeat docids, so a
    # row past its partition's counted size fails the job instead
    size = F.get(
        long_array([counts.get(pid, 0) for pid in range(max_pid + 1)]),
        F.col("_pid"),
    )
    overflow = (F.col("_pid") > F.lit(max_pid)) | (local >= size)
    return with_pid.withColumn(
        "docid",
        F.when(
            overflow,
            F.raise_error(
                F.format_string(
                    "assign_docids: partition %d holds more rows than the "
                    "count job saw; the input changed between jobs",
                    F.col("_pid"),
                )
            ),
        ).otherwise((base + local).cast("long")),
    ).drop("_pid")


def _rank_in_buckets(
    docs: DataFrame, order_col: str, n_buckets: int
) -> DataFrame:
    """The docids of ``assign_docids``' ``order_col`` path without its
    ``n_buckets``-task stages: a row's docid is its rank in its bucket
    after all rows of lower buckets, whose sizes a count collect gives.
    A row's bucket is ``pmod(murmur3(order_col), n_buckets)``, what
    ``F.hash`` computes; its rank is a window's row number by
    ``order_col`` — stable, so equal keys keep their arrival order."""
    from pyspark.sql import Window

    from seekstorm_spark.sqlexpr import long_array

    keyed = docs.withColumn(
        "_b", F.pmod(F.hash(F.col(order_col)), F.lit(n_buckets))
    )
    rank = F.row_number().over(Window.partitionBy("_b").orderBy(order_col))
    counts = {
        int(r["_b"]): int(r["cnt"])
        for r in keyed.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    sizes = [counts.get(b, 0) for b in range(n_buckets)]
    base = F.element_at(
        long_array(np.cumsum([0, *sizes[:-1]])), F.col("_b") + 1
    )
    return keyed.withColumn("docid", (base + rank - 1).cast("long")).drop("_b")


NGRAM_SEP = "\x1e"  # joins partial terms inside an n-gram key


def _require_ascending(prev, cur) -> None:
    """Raise unless every docid in ``cur`` exceeds its ``prev``. With
    range-sorted input a non-ascending docid can only be a duplicate,
    so the error names it."""
    bad = np.flatnonzero(cur <= prev)
    if bad.size:
        p, c = int(prev[bad[0]]), int(cur[bad[0]])
        if p == c:
            raise ValueError(f"duplicate docid {c}: docids must be unique")
        raise ValueError(
            f"docids must be ascending per task: docid {c} follows {p}"
        )


def _binary_column(pa, buf, offsets, validity=None):
    """Arrow binary array from a contiguous (buffer, offsets) pair —
    zero-copy, no per-row Python bytes objects. ``validity`` (bool
    array) marks non-null rows; null rows must be zero-width."""
    n = len(offsets) - 1
    if int(offsets[-1]) > np.iinfo(np.int32).max:
        # Arrow ``binary`` offsets are int32: a larger cast would wrap
        raise OverflowError(
            f"binary column of {int(offsets[-1])} bytes exceeds the "
            "int32 Arrow offset limit; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    vbuf = (
        None
        if validity is None
        else pa.py_buffer(np.packbits(validity, bitorder="little"))
    )
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [vbuf, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)],
    )


def _sentinel_segment_batch(pa, docs_a, dlb_a, fid, block_size):
    """Segment rows for the term='' sentinels: one pair per doc with
    tf=1 and a single position 0, so tf-1 and the position delta both
    encode to one zero byte per pair — built directly, no sort or
    varint pass needed (docids arrive ascending)."""
    from seekstorm_spark.codecs import vb_encode_chunk_offsets

    d = docs_a
    blk = d // np.int64(block_size)
    n = len(d)
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = blk[1:] != blk[:-1]
    starts = np.flatnonzero(new_run)
    ends = np.append(starts[1:], n)
    lens = ends - starts
    n_runs = len(starts)
    local = d - blk * np.int64(block_size)
    dd = np.empty_like(local)
    dd[0] = local[0]
    dd[1:] = local[1:] - local[:-1] - 1
    dd[starts] = local[starts]
    dbuf, doff = vb_encode_chunk_offsets(dd, lens)
    one_byte_off = np.append(starts, n).astype(np.int64)
    zeros_buf = b"\x00" * n
    gram_null = _binary_column(
        pa,
        b"",
        np.zeros(n_runs + 1, dtype=np.int64),
        validity=np.zeros(n_runs, dtype=bool),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array([""] * n_runs, type=pa.string()),
            pa.array(np.full(n_runs, fid, dtype=np.int32), type=pa.int32()),
            pa.array(blk[starts].astype(np.int32), type=pa.int32()),
            pa.array(d[starts], type=pa.int64()),
            pa.array(d[ends - 1], type=pa.int64()),
            pa.array(lens.astype(np.int32), type=pa.int32()),
            pa.array(np.ones(n_runs, dtype=np.int32), type=pa.int32()),
            pa.array(
                np.minimum.reduceat(dlb_a, starts).astype(np.int32),
                type=pa.int32(),
            ),
            pa.array(np.zeros(n_runs, dtype=np.int32), type=pa.int32()),
            pa.array(np.zeros(n_runs, dtype=np.int32), type=pa.int32()),
            pa.array(np.zeros(n_runs, dtype=np.int32), type=pa.int32()),
            _binary_column(pa, dbuf, doff),
            _binary_column(pa, zeros_buf, one_byte_off),
            _binary_column(
                pa, dlb_a.astype(np.uint8).tobytes(), one_byte_off
            ),
            _binary_column(pa, zeros_buf, one_byte_off),
            gram_null,
            gram_null,
            gram_null,
        ],
        names=[
            "term", "field", "block_id", "seg_first", "seg_last",
            "n_pairs", "max_tf", "min_dl_byte", "max_tf1", "max_tf2",
            "max_tf3", "docids_vb", "tfs_vb", "dls", "positions_vb",
            "tfs1_vb", "tfs2_vb", "tfs3_vb",
        ],
    )


def _segment_record_batch(
    pa,
    d,
    t,
    uniq,
    tf_s,
    dlb_s,
    g1s,
    g2s,
    g3s,
    pos_buf,
    pos_off,
    fid,
    block_size,
):
    """(doc, term)-ordered pair arrays → one segment row per
    (term, block) run, posting bytes in final encoded form. ``t`` are
    codes into ``uniq``; ``pos_off`` slices ``pos_buf`` per pair in
    the incoming order.

    The per-run byte streams are exactly the slices of the final
    posting stream for these pairs: docid deltas reset at run starts
    (absolute first value), tf-1 varints per pair, raw dl bytes,
    per-pair position chunks, and gram tf varints on n-gram runs only.
    """
    from seekstorm_spark.codecs import vb_encode_chunk_offsets

    # re-sort the PAIRS term-major (6x fewer elements than sorting
    # the occurrences term-major — see the _pairs note)
    order = np.lexsort((d, t))
    d = d[order]
    t = t[order]
    tf_s = tf_s[order]
    dlb_s = dlb_s[order]
    g1s, g2s, g3s = g1s[order], g2s[order], g3s[order]
    plens = np.diff(pos_off)[order]
    old_starts = pos_off[:-1][order]
    total_pos = int(plens.sum())
    new_starts = np.concatenate(([0], np.cumsum(plens)[:-1]))
    gather = np.repeat(old_starts - new_starts, plens) + np.arange(
        total_pos, dtype=np.int64
    )
    pos_buf = np.frombuffer(pos_buf, dtype=np.uint8)[gather]
    pos_off = np.concatenate(([0], np.cumsum(plens)))

    blk = d // np.int64(block_size)
    n = len(d)
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (t[1:] != t[:-1]) | (blk[1:] != blk[:-1])
    # pairs are unique per (doc, term) and the batch's docids strictly
    # ascend (checked in the tokenize pass), so every run ascends too
    starts = np.flatnonzero(new_run)
    ends = np.append(starts[1:], n)
    lens = ends - starts
    n_runs = len(starts)

    local = d - blk * np.int64(block_size)
    dd = np.empty_like(local)
    dd[0] = local[0]
    dd[1:] = local[1:] - local[:-1] - 1
    dd[starts] = local[starts]
    dbuf, doff = vb_encode_chunk_offsets(dd, lens)
    tbuf, toff = vb_encode_chunk_offsets(tf_s - 1, lens)

    dls_u8 = dlb_s.astype(np.uint8)
    # one raw byte per pair: run offsets are the pair indices
    dls_off = np.append(starts, n).astype(np.int64)

    # positions: the per-pair chunks are already in run order
    pos_u8 = pos_buf
    pos_run_off = pos_off[np.append(starts, n)]

    run_t = t[starts]
    seps = np.array([u.count(NGRAM_SEP) for u in uniq], dtype=np.int64)
    run_seps = seps[run_t]
    gram_run = run_seps > 0
    tri_run = run_seps == 2
    gram_pairs = np.repeat(gram_run, lens)
    tri_pairs = np.repeat(tri_run, lens)

    def _gram_col(vals, pair_mask, run_mask):
        buf, part_off = vb_encode_chunk_offsets(
            vals[pair_mask] - 1, lens[run_mask]
        )
        out_off = np.zeros(n_runs + 1, dtype=np.int64)
        out_off[1:][run_mask] = np.diff(part_off)
        np.cumsum(out_off, out=out_off)
        return _binary_column(pa, buf, out_off, validity=run_mask)

    tfs1_arr = _gram_col(g1s, gram_pairs, gram_run)
    tfs2_arr = _gram_col(g2s, gram_pairs, gram_run)
    tfs3_arr = _gram_col(g3s, tri_pairs, tri_run)

    max_tf = np.maximum.reduceat(tf_s, starts).astype(np.int32)
    min_dlb = np.minimum.reduceat(dlb_s, starts).astype(np.int32)
    mt1 = np.where(gram_run, np.maximum.reduceat(g1s, starts), 0)
    mt2 = np.where(gram_run, np.maximum.reduceat(g2s, starts), 0)
    mt3 = np.where(tri_run, np.maximum.reduceat(g3s, starts), 0)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(uniq[run_t], type=pa.string()),
            pa.array(
                np.full(n_runs, fid, dtype=np.int32), type=pa.int32()
            ),
            pa.array(blk[starts].astype(np.int32), type=pa.int32()),
            pa.array(d[starts], type=pa.int64()),
            pa.array(d[ends - 1], type=pa.int64()),
            pa.array(lens.astype(np.int32), type=pa.int32()),
            pa.array(max_tf, type=pa.int32()),
            pa.array(min_dlb, type=pa.int32()),
            pa.array(mt1.astype(np.int32), type=pa.int32()),
            pa.array(mt2.astype(np.int32), type=pa.int32()),
            pa.array(mt3.astype(np.int32), type=pa.int32()),
            _binary_column(pa, dbuf, doff),
            _binary_column(pa, tbuf, toff),
            _binary_column(pa, dls_u8.tobytes(), dls_off),
            _binary_column(pa, pos_u8, pos_run_off),
            tfs1_arr,
            tfs2_arr,
            tfs3_arr,
        ],
        names=[
            "term", "field", "block_id", "seg_first", "seg_last",
            "n_pairs", "max_tf", "min_dl_byte", "max_tf1", "max_tf2",
            "max_tf3", "docids_vb", "tfs_vb", "dls", "positions_vb",
            "tfs1_vb", "tfs2_vb", "tfs3_vb",
        ],
    )


def tokenize_to_term_rows(
    docs: DataFrame,
    text_col: str = "text",
    tokenizer: str = "unicode_alphanumeric",
    stop_words: frozenset[str] | None = None,
    fields: list[str] | None = None,
    stemmer: str | None = None,
    frequent_terms: frozenset[str] | None = None,
    synonym_map: dict[str, list[str]] | None = None,
    ngram_patterns: tuple[str, ...] | list[str] | None = None,
    emit: str = "segments",
    block_size: int = ROARING_BLOCK_SIZE,
) -> DataFrame:
    """docs(docid, <fields…>) → TERM_SEG_SCHEMA posting segments, one
    row per (term, field, block) of each map batch (see the schema
    comment). REQUIRES strictly ascending docids within every task and
    disjoint docid ranges across tasks — what ``assign_docids``
    produces; a repeated or descending docid raises ``ValueError``.
    ``emit`` accepts only ``"segments"``.

    Sentinel segments (term='') hold every doc of the batch once, with
    tf=1 and the field's quantized length, so empty fields stay counted
    and doc_meta decodes from them (:func:`_decode_doc_meta`).

    ``fields`` defaults to ``[text_col]`` (single-field, field id 0);
    multi-field indexes list their field columns in build order — the
    list index IS the field id (reference indexed_field_id_vec,
    index.rs:5332-5407).

    The kernel is :func:`segment_kernel`; a driver-resident batch runs
    it in-process (``stage_batch``).
    """
    if emit != "segments":
        raise ValueError(f"unknown emit mode {emit!r}; only 'segments'")
    field_cols = list(fields) if fields else [text_col]
    _tok = segment_kernel(
        field_cols, tokenizer, stop_words, stemmer, frequent_terms,
        synonym_map, ngram_patterns, block_size,
    )
    return docs.select("docid", *field_cols).mapInArrow(
        _tok, schema=TERM_SEG_SCHEMA
    )


def segment_kernel(
    field_cols: list[str],
    tokenizer: str = "unicode_alphanumeric",
    stop_words: frozenset[str] | None = None,
    stemmer: str | None = None,
    frequent_terms: frozenset[str] | None = None,
    synonym_map: dict[str, list[str]] | None = None,
    ngram_patterns: tuple[str, ...] | list[str] | None = None,
    block_size: int = ROARING_BLOCK_SIZE,
):
    """The tokenize kernel of :func:`tokenize_to_term_rows`: an
    iterator of Arrow record batches (``docid`` + ``field_cols``,
    docids strictly ascending) → TERM_SEG_SCHEMA record batches.

    The Python side is one regex call per field plus numpy array
    assembly: occurrences aggregate into (doc, term) pairs and then
    into segments with vectorized sorts and run-length passes.
    Position semantics match ``tokenizer.tokenize_doc`` (stopwords
    dropped without advancing positions; 65,536-token field cap,
    reference tokenizer.rs:584-894).
    """
    tokenizer_name = tokenizer
    # stop_words: one global set, or per-field sets {field_col: set}
    # (reference per-index stopword lists, index.rs:1238-1256; a field
    # without an entry keeps every token)
    stops = stop_words
    stem_lang = stemmer
    freq = frequent_terms
    syn = synonym_map
    patterns = tuple(
        ngram_patterns
        if ngram_patterns is not None
        else (DEFAULT_NGRAM_PATTERNS if freq else ())
    )
    bi_patterns = frozenset(p for p in patterns if len(p) == 2)
    tri_patterns = frozenset(p for p in patterns if len(p) == 3)

    def _tok(batches):
        # mapInArrow, not mapInPandas: Arrow arrays built straight
        # from numpy buffers measured ~17x cheaper than a pandas
        # DataFrame of the same rows (pandas object-column
        # consolidation, all thrown away at the Arrow boundary anyway)
        import pyarrow as pa

        from seekstorm_spark.codecs import vb_encode_chunk_offsets
        from seekstorm_spark.quantization import int_to_byte4
        from seekstorm_spark.tokenizer import TOKEN_PER_FIELD_MAX, tokenize_line

        def _pairs(doc_idx, codes, positions):
            """Aggregate occurrence-level (doc index, term code, pos)
            triples into (doc, term) pairs: returns (index of each
            pair's first-by-position occurrence, tf per pair, and the
            per-pair VB position-delta chunks as one contiguous
            ``(buffer, offsets)`` pair). Occurrences are sorted
            by (pair key, pos) — the same position interleave the
            former position-level kernel produced — so the VB chunk
            per pair is byte-identical to the corresponding slice of
            the final posting stream (varint values are encoded
            independently and deltas reset at every pair change).

            The key is doc-major: occurrences arrive in doc order, so
            the stable sort exploits the runs, and re-sorting the ~6x
            smaller pair array term-major afterwards
            (:func:`_segment_record_batch`) measured cheaper than a
            term-major occurrence sort."""
            key = doc_idx.astype(np.int64) * np.int64(
                int(codes.max()) + 1 if len(codes) else 1
            ) + codes
            order = np.lexsort((positions, key))
            sk = key[order]
            first = np.empty(len(sk), dtype=bool)
            if len(sk):
                first[0] = True
                first[1:] = sk[1:] != sk[:-1]
            starts = np.flatnonzero(first)
            tf = np.diff(np.append(starts, len(sk)))
            p_sorted = positions[order]
            deltas = np.empty_like(p_sorted)
            if len(p_sorted):
                deltas[0] = p_sorted[0]
                deltas[1:] = p_sorted[1:] - p_sorted[:-1] - 1
                deltas[starts] = p_sorted[starts]
            return order[starts], tf, vb_encode_chunk_offsets(deltas, tf)

        for rb in batches:
            if not rb.num_rows:
                continue
            docid_in = rb.column(rb.schema.get_field_index("docid")).to_numpy(
                zero_copy_only=False
            )
            _require_ascending(docid_in[:-1], docid_in[1:])
            text_in = {
                fcol: rb.column(rb.schema.get_field_index(fcol)).to_pylist()
                for fcol in field_cols
            }
            for fid, fcol in enumerate(field_cols):
                stops_f = (
                    stops.get(fcol) if isinstance(stops, dict) else stops
                )
                doc_ids: list[int] = []
                counts: list[int] = []
                dl_bytes: list[int] = []
                all_terms: list[str] = []
                ng_doc: list[int] = []
                ng_term: list[str] = []
                ng_pos: list[int] = []
                ng_dlb: list[int] = []
                ng_tf1: list[int] = []
                ng_tf2: list[int] = []
                ng_tf3: list[int] = []
                sy_doc: list[int] = []
                sy_term: list[str] = []
                sy_pos: list[int] = []
                sy_dlb: list[int] = []
                for docid, text in zip(docid_in, text_in[fcol]):
                    toks = tokenize_line(
                        text if isinstance(text, str) else "",
                        tokenizer_name,
                        stem_lang,
                    )
                    if stops_f:
                        toks = [t for t in toks if t not in stops_f]
                    if len(toks) > TOKEN_PER_FIELD_MAX:
                        toks = toks[:TOKEN_PER_FIELD_MAX]
                    doc_ids.append(int(docid))
                    counts.append(len(toks))
                    dlb = int_to_byte4(len(toks))
                    dl_bytes.append(dlb)
                    all_terms.extend(toks)
                    if syn:
                        # index-time synonym expansion: a doc
                        # containing a source term is ALSO indexed
                        # under its synonym targets at the same
                        # positions (reference index.rs:5869-5897;
                        # Synonym struct index.rs:1077-1098) — doc
                        # length stays unchanged
                        for i, tok in enumerate(toks):
                            for target in syn.get(tok, ()):
                                sy_doc.append(int(docid))
                                sy_term.append(target)
                                sy_pos.append(i)
                                sy_dlb.append(dlb)
                counts_a = np.asarray(counts, dtype=np.int64)
                docs_a = np.asarray(doc_ids, dtype=np.int64)
                dlb_a = np.asarray(dl_bytes, dtype=np.int32)
                total = int(counts_a.sum())
                starts = np.concatenate(([0], np.cumsum(counts_a)[:-1]))
                pos = np.arange(total, dtype=np.int64) - np.repeat(
                    starts, counts_a
                )
                didx = np.repeat(
                    np.arange(len(docs_a), dtype=np.int64), counts_a
                )
                terms_arr = np.asarray(all_terms, dtype=object)
                tcodes = pd.factorize(terms_arr)[0].astype(np.int64)
                if freq and (bi_patterns or tri_patterns) and total:
                    # N-gram postings: adjacent term pairs/triples
                    # whose frequent/rare shape matches an enabled
                    # pattern become extra posting terms carrying the
                    # FULL per-doc tf of each partial term, so BM25
                    # scoring stays rank-identical (NGRAM_SEARCH.md
                    # "faithful N-gram Bm25f"; tokenizer.rs:673-1387,
                    # index.rs:1834-1872). Vectorized over the whole
                    # batch: frequent-term membership, per-(doc, term)
                    # tf, and pattern selection are array ops; Python
                    # touches only the selected gram positions (the
                    # per-doc Counter+loop version cost ~2x the
                    # tokenize itself).
                    isf = pd.Series(terms_arr).isin(freq).to_numpy()
                    doc_rep = np.repeat(docs_a, counts_a)
                    dlb_rep = np.repeat(
                        dlb_a.astype(np.int64), counts_a
                    )
                    # per-(doc, term) tf broadcast back to positions
                    key = didx * (int(tcodes.max()) + 1) + tcodes
                    _uk, inv, cnt = np.unique(
                        key, return_inverse=True, return_counts=True
                    )
                    tf_pos = cnt[inv]
                    same = doc_rep[1:] == doc_rep[:-1]
                    code2 = (
                        isf[:-1].astype(np.int8) * 2
                        + isf[1:].astype(np.int8)
                    )
                    allow2 = np.array(
                        [p in bi_patterns for p in ("rr", "rf", "fr", "ff")]
                    )
                    sel2 = np.flatnonzero(same & allow2[code2])
                    if len(terms_arr) >= 3 and tri_patterns:
                        same3 = same[:-1] & same[1:]
                        code3 = (
                            isf[:-2].astype(np.int8) * 4
                            + isf[1:-1].astype(np.int8) * 2
                            + isf[2:].astype(np.int8)
                        )
                        allow3 = np.array(
                            [
                                p in tri_patterns
                                for p in (
                                    "rrr", "rrf", "rfr", "rff",
                                    "frr", "frf", "ffr", "fff",
                                )
                            ]
                        )
                        sel3 = np.flatnonzero(same3 & allow3[code3])
                    else:
                        sel3 = np.empty(0, np.int64)
                    ng_term = [
                        a + NGRAM_SEP + b
                        for a, b in zip(
                            terms_arr[sel2], terms_arr[sel2 + 1]
                        )
                    ] + [
                        a + NGRAM_SEP + b + NGRAM_SEP + c
                        for a, b, c in zip(
                            terms_arr[sel3],
                            terms_arr[sel3 + 1],
                            terms_arr[sel3 + 2],
                        )
                    ]
                    ng_doc = np.concatenate(
                        [doc_rep[sel2], doc_rep[sel3]]
                    )
                    ng_pos = np.concatenate([pos[sel2], pos[sel3]])
                    ng_dlb = np.concatenate(
                        [dlb_rep[sel2], dlb_rep[sel3]]
                    )
                    ng_tf1 = np.concatenate(
                        [tf_pos[sel2], tf_pos[sel3]]
                    )
                    ng_tf2 = np.concatenate(
                        [tf_pos[sel2 + 1], tf_pos[sel3 + 1]]
                    )
                    ng_tf3 = np.concatenate(
                        [
                            np.zeros(len(sel2), np.int64),
                            tf_pos[sel3 + 2],
                        ]
                    )
                # ---- occurrence → pair aggregation (map-side) ----
                # ONE aggregation over regular + n-gram + synonym
                # occurrences: a synonym target colliding with a
                # regular token of the same doc must merge into ONE
                # pair with position-interleaved deltas, exactly as
                # the former position-level shuffle + kernel run-
                # length produced. Gram payload (tf1-3) is taken from
                # the pair's first-by-position occurrence — the old
                # kernel's pair_starts semantics.
                n_ng, n_sy = len(ng_doc), len(sy_doc)
                occ_doc = np.concatenate([
                    np.repeat(docs_a, counts_a),
                    np.asarray(ng_doc, dtype=np.int64),
                    np.asarray(sy_doc, dtype=np.int64),
                ])
                occ_term = np.concatenate([
                    terms_arr,
                    np.asarray(ng_term, dtype=object),
                    np.asarray(sy_term, dtype=object),
                ])
                occ_pos = np.concatenate([
                    pos,
                    np.asarray(ng_pos, dtype=np.int64),
                    np.asarray(sy_pos, dtype=np.int64),
                ])
                occ_dlb = np.concatenate([
                    np.repeat(dlb_a.astype(np.int64), counts_a),
                    np.asarray(ng_dlb, dtype=np.int64),
                    np.asarray(sy_dlb, dtype=np.int64),
                ])
                zeros_reg = np.zeros(total, np.int64)
                zeros_sy = np.zeros(n_sy, np.int64)
                occ_g1 = np.concatenate(
                    [zeros_reg, np.asarray(ng_tf1, np.int64), zeros_sy]
                )
                occ_g2 = np.concatenate(
                    [zeros_reg, np.asarray(ng_tf2, np.int64), zeros_sy]
                )
                occ_g3 = np.concatenate(
                    [zeros_reg, np.asarray(ng_tf3, np.int64), zeros_sy]
                )
                # sentinel segments: term='', one pair per doc with
                # tf=1 and one position 0 — they carry each doc's dl
                # byte to doc_meta
                yield _sentinel_segment_batch(
                    pa, docs_a, dlb_a, fid, block_size
                )
                if len(occ_doc):
                    dcodes = pd.factorize(occ_doc)[0].astype(np.int64)
                    ocodes, ouniq = pd.factorize(occ_term)
                    ocodes = ocodes.astype(np.int64)
                    sel, ptf, (pbuf, poff) = _pairs(dcodes, ocodes, occ_pos)
                    yield _segment_record_batch(
                        pa,
                        occ_doc[sel],
                        ocodes[sel],
                        np.asarray(ouniq, dtype=object),
                        ptf,
                        occ_dlb[sel],
                        occ_g1[sel],
                        occ_g2[sel],
                        occ_g3[sel],
                        pbuf,
                        poff,
                        fid,
                        block_size,
                    )

    return _tok


def tokenize_to_doc_lengths(
    docs: DataFrame,
    text_col: str = "text",
    tokenizer: str = "unicode_alphanumeric",
    stop_words: frozenset[str] | None = None,
) -> DataFrame:
    """docs(docid, text) → (docid, dl_byte): token counts only, no term
    materialization or shuffle — the cheap first pass that yields
    N/avgdl before the posting pass needs them."""
    tokenizer_name = tokenizer
    stops = stop_words

    def _count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from seekstorm_spark.quantization import int_to_byte4
        from seekstorm_spark.tokenizer import TOKEN_PER_FIELD_MAX, tokenize_line

        for pdf in batches:
            dl = []
            for text in pdf[text_col].values:
                toks = tokenize_line(text or "", tokenizer_name)
                if stops:
                    toks = [t for t in toks if t not in stops]
                dl.append(int_to_byte4(min(len(toks), TOKEN_PER_FIELD_MAX)))
            yield pd.DataFrame(
                {
                    "docid": pdf["docid"].values,
                    "dl_byte": pd.Series(dl, dtype="int32"),
                }
            )

    return docs.select("docid", text_col).mapInPandas(
        _count, schema="docid long, dl_byte int"
    )


def build_posting_blocks(
    term_rows: DataFrame,
    n_buckets: int,
    only_buckets: list[int] | None = None,
    block_size: int = ROARING_BLOCK_SIZE,
    width: int | None = None,
) -> DataFrame:
    """(term-bucket, block) groups of TERM_SEG_SCHEMA segments →
    compressed posting rows.

    ``width`` hash-partitions the segments on ``tbucket`` into that
    many tasks before grouping. That partitioning already clusters
    every (tbucket, block_id) group, so the splice adds no second
    shuffle, and the output can be written ``partitionBy("tbucket")``
    as is, one file per bucket. Without it the groups spread over
    ``spark.sql.shuffle.partitions`` (the bulk build, which then
    repartitions by bucket for its write).

    Grouping by (tbucket, block_id) — not (term, block_id) — gives a
    small number of *large* batches, each spliced by one
    :func:`splice_kernel` call over all its terms, instead of millions
    of tiny per-term UDF invocations. Group size stays bounded:
    ≤65,536 docids/block (`index.rs:114-115`) × the bucket's share of
    the vocabulary — the Spark analog of the reference's 2048
    term-hash segments committed per block (`index.rs:988-995`,
    `commit.rs:467-682`). Raise ``n_buckets`` to shrink groups at
    scale; skew from hot terms is already capped by the block bound.
    applyInPandas for the IO: an A/B measured PySpark 4.1's
    applyInArrow JVM path ~2.3x slower even with a trivial UDF.

    Sentinel segments (term='', one pair per doc carrying its dl byte)
    flow through the same shuffle and become the term-'' posting rows
    from which doc_meta is derived — the document-length table rides
    the one tokenize pass instead of needing its own.
    """
    blocks = term_rows.withColumn("tbucket", bucket_column("term", n_buckets))
    if only_buckets is not None:
        # resume: skip committed buckets before the shuffle, not after
        blocks = blocks.filter(
            F.col("tbucket").isin([int(b) for b in only_buckets])
        )
    if width is not None:
        blocks = blocks.repartition(width, "tbucket")

    def _group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa

        from seekstorm_spark.index.store import arrow_schema

        segs = pa.Table.from_pandas(
            pdf, schema=arrow_schema(TERM_SEG_SCHEMA), preserve_index=False
        )
        tbucket = np.full(len(pdf), int(key[0]), dtype=np.int32)
        return splice_kernel(segs, tbucket, block_size).to_pandas()

    return blocks.groupBy("tbucket", "block_id").applyInPandas(
        _group, schema=POSTINGS_DDL
    )


def _run_slices(pa, col, starts, n: int):
    """Binary column ``col`` (rows already in run order) → one value
    per run: run ``r`` is rows ``starts[r]`` up to the next start,
    concatenated. The runs' bytes are adjacent in the value buffer, so
    the result shares it with new offsets (no copy); a run is null
    when its first row is."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)[
        col.offset : col.offset + n + 1
    ]
    run_off = offsets[np.append(starts, n)]
    data = col.buffers()[2] or pa.py_buffer(b"")  # all empty: no buffer
    validity = None
    if col.null_count:
        validity = pa.py_buffer(
            np.packbits(
                col.is_valid().to_numpy(zero_copy_only=False)[starts],
                bitorder="little",
            )
        )
    return pa.Array.from_buffers(
        pa.binary(),
        len(starts),
        [validity, pa.py_buffer(run_off), data],
    )


def splice_kernel(
    segs, tbucket: np.ndarray, block_size: int = ROARING_BLOCK_SIZE
):
    """TERM_SEG_SCHEMA segment rows (a ``pyarrow.Table``, any order,
    any number of (tbucket, block_id) groups) and each row's term
    bucket → posting rows (``store.POSTINGS_DDL`` columns, ``tbucket``
    last), ordered by (tbucket, block_id, term, field).

    One sort by (tbucket, block_id, term, field, seg_first) makes each
    (term, field, block) run's segments adjacent and docid-ordered, so
    the run's ``tfs_vb``, ``dls``, ``positions_vb`` and gram tf
    streams are each one slice of the sorted value buffer. The docid
    stream is one numpy gather that swaps each non-first segment's
    head varint (its absolute first docid) for the boundary varint —
    the delta-1 from the previous segment's last docid — so the result
    is byte-identical to encoding the whole run at once (varints are
    per-value independent). :func:`build_posting_blocks` (one group
    per call) and the driver-side ``stage_batch`` (a whole batch per
    call) both splice here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from seekstorm_spark.codecs import (
        vb_byte_lengths,
        vb_decode,
        vb_encode_chunk_offsets,
    )
    from seekstorm_spark.index.store import arrow_schema

    schema = arrow_schema(POSTINGS_DDL)
    n = segs.num_rows
    if n == 0:
        return schema.empty_table()

    def ints(name):
        return segs[name].to_numpy().astype(np.int64)

    term = segs["term"].combine_chunks()
    rank = pc.rank(term, tiebreaker="dense").to_numpy()  # byte order
    tb = np.asarray(tbucket, dtype=np.int64)
    blk, fld = ints("block_id"), ints("field")
    first, last = ints("seg_first"), ints("seg_last")
    order = np.lexsort((first, fld, rank, blk, tb))
    tb, blk, fld, rank = tb[order], blk[order], fld[order], rank[order]
    first, last = first[order], last[order]
    take = pa.array(order)

    new_group = np.ones(n, dtype=bool)
    new_group[1:] = (tb[1:] != tb[:-1]) | (blk[1:] != blk[:-1])
    new_term = new_group.copy()
    new_term[1:] |= rank[1:] != rank[:-1]
    new_run = new_term.copy()
    new_run[1:] |= fld[1:] != fld[:-1]
    starts = np.flatnonzero(new_run)
    n_runs = len(starts)

    # segments of one run must be disjoint ascending docid ranges
    # (the tokenize contract); a repeated docid that straddles two
    # map batches of one task surfaces here
    joins = np.flatnonzero(~new_run)
    _require_ascending(last[joins - 1], first[joins])

    # docids: every non-first segment of a run drops its head varint
    # and gets the boundary varint in its place
    dvb = segs["docids_vb"].take(take).combine_chunks()
    d_off = np.frombuffer(dvb.buffers()[1], dtype=np.int32)[
        dvb.offset : dvb.offset + n + 1
    ].astype(np.int64)
    d_data = np.frombuffer(dvb.buffers()[2], dtype=np.uint8)
    local_first = first[joins] - blk[joins] * block_size
    bbuf, boff = vb_encode_chunk_offsets(
        local_first - (last[joins - 1] - blk[joins] * block_size) - 1,
        np.ones(len(joins), dtype=np.int64),
    )
    skip = np.zeros(n, dtype=np.int64)
    skip[joins] = vb_byte_lengths(local_first.astype(np.uint64))
    blen = np.zeros(n, dtype=np.int64)
    blen[joins] = np.diff(boff)
    bsrc = np.zeros(n, dtype=np.int64)
    bsrc[joins] = len(d_data) + boff[:-1]
    # pieces in output order: (boundary varint, rest of segment) per row
    piece_src = np.empty(2 * n, dtype=np.int64)
    piece_src[0::2] = bsrc
    piece_src[1::2] = d_off[:-1] + skip
    piece_len = np.empty(2 * n, dtype=np.int64)
    piece_len[0::2] = blen
    piece_len[1::2] = np.diff(d_off) - skip
    piece_end = np.cumsum(piece_len)
    gather = np.repeat(piece_src - (piece_end - piece_len), piece_len)
    gather += np.arange(int(piece_end[-1]), dtype=np.int64)
    d_bytes = np.concatenate(
        [d_data, np.frombuffer(bbuf, dtype=np.uint8)]
    )[gather]
    d_run_off = np.concatenate(([0], piece_end[1::2]))[np.append(starts, n)]
    docids = pa.Array.from_buffers(
        pa.binary(),
        n_runs,
        [None, pa.py_buffer(d_run_off.astype(np.int32)), pa.py_buffer(d_bytes)],
    )

    def runs_of(reduce, name):
        return reduce.reduceat(ints(name)[order], starts).astype(np.int32)

    posting_count = runs_of(np.add, "n_pairs")

    # df_block: distinct docs per term ACROSS fields, placed on the
    # term's first run. A single-field term's segments are disjoint, so
    # its df is its posting_count; the runs of a term spanning >1 field
    # are decoded (all in one varint pass) and their docids counted
    # once each.
    df_block = np.zeros(n_runs, dtype=np.int32)
    run_new_term = new_term[starts]
    term_run = np.cumsum(run_new_term) - 1
    runs_per_term = np.bincount(term_run)
    multi = runs_per_term[term_run] > 1
    single = run_new_term & ~multi
    df_block[single] = posting_count[single]
    if multi.any():
        lo, hi = d_run_off[:-1][multi], d_run_off[1:][multi]
        ends = np.cumsum(hi - lo)
        pick = np.repeat(lo - (ends - (hi - lo)), hi - lo) + np.arange(
            int(ends[-1]), dtype=np.int64
        )
        counts = posting_count[multi].astype(np.int64)
        gaps = vb_decode(d_bytes[pick].tobytes()).astype(np.int64) + 1
        run_start = np.cumsum(counts) - counts
        # a run's first value is absolute: restart the running sum there
        seen = np.cumsum(gaps)
        seen -= np.repeat(seen[run_start] - gaps[run_start], counts) + 1
        key = np.repeat(term_run[multi], counts) * np.int64(block_size) + seen
        uniq_terms, n_docs = np.unique(
            np.unique(key) // np.int64(block_size), return_counts=True
        )
        first_run = np.flatnonzero(run_new_term)
        df_block[first_run[uniq_terms]] = n_docs

    at = order[starts]
    return pa.table(
        {
            "term": term.take(pa.array(at)),
            "field": fld[starts].astype(np.int32),
            "block_id": blk[starts].astype(np.int32),
            "posting_count": posting_count,
            "df_block": df_block,
            "max_tf": runs_of(np.maximum, "max_tf"),
            "min_dl_byte": runs_of(np.minimum, "min_dl_byte"),
            "docids_vb": docids,
            **{
                c: _run_slices(pa, segs[c].take(take), starts, n)
                for c in (
                    "tfs_vb", "dls", "positions_vb",
                    "tfs1_vb", "tfs2_vb", "tfs3_vb",
                )
            },
            "max_tf1": runs_of(np.maximum, "max_tf1"),
            "max_tf2": runs_of(np.maximum, "max_tf2"),
            "max_tf3": runs_of(np.maximum, "max_tf3"),
            "tbucket": tb[starts].astype(np.int32),
        },
        schema=schema,
    )


FACET_MISSING = 255  # u8 string-facet code for null/unknown


def facet_values(spec) -> list[str] | None:
    """Dictionary values of a facet spec (None for numeric facets).
    Accepts both the v4 typed shape ({"type", "values"}) and the
    legacy v3 plain-list shape."""
    if isinstance(spec, dict):
        return spec.get("values")
    return list(spec)


def facet_kind(spec) -> str:
    """"string" | "string_set" | "numeric" for a facet spec."""
    if isinstance(spec, dict):
        return spec.get("type", "string")
    return "string"


def facet_code_dtype(n_values: int):
    """Dictionary-code dtype by cardinality — u8 (≤255 values,
    missing=255), u16 (String16, reference facet cardinality 2^16,
    ARCHITECTURE.md), u32 (String32, 2^32). The missing sentinel is
    the dtype's max value, reserved from the dictionary."""
    if n_values <= 255:
        return np.uint8
    if n_values <= 65_535:
        return np.uint16
    return np.uint32


def facet_missing_code(n_values: int) -> int:
    return int(np.iinfo(facet_code_dtype(n_values)).max)


def encode_string_set_block(lists: list, mapping: dict, size: int) -> bytes:
    """Pack a block's multi-value facet (reference StringSet) as CSR:
    ``[u32 size][u32 offsets (size+1)][codes dtype-by-cardinality]``.
    A doc with no entry (or missing slot) simply has an empty span."""
    dtype = facet_code_dtype(len(mapping))
    counts = np.zeros(size, dtype=np.uint32)
    codes_per_doc: list[list[int]] = [[] for _ in range(size)]
    for local, values in lists:
        if values is None:
            continue
        cs = sorted(
            {mapping[str(v)] for v in values if str(v) in mapping}
        )
        codes_per_doc[local] = cs
        counts[local] = len(cs)
    offsets = np.zeros(size + 1, dtype=np.uint32)
    np.cumsum(counts, out=offsets[1:])
    flat = np.fromiter(
        (c for cs in codes_per_doc for c in cs),
        dtype=dtype,
        count=int(offsets[-1]),
    )
    return (
        np.uint32(size).tobytes() + offsets.tobytes() + flat.tobytes()
    )


def decode_string_set_block(buf: bytes, n_values: int):
    """→ (offsets u32[size+1], codes). Inverse of
    :func:`encode_string_set_block`."""
    size = int(np.frombuffer(buf, dtype=np.uint32, count=1)[0])
    offsets = np.frombuffer(buf, dtype=np.uint32, count=size + 1, offset=4)
    codes = np.frombuffer(
        buf, dtype=facet_code_dtype(n_values), offset=4 + 4 * (size + 1)
    )
    return offsets, codes


def build_facet_dictionaries(
    docs_with_ids: DataFrame,
    facet_cols: list[str],
    facet_types: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Typed facet metadata in ONE Spark job regardless of facet count.

    String facets get a sorted ≤255-value dictionary (one byte per doc
    per block; byte order == value order so engine-side sorts on the
    byte are value-correct; 255 = missing). Numeric facets store raw
    float64 values per block (range filters/counts at query time, the
    reference's numeric RangeType facets, search.rs:3598-3764) and
    need no dictionary. A numeric ARRAY column is a Point facet
    ([lat, lon] per doc — the reference's Point facet type,
    search.rs:2712-2724): one interleaved f64 buffer per block instead
    of two separate numeric facets.
    """
    numeric_types = {
        "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
    }
    meta: dict[str, dict] = {}
    string_cols = []
    set_cols = []
    for fc in facet_cols:
        dtype = dict(docs_with_ids.dtypes)[fc]
        base = dtype.split("(")[0]
        if base in numeric_types:
            meta[fc] = {"type": "numeric"}
        elif dtype.startswith("array<"):
            inner = dtype[len("array<"):-1].split("(")[0]
            if inner in numeric_types:
                # geo Point facet: [lat, lon] pairs. facet_types can
                # opt the column into the PACKED form ("morton"): one
                # u64 Morton code per doc — half the buffer bytes of
                # the interleaved f64 pair, at i32×10^7 coordinate
                # quantization (the reference stores Point facets
                # exactly so, geo_search.rs:33)
                declared = (facet_types or {}).get(fc)
                if declared not in (None, "point", "morton"):
                    raise ValueError(
                        f"facet {fc!r}: array<numeric> supports types "
                        f"'point'/'morton', got {declared!r}"
                    )
                meta[fc] = {"type": declared or "point"}
            else:
                # multi-value facet (reference StringSet, search.rs:2543+)
                meta[fc] = {"type": "string_set"}
                set_cols.append(fc)
        else:
            meta[fc] = {"type": "string"}
            string_cols.append(fc)
    if string_cols or set_cols:
        # one unioned distinct pass for ALL dictionaries (single job)
        parts = []
        if string_cols:
            parts.append(
                docs_with_ids.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(fc).alias("facet"),
                                    F.col(fc).cast("string").alias("value"),
                                )
                                for fc in string_cols
                            ]
                        )
                    ).alias("kv")
                ).select("kv.facet", "kv.value")
            )
        for fc in set_cols:
            parts.append(
                docs_with_ids.select(
                    F.lit(fc).alias("facet"),
                    F.explode(F.col(fc)).alias("value"),
                ).select("facet", F.col("value").cast("string").alias("value"))
            )
        kv = parts[0]
        for p in parts[1:]:
            kv = kv.unionByName(p)
        distinct = kv.filter(F.col("value").isNotNull()).distinct()
        distinct.persist()
        try:
            # cardinality gate runs EXECUTOR-side before any value
            # reaches the driver: the dictionary is driver-resident
            # (broadcast into the encode kernel, embedded in meta), so
            # an unbounded facet must fail before the collect, not
            # after it OOMs the driver. The reference's String32
            # ceiling is 2^32; a >cap dictionary belongs in a
            # numeric/hashed facet instead.
            counts = {
                r["facet"]: r["n"]
                for r in distinct.groupBy("facet")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for fc, n in counts.items():
                if n > FACET_DICT_CAP:
                    raise ValueError(
                        f"facet {fc!r} has {n} distinct values "
                        f"(cap {FACET_DICT_CAP}); use a numeric facet "
                        "for unbounded cardinality"
                    )
            rows = distinct.collect()
        finally:
            distinct.unpersist()
        by_facet: dict[str, list[str]] = {
            fc: [] for fc in string_cols + set_cols
        }
        for r in rows:
            by_facet[r["facet"]].append(r["value"])
        for fc, vals in by_facet.items():
            meta[fc]["values"] = sorted(vals)
    return meta


def encode_facet_blocks(
    docs_with_ids: DataFrame,
    facet_meta: dict[str, dict],
    block_size: int = ROARING_BLOCK_SIZE,
) -> DataFrame:
    """Per-block facet arrays for ALL facets in ONE kernel pass — the
    distributed analog of the reference's in-RAM per-doc facet array
    (index.rs facet_index). One row per (facet, block): string facets
    are uint8 dictionary codes, numeric facets raw float64 (NaN =
    missing). Numeric rows also carry the block's value min/max —
    block-level zone bounds that let range/geo queries skip whole
    blocks before decoding (the reference skips via its per-segment
    facet stats); NaN bounds mean "no value in this block"."""
    return (
        docs_with_ids.select("docid", *facet_meta)
        .withColumn(
            "block_id", (F.col("docid") / F.lit(block_size)).cast("int")
        )
        .groupBy("block_id")
        .applyInPandas(
            facet_kernel(facet_meta, block_size),
            schema="facet string, block_id int, fvalues binary, "
            "vmin double, vmax double",
        )
    )


def facet_kernel(
    facet_meta: dict[str, dict], block_size: int = ROARING_BLOCK_SIZE
):
    """The group kernel of :func:`encode_facet_blocks`:
    ``((block_id,), docid + facet columns as pandas)`` → one row per
    facet of that block."""
    facet_cols = list(facet_meta)
    mappings = {
        fc: {v: i for i, v in enumerate(facet_values(spec) or [])}
        for fc, spec in facet_meta.items()
    }
    kinds = {fc: facet_kind(spec) for fc, spec in facet_meta.items()}

    def _enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        block_id = int(key[0])
        local = pdf["docid"].values.astype(np.int64) - block_id * block_size
        size = int(local.max()) + 1
        out_facet, out_vals = [], []
        out_vmin: list[float] = []
        out_vmax: list[float] = []
        for fc in facet_cols:
            kind = kinds[fc]
            vmin = vmax = np.nan
            if kind == "numeric":
                arr = np.full(size, np.nan, dtype=np.float64)
                vals = pd.to_numeric(pdf[fc], errors="coerce").values.astype(
                    np.float64
                )
                arr[local] = vals
                if not np.isnan(vals).all():
                    vmin = float(np.nanmin(vals))
                    vmax = float(np.nanmax(vals))
                buf = arr.tobytes()
            elif kind in ("point", "morton"):
                # zone bounds carry the LATITUDE min/max (longitude
                # wraps, so lat is the safe block-skipping dimension)
                lats = np.full(len(pdf), np.nan)
                lons = np.full(len(pdf), np.nan)
                for j, v in enumerate(pdf[fc].values):
                    if v is not None and len(v) == 2:
                        lats[j] = float(v[0])
                        lons[j] = float(v[1])
                if kind == "point":
                    # interleaved [lat0, lon0, lat1, lon1, …] f64 pairs
                    arr = np.full(2 * size, np.nan, dtype=np.float64)
                    arr[2 * local] = lats
                    arr[2 * local + 1] = lons
                    if not np.isnan(lats).all():
                        vmin = float(np.nanmin(lats))
                        vmax = float(np.nanmax(lats))
                else:
                    # PACKED form: one u64 Morton code per doc (half
                    # the bytes of the pair buffer); 0 = missing (code
                    # 0 decodes to lat −214.7° — outside the valid
                    # range, so no real point collides). Zone bounds
                    # use the QUANTIZED latitude (what the kernel
                    # decodes), keeping the block skip lossless.
                    from seekstorm_spark.functions.geo import (
                        morton_decode,
                        morton_encode,
                    )

                    arr = np.zeros(size, dtype=np.uint64)
                    has = ~np.isnan(lats) & ~np.isnan(lons)
                    if has.any():
                        codes = morton_encode(lats[has], lons[has])
                        arr[local[has]] = codes
                        qlat, _qlon = morton_decode(codes)
                        vmin = float(qlat.min())
                        vmax = float(qlat.max())
                buf = arr.tobytes()
            elif kind == "string_set":
                buf = encode_string_set_block(
                    list(zip(local.tolist(), pdf[fc].values)),
                    mappings[fc],
                    size,
                )
            else:
                mapping = mappings[fc]
                missing = facet_missing_code(len(mapping))
                dtype = facet_code_dtype(len(mapping))
                arr = np.full(size, missing, dtype=dtype)
                codes = (
                    pdf[fc]
                    .map(
                        lambda v: missing
                        if v is None
                        else mapping.get(str(v), missing)
                    )
                    .values.astype(dtype)
                )
                arr[local] = codes
                # v5 zone bounds for STRING facets: min/max CODE over
                # non-missing docs. Dictionary byte order == value
                # order (frozen-dictionary invariant), so code order
                # IS value order and top-k-by-string sorts can skip
                # blocks exactly like numeric keys.
                nm = codes[codes != missing]
                if nm.size:
                    vmin = float(nm.min())
                    vmax = float(nm.max())
                buf = arr.tobytes()
            out_facet.append(fc)
            out_vals.append(buf)
            out_vmin.append(vmin)
            out_vmax.append(vmax)
        return pd.DataFrame(
            {
                "facet": out_facet,
                "block_id": pd.Series(
                    np.full(len(out_facet), block_id), dtype="int32"
                ),
                "fvalues": out_vals,
                "vmin": pd.Series(out_vmin, dtype="float64"),
                "vmax": pd.Series(out_vmax, dtype="float64"),
            }
        )

    return _enc


def build_facet_blocks(
    docs_with_ids: DataFrame,
    facet_cols: list[str],
    block_size: int = ROARING_BLOCK_SIZE,
    facet_types: dict[str, str] | None = None,
) -> tuple[DataFrame, dict[str, dict]]:
    """Dictionaries (one job) + per-block arrays (one kernel) — build
    job count is independent of the number of facets."""
    facet_meta = build_facet_dictionaries(
        docs_with_ids, facet_cols, facet_types
    )
    return encode_facet_blocks(docs_with_ids, facet_meta, block_size), facet_meta


def _decode_doc_meta(
    sentinel_postings: DataFrame, block_size: int
) -> DataFrame:
    """term-'' posting (or segment) rows → (docid, field, dl_byte).

    Each sentinel posting block holds every docid of that block with
    its SmallFloat dl byte — decoding them reconstructs the doc-length
    table without a second tokenize pass over the corpus. Segments use
    the same block-local encoding, so staged appends decode their
    cached tokenize output the same way.
    """
    return sentinel_postings.mapInPandas(
        doc_meta_kernel(block_size), schema=DOC_META_DDL
    )


def doc_meta_kernel(block_size: int = ROARING_BLOCK_SIZE):
    """The map kernel of :func:`_decode_doc_meta`: pandas batches of
    (block_id, field, docids_vb, dls) → (docid, field, dl_byte)."""
    from seekstorm_spark.codecs import decode_docids

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs_d: list[np.ndarray] = []
            outs_f: list[np.ndarray] = []
            outs_b: list[np.ndarray] = []
            for block_id, field, docids_vb, dls in zip(
                pdf["block_id"].values,
                pdf["field"].values,
                pdf["docids_vb"].values,
                pdf["dls"].values,
            ):
                d = decode_docids(docids_vb) + int(block_id) * block_size
                outs_d.append(d.astype(np.int64))
                outs_f.append(np.full(d.size, int(field), dtype=np.int32))
                outs_b.append(np.frombuffer(dls, dtype=np.uint8).astype(np.int32))
            if not outs_d:
                continue
            yield pd.DataFrame(
                {
                    "docid": np.concatenate(outs_d),
                    "field": np.concatenate(outs_f),
                    "dl_byte": np.concatenate(outs_b),
                }
            )

    return _dec


def term_stats_aggregate(postings: DataFrame) -> DataFrame:
    """Postings → per-(tbucket, term) list-head aggregates. Shared by
    the full build (whole table) and incremental appends (one batch's
    staged postings → a log-structured PARTIAL; readers sum df per
    term across partials, so append cost is O(batch) not O(index))."""
    return postings.filter(F.col("term") != "").groupBy(
        "tbucket", "term"
    ).agg(
        # df = distinct docs containing the term in ANY field
        # (df_block is nonzero on one field row per (term, block))
        F.sum("df_block").cast("long").alias("df"),
        F.sum("posting_count").cast("long").alias("cf_fields"),
        F.count("*").cast("int").alias("n_blocks"),
        F.max("max_tf").cast("int").alias("max_tf"),
        F.min("min_dl_byte").cast("int").alias("min_dl_byte"),
        (
            F.sum(F.length("docids_vb"))
            + F.sum(F.length("tfs_vb"))
            + F.sum(F.length("dls"))
            + F.sum(F.length("positions_vb"))
        ).cast("long").alias("bytes"),
    )


def length_histogram(doc_meta: DataFrame) -> dict[tuple[int, int], int]:
    """doc_meta rows → {(field, dl_byte): count}, in one collect.
    :func:`~seekstorm_spark.quantization.length_stats` turns it into
    N (field-0 rows) and the positions sum over ALL fields (avgdl =
    Σ per-field quantized dl / doc count, commit.rs:318-319)."""
    return {
        (int(r["field"]), int(r["dl_byte"])): int(r["cnt"])
        for r in doc_meta.groupBy("field", "dl_byte")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }


def write_term_stats(term_stats: DataFrame, n_buckets: int, path: str) -> None:
    """Write a whole term-stats table: one sorted file per
    ``tbucket=`` partition."""
    (
        term_stats.repartition(n_buckets, "tbucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(path)
    )


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        tokenizer: str = "unicode_alphanumeric",
        stop_words: frozenset[str] | None = None,
        n_buckets: int = 32,
        block_size: int = ROARING_BLOCK_SIZE,
        fields: list[str] | None = None,
        facet_cols: list[str] | None = None,
        facet_types: dict[str, str] | None = None,
        stemmer: str | None = None,
        frequent_terms: list[str] | None = None,
        synonyms: list[dict] | None = None,
        ngram_patterns: list[str] | None = None,
    ):
        self.spark = spark
        self.index_path = index_path
        self.tokenizer = tokenizer
        self.stop_words = stop_words
        self.n_buckets = n_buckets
        self.block_size = block_size
        self.fields = list(fields) if fields else None
        self.facet_cols = list(facet_cols) if facet_cols else None
        self.facet_types = dict(facet_types) if facet_types else None
        self.stemmer = stemmer
        # a language code ("en"/"de"/"fr"/"es") resolves to the
        # built-in stopword-class list — the reference's default
        # frequent_en dictionary semantics
        from seekstorm_spark.dictionaries import frequent_terms_for

        resolved_freq = frequent_terms_for(frequent_terms)
        self.frequent_terms = (
            frozenset(resolved_freq) if resolved_freq else None
        )
        # reference NgramSet subset (index.rs:1834-1872); default
        # FF | FFF when a frequent set is given
        if ngram_patterns is not None:
            bad = set(ngram_patterns) - set(ALL_NGRAM_PATTERNS)
            if bad:
                raise ValueError(
                    f"unknown ngram patterns {sorted(bad)}; "
                    f"valid: {ALL_NGRAM_PATTERNS}"
                )
            self.ngram_patterns = tuple(ngram_patterns)
        else:
            self.ngram_patterns = (
                DEFAULT_NGRAM_PATTERNS if self.frequent_terms else ()
            )
        # synonyms: [{"terms": [...], "multiway": bool}] (reference
        # Synonym struct, index.rs:1077-1098). Multi-way: every term is
        # indexed under all others; one-way: followers are indexed
        # under the FIRST term only (searches for the first term find
        # them, not vice versa).
        self.synonyms = synonyms or []
        self.synonym_map = synonym_map_from_groups(self.synonyms)

    def index_meta(
        self,
        fields: list[str],
        facets: dict[str, dict] | None = None,
        corpus: dict[str, Any] | None = None,
        complete: bool = True,
    ) -> dict[str, Any]:
        """The meta.json of an index with these settings over
        ``fields``, with the typed facet ``facets`` (build's dictionary
        output) and the ``corpus`` state (:data:`EMPTY_CORPUS` keys;
        default: no documents). :func:`_tokenizer_settings` decodes
        the tokenize options back out of it."""
        return {
            "version": INDEX_FORMAT_VERSION,
            "fields": fields,
            "facets": facets or {},
            "tokenizer": self.tokenizer,
            "stemmer": self.stemmer,
            "frequent_terms": sorted(self.frequent_terms)
            if self.frequent_terms
            else [],
            "ngram_patterns": list(self.ngram_patterns),
            "synonyms": self.synonyms,
            # per-field stopword sets (reference index.rs:1238-1256):
            # the QUERY side drops only terms that are stopwords in
            # EVERY field — a term kept by any field can still match
            **(
                {
                    "stop_words": sorted(
                        set.intersection(
                            *[set(v) for v in self.stop_words.values()]
                        )
                        if len(self.stop_words) == len(fields)
                        else set()
                    ),
                    "stop_words_by_field": {
                        f: sorted(v) for f, v in self.stop_words.items()
                    },
                }
                if isinstance(self.stop_words, dict)
                else {
                    "stop_words": sorted(self.stop_words)
                    if self.stop_words
                    else []
                }
            ),
            **(corpus or EMPTY_CORPUS),
            "n_buckets": self.n_buckets,
            "block_size": self.block_size,
            "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": complete,
        }

    def build(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str | None = None,
        order_col: str | None = None,
        only_buckets: list[int] | None = None,
        resume: bool = False,
    ) -> IndexStore:
        """Build (or resume) the index from a documents DataFrame.

        ``only_buckets`` restricts the postings write to a subset of
        term buckets (used by tests to simulate an interrupted build);
        ``resume=True`` builds only buckets absent from lineage.
        """
        spark = self.spark
        t0 = time.time()
        store = IndexStore(path=self.index_path)
        os.makedirs(self.index_path, exist_ok=True)

        sentinel_bucket = int(term_buckets([""], self.n_buckets)[0])

        fields = self.fields or [text_col]
        facet_cols = self.facet_cols or []
        # project early: only (order/id, <fields…>, <facets…>) enter the
        # build shuffles — at 100 TB the html payload must never ride
        keep = [
            c
            for c in dict.fromkeys([order_col, id_col, *fields, *facet_cols])
            if c
        ]
        docs = assign_docids(
            docs.select(*keep), order_col=order_col, id_col=id_col,
            n_buckets=max(self.n_buckets, 16),
        )
        facet_dicts: dict[str, dict] = {}
        if facet_cols:
            facet_blocks, facet_dicts = build_facet_blocks(
                docs.select("docid", *facet_cols),
                facet_cols,
                self.block_size,
                facet_types=self.facet_types,
            )
            (
                facet_blocks.repartition(1, "facet")
                .write.mode("overwrite")
                .partitionBy("facet")
                .parquet(store.facets_path)
            )
        docs = docs.select("docid", *fields)

        # --- resume bookkeeping ---
        committed: set[int] = set()
        if resume and os.path.exists(store.lineage_path):
            committed = {
                int(r["tbucket"])
                for r in spark.read.parquet(store.lineage_path)
                .select("tbucket")
                .distinct()
                .collect()
            }
        targets = [
            b
            for b in (only_buckets or range(self.n_buckets))
            if b not in committed
        ]

        # --- ONE tokenize pass → posting blocks, bucketed by term hash.
        # Sentinel segments (term='', dl per doc) ride the same shuffle and
        # become the term-'' postings that doc_meta derives from; format
        # v2 bounds need no avgdl at build time, so no stats pre-pass.
        term_rows = tokenize_to_term_rows(
            docs, text_col, self.tokenizer, self.stop_words, fields=fields,
            stemmer=self.stemmer, frequent_terms=self.frequent_terms,
            synonym_map=self.synonym_map or None,
            ngram_patterns=self.ngram_patterns,
            block_size=self.block_size,
        )
        posting_blocks = build_posting_blocks(
            term_rows,
            self.n_buckets,
            only_buckets=targets if len(targets) < self.n_buckets else None,
            block_size=self.block_size,
        )

        mode = "append" if (resume or only_buckets) and os.path.exists(
            store.postings_path
        ) else "overwrite"
        # exactly one shuffle partition per term bucket: each write task
        # emits one parquet file into one partition dir (a task writing
        # into many dirs costs a non-scaling file-create tail)
        (
            posting_blocks.repartition(self.n_buckets, "tbucket")
            .sortWithinPartitions("term", "block_id")
            .write.mode(mode)
            .partitionBy("tbucket")
            .parquet(store.postings_path)
        )

        postings = store.postings(spark)

        # --- doc_meta + global stats (reference commit.rs:264-325),
        # derived from the sentinel postings (partition-pruned read of
        # one tbucket) once the sentinel bucket has been committed ---
        n_docs, pos_sum, avgdl = 0, 0, 1.0
        if sentinel_bucket in targets or sentinel_bucket in committed:
            if sentinel_bucket in targets or not os.path.exists(
                store.doc_meta_path
            ):
                sent = postings.filter(
                    (F.col("tbucket") == sentinel_bucket) & (F.col("term") == "")
                ).select("block_id", "field", "docids_vb", "dls")
                _decode_doc_meta(sent, self.block_size).write.mode(
                    "overwrite"
                ).parquet(store.doc_meta_path)
            n_docs, pos_sum = length_stats(
                length_histogram(store.doc_meta(spark))
            )
            avgdl = avgdl_f32(pos_sum, n_docs)

        # --- term stats (list heads: df, cf, list-max metadata) ---
        write_term_stats(
            term_stats_aggregate(postings), self.n_buckets,
            store.term_stats_path,
        )

        # --- lineage (per-bucket commit record), derived from the tiny
        # term_stats table so the postings payload is read only once ---
        ts = store.term_stats(spark)
        lineage = (
            ts.filter(F.col("tbucket").isin([int(b) for b in targets]))
            .groupBy("tbucket")
            .agg(
                F.sum("n_blocks").cast("long").alias("n_blocks"),
                F.count("*").cast("long").alias("n_terms"),
                F.sum("df").cast("long").alias("n_postings"),
                F.sum("bytes").cast("long").alias("bytes"),
            )
            .withColumn("committed_at", F.current_timestamp())
            .withColumn("build_wall_s", F.lit(float(time.time() - t0)))
        )
        lineage.write.mode(
            "append" if (resume or only_buckets) and os.path.exists(store.lineage_path)
            else "overwrite"
        ).parquet(store.lineage_path)

        from seekstorm_spark.query.engine import invalidate_term_stats_cache

        invalidate_term_stats_cache(store.path)

        store.meta = self.index_meta(
            fields,
            facet_dicts,
            corpus={
                "n_docs": n_docs,
                "positions_sum_normalized": pos_sum,
                "avgdl": avgdl,
                "next_docid": n_docs,
            },
            complete=only_buckets is None or resume,
        )
        store.write_meta()
        return store


def _tokenizer_settings(meta: dict) -> dict[str, Any]:
    """The tokenize options an index's meta records (the inverse of
    :meth:`IndexBuilder.index_meta`), as keywords of
    :func:`tokenize_to_term_rows` and :func:`segment_kernel`."""
    by_field = meta.get("stop_words_by_field")
    return {
        "tokenizer": meta.get("tokenizer", "unicode_alphanumeric"),
        "stop_words": (
            {f: frozenset(v) for f, v in by_field.items()}
            if by_field
            else (frozenset(meta.get("stop_words") or []) or None)
        ),
        "stemmer": meta.get("stemmer"),
        "frequent_terms": frozenset(meta.get("frequent_terms") or []) or None,
        "synonym_map": synonym_map_from_groups(meta.get("synonyms") or [])
        or None,
        "ngram_patterns": meta.get("ngram_patterns"),
        "block_size": int(meta.get("block_size", ROARING_BLOCK_SIZE)),
    }


def write_empty_index(path: str, meta: dict) -> IndexStore:
    """Write an index with no documents at ``path``: every data
    subdirectory already there (tables, deletes, result cache, staged
    batches, doc store) is removed, then empty ``postings/``,
    ``term_stats/`` and ``doc_meta/`` dirs (plus ``facets/`` when
    ``meta`` declares facets) are created and ``meta`` is written with
    its corpus state reset (:data:`EMPTY_CORPUS`, no applied batches)
    at the current format version. Every other meta key is kept
    verbatim. Runs no Spark job: readers pass explicit schemas, so an
    empty dir reads as an empty table, and appends grow it."""
    import shutil

    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            full = os.path.join(path, entry)
            if os.path.isdir(full):
                shutil.rmtree(full)
    store = IndexStore(
        path=path,
        meta={
            **meta,
            **EMPTY_CORPUS,
            "version": INDEX_FORMAT_VERSION,
            "complete": True,
        },
    )
    store.meta.pop("applied_batches", None)
    tables = [store.postings_path, store.term_stats_path, store.doc_meta_path]
    if store.meta.get("facets"):
        tables.append(store.facets_path)
    for table in tables:
        os.makedirs(table, exist_ok=True)
    store.write_meta()

    from seekstorm_spark.query.engine import invalidate_term_stats_cache

    invalidate_term_stats_cache(path)
    return store


def open_current(
    index_path: str, reuse: Callable[[dict], bool] | None = None
) -> IndexStore | None:
    """The stored index at ``index_path`` if it can be reused — its
    meta says complete, at the current format version (stale caches
    from an older format must rebuild), and ``reuse(meta)`` holds —
    else None."""
    if not os.path.exists(os.path.join(index_path, "meta.json")):
        return None
    store = IndexStore.open(index_path)
    m = store.meta
    if (
        m.get("complete")
        and m.get("version") == INDEX_FORMAT_VERSION
        and (reuse is None or reuse(m))
    ):
        return store
    return None


def load_or_build(
    spark: SparkSession,
    docs: Callable[[], DataFrame],
    index_path: str,
    builder_kwargs: dict[str, Any] | None = None,
    build_kwargs: dict[str, Any] | None = None,
    reuse: Callable[[dict], bool] | None = None,
) -> IndexStore:
    """Open the index at ``index_path`` when :func:`open_current`
    accepts it, else build it there from ``docs()`` — a zero-argument
    function returning the documents, called only to build."""
    store = open_current(index_path, reuse)
    if store is not None:
        return store
    return IndexBuilder(spark, index_path, **(builder_kwargs or {})).build(
        docs(), **(build_kwargs or {})
    )


def clear_index(spark: SparkSession, store: IndexStore) -> IndexStore:
    """Reset the index to empty while maintaining the schema
    (reference ``Index::clear_index``, index.rs:4920-4945: postings,
    dictionaries, completions, and doc store are dropped; the index
    settings survive).

    :func:`write_empty_index` removes every data subdirectory and
    writes the empty tables and the same meta with only its corpus
    state reset. Every other key survives verbatim: the tokenize
    settings, fields, the facet DICTIONARIES (byte order == value
    order is part of the frozen schema — appends after the clear
    validate against the same value set) and the API key with its
    rate limit. No Spark job runs; ``spark`` goes unused."""
    return write_empty_index(store.path, store.meta)


def get_synonyms(store: IndexStore) -> list[dict]:
    """Current synonym groups (reference ``Index::get_synonyms``,
    index.rs:4955-4966 — there a SYNONYMS_FILENAME json, here the
    ``synonyms`` key of meta.json)."""
    return list(store.meta.get("synonyms") or [])


def _validate_synonym_groups(groups: list[dict]) -> list[dict]:
    out = []
    for g in groups:
        terms = [str(t) for t in (g.get("terms") or []) if str(t)]
        if len(terms) < 2:
            raise ValueError(
                "each synonym group needs >= 2 non-empty terms"
            )
        out.append({"terms": terms, "multiway": bool(g.get("multiway", True))})
    return out


def set_synonyms(store: IndexStore, groups: list[dict]) -> int:
    """Replace the index's synonyms (reference ``Index::set_synonyms``,
    index.rs:4969-4979). Affects only SUBSEQUENTLY indexed documents —
    the append/realtime path expands against meta['synonyms'] at
    tokenize time, so existing postings are untouched (same contract
    as the reference: "Affects only subsequently indexed documents").
    Returns the group count."""
    store.meta["synonyms"] = _validate_synonym_groups(groups)
    store.write_meta()
    return len(store.meta["synonyms"])


def add_synonyms(store: IndexStore, groups: list[dict]) -> int:
    """Append/merge synonym groups (reference ``Index::add_synonyms``,
    index.rs:4982-5002: read-merge-rewrite). Returns the TOTAL group
    count after the merge, like the reference."""
    merged = list(store.meta.get("synonyms") or [])
    merged.extend(_validate_synonym_groups(groups))
    store.meta["synonyms"] = merged
    store.write_meta()
    return len(merged)
