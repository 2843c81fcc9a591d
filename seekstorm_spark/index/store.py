"""On-disk index layout + read-side access (format v5).

The index is a set of Parquet tables under one directory (the Spark
analog of the reference's per-shard ``index.bin`` layout,
`/root/reference/seekstorm/src/commit.rs:264-331`):

* ``meta.json``     — the index settings (format version, fields,
                      typed facet declarations + string dictionaries,
                      tokenizer, stemmer, stopwords, frequent terms,
                      n-gram patterns, synonyms, bucket count, block
                      size, API key hash + rate limit) and the
                      corpus state (N, the quantized length sum,
                      avgdl, next docid, applied batch ids).
                      ``builder.IndexBuilder.index_meta``
                      writes it; ``builder.write_empty_index`` /
                      ``clear_index`` reset only the corpus state.
* ``doc_meta/``     — one row per (doc, field): docid, field,
                      dl_byte (SmallFloat, `index.rs:4232-4279`).
* ``postings/``     — one row per (term, field, block); hash-partitioned
                      by ``tbucket`` (the Spark analog of the
                      reference's 2048 term-hash segments,
                      `index.rs:988-995`); 65,536-docid blocks
                      (`index.rs:114-115`) with delta+VB docids, VB
                      tfs, raw dl bytes, VB positions, n-gram partial
                      tfs, and the block bound inputs (max_tf,
                      min_dl_byte, max_tf1..3) from which the query
                      computes the WAND bound at the current avgdl
                      (`compress_postinglist.rs:530-676`). df_block is
                      the block's count of distinct docs holding the
                      term in ANY field, carried on one field row, so
                      summed it is the BM25F df. A bulk build also
                      writes term-'' rows with each doc's length
                      bytes; doc_meta is decoded from them.
* ``term_stats/``   — list heads per ``tbucket``: term, df, cf, block
                      count, list max_tf / min_dl_byte, bytes.
                      Log-structured: each append adds its own partial
                      rows, readers sum df per term.
* ``facets/``       — per-block facet arrays partitioned by ``facet``
                      (dictionary codes, CSR string sets, float64
                      values, point pairs or Morton codes), with
                      vmin/vmax zone bounds on numeric rows. Only
                      when facets are declared.
* ``lineage/``      — per-bucket build metrics + commit timestamps;
                      resume anti-joins pending buckets against this
                      (reference resumes by truncating the incomplete
                      last level, `commit.rs:203-258`). Bulk builds
                      only.
* ``deletes/``      — deleted docids, filtered inside the kernel until
                      ``compaction.compact`` rewrites them away.
* ``result_cache/`` — top-k results of frequent one-term queries for
                      the current index generation
                      (``query.result_cache``).
* ``spell/``        — SymSpell delete keys (dkey, term, df) per
                      ``dbucket`` (``query.spell``).
* ``completions/``  — prefix → top-k (term, df, rank) per ``pbucket``
                      (``query.spell``).
* ``_staging/``     — uncommitted micro-batches (realtime level-0),
                      one ``batch_<tag>/`` dir each with its
                      postings, term_stats, doc_meta and facets,
                      promoted by ``commit_batch``.

postings, term_stats, spell and completions are bucket-partitioned by
``hashing.bucket_column`` of their key (term, term, dkey, prefix).
:func:`read_buckets` is the one driver-side read of such a table by
key: it reads only the keys' bucket dirs, so a probe is bounded by
the table size / bucket count, whatever the corpus size.

An empty index is the three tables' empty dirs (plus ``facets/``) and
meta.json: readers pass the explicit schemas below, so an empty dir
reads as an empty table and creating one needs no Spark job.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from seekstorm_spark.hashing import term_buckets

# Explicit on-disk table schemas. The postings and doc_meta writers
# (``builder.build_posting_blocks`` / ``_decode_doc_meta``) declare
# their output with these same strings; ``term_stats_aggregate`` and
# ``encode_facet_blocks`` must produce TERM_STATS_DDL / FACETS_DDL
# column for column. Passing them to every read (a) skips parquet
# schema inference per query and (b) keeps EMPTY tables readable —
# an empty index has no data files, and inference cannot name
# columns that aren't there.
POSTINGS_DDL = (
    "term string, field int, block_id int, posting_count int, "
    "df_block int, max_tf int, min_dl_byte int, docids_vb binary, "
    "tfs_vb binary, dls binary, positions_vb binary, "
    "tfs1_vb binary, tfs2_vb binary, tfs3_vb binary, "
    "max_tf1 int, max_tf2 int, max_tf3 int, tbucket int"
)
DOC_META_DDL = "docid long, field int, dl_byte int"
TERM_STATS_DDL = (
    "term string, df long, cf_fields long, n_blocks int, max_tf int, "
    "min_dl_byte int, bytes long, tbucket int"
)
FACETS_DDL = (
    "block_id int, fvalues binary, vmin double, vmax double, "
    "facet string"
)
SPELL_DDL = "dkey string, term string, df long, dbucket int"
COMPLETIONS_DDL = "prefix string, term string, df long, rank int, pbucket int"


def arrow_schema(ddl: str, drop: str | None = None, not_null=()):
    """Arrow schema of a flat Spark DDL string, without the ``drop``
    (partition) column — what the driver-side pyarrow writers and
    readers of these tables use."""
    import pyarrow as pa

    types = {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
        "binary": pa.binary(),
    }
    return pa.schema(
        pa.field(name, types[typ], nullable=name not in not_null)
        for name, typ in (spec.split() for spec in ddl.split(","))
        if name != drop
    )


def read_buckets(
    path: str,
    ddl: str,
    keys,
    n_buckets: int,
    columns: list[str],
    key: str = "term",
    bucket: str = "tbucket",
):
    """The ``columns`` of the rows of the bucket-partitioned table at
    ``path`` (declared by ``ddl``) whose ``key`` is one of ``keys``,
    as a pyarrow Table, with no Spark job. The keys hash once
    (``hashing.term_buckets``); only their existing ``<bucket>=<b>``
    dirs are listed and read, with the declared schema, so a missing
    path or an empty dir reads as no rows. Files are read in path
    order, as a pyarrow dataset over the whole table would."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    schema = arrow_schema(ddl, drop=bucket)
    keys = sorted(set(keys))
    files = []
    for b in set(term_buckets(keys, n_buckets).tolist()):
        d = os.path.join(path, f"{bucket}={b}")
        if os.path.isdir(d):
            files += [
                e.path for e in os.scandir(d)
                if e.is_file() and not e.name.startswith((".", "_"))
            ]
    if not files:
        return schema.empty_table().select(columns)
    return pads.dataset(sorted(files), schema=schema, format="parquet").to_table(
        columns=columns, filter=pc.field(key).isin(keys)
    )


@dataclass
class IndexStore:
    path: str
    meta: dict = field(default_factory=dict)

    # --- paths ---
    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    @property
    def doc_meta_path(self) -> str:
        return os.path.join(self.path, "doc_meta")

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @property
    def term_stats_path(self) -> str:
        return os.path.join(self.path, "term_stats")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.path, "lineage")

    @property
    def deletes_path(self) -> str:
        return os.path.join(self.path, "deletes")

    @property
    def facets_path(self) -> str:
        return os.path.join(self.path, "facets")

    # --- lifecycle ---
    @classmethod
    def open(cls, path: str) -> "IndexStore":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        return cls(path=path, meta=meta)

    def write_meta(self) -> None:
        """Write meta.json atomically — it is ``commit_batch``'s commit
        point: dump to a temp file in the index dir, then rename it
        over meta.json, so a process crash or a failing dump leaves
        the old file whole (no fsync: the table files it names are not
        synced either)."""
        import threading

        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self.meta_path}.{os.getpid()}.{threading.get_ident()}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(self.meta, f, indent=2)
            os.replace(tmp, self.meta_path)
        finally:
            if os.path.exists(tmp):  # the dump or the rename failed
                os.remove(tmp)

    # --- readers ---
    def doc_meta(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(DOC_META_DDL).parquet(self.doc_meta_path)

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(POSTINGS_DDL).parquet(self.postings_path)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(TERM_STATS_DDL).parquet(
            self.term_stats_path
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_path)

    def facet_blocks(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(FACETS_DDL).parquet(self.facets_path)

    @property
    def n_docs(self) -> int:
        return int(self.meta["n_docs"])

    @property
    def avgdl(self) -> float:
        return float(self.meta["avgdl"])

    @property
    def n_buckets(self) -> int:
        return int(self.meta["n_buckets"])
