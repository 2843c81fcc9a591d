"""Frequent-term result cache: precomputed top-k lists served
driver-side with ZERO Spark jobs.

Engine analog of the reference's frequent-word result cache
(`/root/reference/seekstorm/src/search.rs:3388-3445`,
`index.rs:1644`): single-term queries on stopword-class terms are
answered from a cached top-1000 list instead of executing. On Spark
the win is much larger than in the reference — a kernel query pays
the ~0.5 s/action scheduling floor, a cache hit is a driver-side
array slice.

Build: also on the driver, with no Spark job. Each frequent term is
planned once; their committed posting rows are read with pyarrow from
only their ``tbucket=`` dirs (``engine._posting_table``, the columns
and term filter of the Spark scan), and the one scoring kernel
(``engine._make_kernel``, with ``engine._kernel_args``' index-derived
arguments) runs in-process over them block by block — the same f32
top-k, bit for bit, as ``search_many`` with the cache bypassed. The
rows go to a parquet file named per rebuild, then a meta json names
that file and records the index generation (postings / term_stats /
deletes dir mtimes); the meta is replaced last, so a reader never
pairs one rebuild's meta with another's rows. Any append, commit,
delete, or compaction bumps a generation mtime, which invalidates the
cache until `build_result_cache` runs again — exactly the reference's
cache-rebuild-per-commit semantics (``RealtimeIndexer.commit`` reruns
it through ``rebuild_result_cache``).

Serve: `cached_single_term` memoizes the decoded parquet per
(path, generation) and answers from a dict of numpy-backed rows.
`search()` and `search_many()` consult it automatically for eligible
plans (single positive term, no NOT/phrase/facets/geo/sort/fields/
staged; one rule, `engine._cached_hit`) and serve a LocalTableScan
DataFrame — no job, no scan.
"""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np

RESULT_CACHE_VERSION = 2
RESULT_CACHE_K = 1000

_CACHE_DIR = "result_cache"
_META_NAME = "cache_meta.json"

# (store.path) → (generation tuple, k, {term: [(docid, score), ...]})
_SERVE_CACHE: dict[str, tuple[tuple, int, dict]] = {}


def cacheable_plan(plan) -> bool:
    """The ONE definition of plan-level cache eligibility, shared by
    the build path (which keys the cache) and the serve path
    (``engine._cached_hit``, which consults it): exactly one positive
    term, plain union/intersection, no NOT terms, no phrase, no gram
    units. Search-level arguments (filters, sorts, fields, staged) are
    the serve path's own checks."""
    return (
        plan.qtype in ("union", "intersection")
        and len(plan.pos_terms) == 1
        and not plan.not_terms
        and not plan.phrase
        and getattr(plan, "units", None) is None
    )


def _generation(store) -> tuple:
    from seekstorm_spark.query.engine import _dir_mtime

    return (
        _dir_mtime(store.postings_path),
        _dir_mtime(store.term_stats_path),
        _dir_mtime(store.deletes_path),
    )


def build_result_cache(
    spark,
    store,
    terms: list[str] | None = None,
    k: int = RESULT_CACHE_K,
) -> list[str]:
    """Precompute top-``k`` results for ``terms`` (default: the
    index's ``frequent_terms``) on the driver, with no Spark job;
    returns the list of cached (analyzed) term keys. Must be re-run
    after any append / delete / compaction — until then the stale
    cache is ignored."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from seekstorm_spark.query.engine import (
        _kernel_args,
        _make_kernel,
        _plan,
        _posting_table,
    )

    terms = list(
        terms if terms is not None else store.meta.get("frequent_terms") or []
    )
    keys: list[str] = []
    queries: list[str] = []
    idx_plans = []
    for t in terms:
        plan = _plan(spark, store, t, "union")
        if cacheable_plan(plan):
            key = next(iter(plan.pos_terms))
            if key not in keys:
                idx_plans.append((len(keys), plan))
                keys.append(key)
                queries.append(t)

    gen = _generation(store)
    out_terms = np.empty(0, dtype=object)
    out_docids = np.empty(0, dtype=np.int64)
    out_scores = np.empty(0, dtype=np.float32)
    if idx_plans:
        rows = _posting_table(store, idx_plans)
        _allowed, kargs = _kernel_args(store)
        kernel = _make_kernel(idx_plans, k, True, **kargs)
        # one block group at a time, in block order (the table is
        # sorted by block_id); the kernel's top-k per query is already
        # in the search() order: score desc, docid asc
        bids = rows.column("block_id").to_numpy()
        cuts = [0, *(np.flatnonzero(np.diff(bids)) + 1), len(bids)]
        (top,) = kernel(
            rows.slice(a, b - a).to_pandas() for a, b in zip(cuts, cuts[1:])
        )
        out_terms = np.asarray(keys, dtype=object)[top["query_id"].to_numpy()]
        out_docids = top["docid"].to_numpy()
        out_scores = top["score"].to_numpy()

    cache_dir = os.path.join(store.path, _CACHE_DIR)
    os.makedirs(cache_dir, exist_ok=True)
    table = pa.table(
        {
            "term": pa.array(out_terms, pa.string()),
            "docid": pa.array(out_docids, pa.int64()),
            "score": pa.array(out_scores, pa.float32()),
        }
    )
    # a new file per rebuild: the meta below names it, so readers of
    # the old meta keep reading the old rows until the meta moves
    fd, data_path = tempfile.mkstemp(
        dir=cache_dir, prefix="cache-", suffix=".parquet"
    )
    os.close(fd)
    pq.write_table(table, data_path)
    meta = {
        "version": RESULT_CACHE_VERSION,
        "k": int(k),
        "terms": keys,
        # pre-analysis query strings — rebuilds re-plan THESE (feeding
        # analyzed keys back through a stemmer could double-stem)
        "source_terms": queries,
        "generation": list(gen),
        "data": os.path.basename(data_path),
    }
    fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(cache_dir, _META_NAME))
    # the meta no longer names any older rows file: remove them (a
    # reader still holding an old meta finds its file gone and falls
    # back to the kernel)
    for name in os.listdir(cache_dir):
        if name.endswith(".parquet") and name != meta["data"]:
            try:
                os.remove(os.path.join(cache_dir, name))
            except FileNotFoundError:
                pass
    _SERVE_CACHE.pop(store.path, None)
    return keys


def rebuild_result_cache(spark, store) -> list[str]:
    """Re-run the cache build with the SAME terms and depth the
    existing on-disk cache recorded (post-commit refresh hook). No-op
    when no cache exists."""
    meta_path = os.path.join(store.path, _CACHE_DIR, _META_NAME)
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except OSError:
        return []
    return build_result_cache(
        spark, store,
        terms=meta.get("source_terms") or meta.get("terms") or [],
        k=int(meta.get("k", RESULT_CACHE_K)),
    )


def _disk_generation(store) -> tuple | None:
    """Generation recorded in the on-disk cache meta (cheap: one small
    json read, no parquet decode)."""
    try:
        with open(
            os.path.join(store.path, _CACHE_DIR, _META_NAME)
        ) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if meta.get("version") != RESULT_CACHE_VERSION:
        return None
    return tuple(meta["generation"])


def _load(store) -> tuple[tuple, int, dict] | None:
    import pyarrow.parquet as pq

    cache_dir = os.path.join(store.path, _CACHE_DIR)
    try:
        with open(os.path.join(cache_dir, _META_NAME)) as f:
            meta = json.load(f)
        if meta.get("version") != RESULT_CACHE_VERSION:
            return None
        # the rows file this meta names; a rebuild that lands after the
        # meta read removes it → None, and the query runs the kernel
        table = pq.read_table(os.path.join(cache_dir, meta["data"]))
    except (OSError, ValueError):
        return None
    terms = table.column("term").to_pylist()
    docids = table.column("docid").to_pylist()
    scores = table.column("score").to_pylist()
    by_term: dict[str, list] = {t: [] for t in meta.get("terms") or []}
    for t, d, s in zip(terms, docids, scores):
        by_term[t].append((d, s))
    return tuple(meta["generation"]), int(meta["k"]), by_term


def cached_single_term(
    store, term: str, need_k: int
) -> list[tuple[int, float]] | None:
    """Serve a single-term top-``need_k`` from the cache, or None when
    the cache is absent, stale (index generation moved), doesn't hold
    ``term``, or is too shallow for ``need_k``. A returned list is
    bit-identical to the kernel path's (docid, f32 score) ordering."""
    current = _generation(store)
    entry = _SERVE_CACHE.get(store.path)
    if entry is None or entry[0] != current:
        # reload ONLY when the on-disk meta claims the current
        # generation (one small json read); a stale on-disk cache
        # stays memoized so a drifted index doesn't pay a full
        # parquet decode per query until someone rebuilds
        if _disk_generation(store) != current:
            return None
        entry = _load(store)
        if entry is None or entry[0] != current:
            return None
        _SERVE_CACHE[store.path] = entry
    gen, k, by_term = entry
    if term not in by_term:
        return None
    rows = by_term[term]
    if need_k > k and len(rows) >= k:
        return None  # cache too shallow for the request
    return rows[:need_k]
