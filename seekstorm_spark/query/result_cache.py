"""Frequent-term result cache: precomputed top-k lists served
driver-side with ZERO Spark jobs.

Engine analog of the reference's frequent-word result cache
(`/root/reference/seekstorm/src/search.rs:3388-3445`,
`index.rs:1644`): single-term queries on stopword-class terms are
answered from a cached top-1000 list instead of executing. On Spark
the win is much larger than in the reference — a kernel query pays
the ~0.5 s/action scheduling floor, a cache hit is a driver-side
array slice.

Build: ONE fused `search_many` action computes every frequent term's
top-k (bit-identical to `search`), written as a single parquet file
plus a meta json recording the index generation (postings /
term_stats / deletes dir mtimes). Any append, commit, delete, or
compaction bumps a generation mtime, which invalidates the cache
until `build_result_cache` runs again — exactly the reference's
cache-rebuild-per-commit semantics.

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

RESULT_CACHE_VERSION = 1
RESULT_CACHE_K = 1000

_CACHE_DIR = "result_cache"
_META_NAME = "cache_meta.json"
_DATA_NAME = "cache.parquet"

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
    index's ``frequent_terms``) in ONE fused action; returns the list
    of cached (analyzed) term keys. Must be re-run after any append /
    delete / compaction — until then the stale cache is ignored."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from seekstorm_spark.query.engine import _plan, search_many

    terms = list(
        terms if terms is not None else store.meta.get("frequent_terms") or []
    )
    keys: list[str] = []
    queries: list[str] = []
    for t in terms:
        plan = _plan(spark, store, t, "union")
        if cacheable_plan(plan):
            key = next(iter(plan.pos_terms))
            if key not in keys:
                keys.append(key)
                queries.append(t)

    gen = _generation(store)
    out_terms: list[str] = []
    out_docids: list[int] = []
    out_scores: list[float] = []
    if queries:
        rows = search_many(spark, store, queries, top_k=k).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(
                (r["docid"], r["score"])
            )
        for qi, key in enumerate(keys):
            # same ordering contract as search(): score desc, docid asc
            hits = sorted(by_q.get(qi, []), key=lambda t: (-t[1], t[0]))
            for docid, score in hits:
                out_terms.append(key)
                out_docids.append(int(docid))
                out_scores.append(float(score))

    cache_dir = os.path.join(store.path, _CACHE_DIR)
    os.makedirs(cache_dir, exist_ok=True)
    table = pa.table(
        {
            "term": pa.array(out_terms, pa.string()),
            "docid": pa.array(out_docids, pa.int64()),
            "score": pa.array(out_scores, pa.float32()),
        }
    )
    fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".parquet.tmp")
    os.close(fd)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(cache_dir, _DATA_NAME))
    meta = {
        "version": RESULT_CACHE_VERSION,
        "k": int(k),
        "terms": keys,
        # pre-analysis query strings — rebuilds re-plan THESE (feeding
        # analyzed keys back through a stemmer could double-stem)
        "source_terms": queries,
        "generation": list(gen),
    }
    fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(cache_dir, _META_NAME))
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
    meta_path = os.path.join(cache_dir, _META_NAME)
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") != RESULT_CACHE_VERSION:
            return None
        table = pq.read_table(os.path.join(cache_dir, _DATA_NAME))
    except (OSError, ValueError):
        return None
    terms = table.column("term").to_pylist()
    docids = table.column("docid").to_pylist()
    scores = table.column("score").to_pylist()
    by_term: dict[str, list] = {t: [] for t in meta.get("terms") or []}
    for t, d, s in zip(terms, docids, scores):
        # setdefault: a reader can race a rebuild between the parquet
        # and meta os.replace calls — tolerate terms either side
        # doesn't know (the generation check rejects the torn state)
        by_term.setdefault(t, []).append((d, s))
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
