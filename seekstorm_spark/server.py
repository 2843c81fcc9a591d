"""Minimal REST search server over built indexes (stdlib-only).

The reference ships a full HTTP server whose endpoints wrap the same
library calls this package exposes
(`/root/reference/seekstorm_server/src/api_endpoints.rs:60-1470`,
routing `http_server.rs:190+`). This is the Spark-side analog: a
``ThreadingHTTPServer`` holding ONE SparkSession + opened
``IndexStore``s, serving JSON over the library surface. Spark
supports concurrent actions from handler threads, so requests
parallelize up to the scheduler; the doc endpoint reads through the
columnar :class:`~seekstorm_spark.query.docstore.DocStore` (no Spark
job at all). Per-index API keys (SHA-256 in index meta; 401/403) gate
index-scoped endpoints, and apikey CRUD (`POST`/`DELETE
/indices/{name}/apikey`) answers to a server-level ``admin_key`` —
the reference's master-apikey semantics; with no admin key configured
those endpoints are disabled. PDF upload stays out of scope
(ingestion runs through the build/streaming APIs).

Endpoints (reference parity subset):

* ``GET  /health`` — liveness.
* ``GET  /indices`` — served index names.
* ``GET  /indices/{name}/info`` — meta (N, avgdl, fields, facets).
* ``POST /indices/{name}/query`` — body ``{"query": str,
  "top_k"?: int, "default_type"?: "union|intersection|phrase",
  "field_filter"?: [str], "count"?: bool}`` →
  ``{"results": [{"docid": int, "score": float}], "count"?: int}``
  (reference query POST, api_endpoints.rs:1322-1470).
* ``GET  /indices/{name}/query?q=…&top_k=…`` — GET variant.
* ``POST /indices/{name}/count`` — exact match count.
* ``POST /indices/{name}/query_batch`` — ``{"queries": [str, …],
  "top_k"?, "default_type"?, "facet_filters"?: [dict|null, …],
  "geo_filters"?: [dict|null, …]}`` → N result lists from ONE fused
  Spark action (:func:`search_many` — the serving-throughput path).
* ``GET  /indices/{name}/term/{term}`` — stored document frequency
  (driver-side pyarrow probe, no Spark job).
* ``GET  /indices/{name}/suggest?prefix=…&k=…`` — QAC completions;
  ``GET /indices/{name}/spell?term=…`` — SymSpell correction. Both
  serve driver-side from the prebuilt dictionaries (no Spark job);
  a writable server builds a missing dictionary lazily on first use.
* ``GET  /indices/{name}/doc/{docid}`` — stored fields from the
  index's doc store (reference get_document).

Write path (``writable=True`` / ``--writable`` only — reference doc
index/update endpoints, api_endpoints.rs:60-1470):

* ``POST /indices/{name}/docs`` — body ``{"documents": [{...}]}``
  stages a batch through :class:`RealtimeIndexer`; the docs are
  searchable IMMEDIATELY (level-0: query/count union the staged
  batches), committed on the indexer's 64k/interval triggers. The
  batch goes to ``stage_batch`` as a driver-side Arrow table, so it is
  tokenized and written in the server process (no Python worker, no
  Spark write job); the kernels hold the GIL under the index's write
  lock (tokenize alone about 0.35 ms per document), so load large
  corpora with ``IndexBuilder`` or ``append_batch`` on a DataFrame
  instead.
* ``POST /indices/{name}/commit`` — force-commit staged batches.
* ``POST /indices/{name}/delete`` — ``{"docids": [...]}`` or
  ``{"query": "...", "default_type"?}`` (delete-by-query).
* ``POST /indices`` — ``{"name": ..., "options"?: {"n_buckets",
  "fields", "stemmer"}}`` creates an EMPTY index under the server's
  ``index_root`` (reference create_index); index docs into it via
  ``/docs``.
* ``DELETE /indices/{name}`` — drops the index from serving and disk
  (reference delete_index).
* ``PUT /indices/{name}`` — CLOSE: commit staged batches, unload
  from serving, keep files (reference close_index_api).
* ``GET /live`` — reference live_api alias for ``/health``.
* ``GET /apikey`` — info for every index the presented bearer key
  protects (reference get_apikey_indices_info_api).
"""

from __future__ import annotations

import base64
import json
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from seekstorm_spark.index.store import IndexStore
from seekstorm_spark.query.docstore import DocStore
from seekstorm_spark.query.engine import count_matches, search


def _docs_table(docs: list[dict]):
    """A ``/docs`` body as a driver-side Arrow table, typed through the
    same pandas frame ``spark.createDataFrame`` would read."""
    import pandas as pd
    import pyarrow as pa

    return pa.Table.from_pandas(pd.DataFrame(docs), preserve_index=False)


class AuthError(Exception):
    """Authentication/authorization failure with an HTTP status."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def set_api_key(
    index_path: str, token: str | None, rate_limit: int | None = None
) -> None:
    """Protect an index with a bearer token: only the SHA-256 of the
    token lands in the index meta (never plaintext — the reference
    stores hashed api keys the same way, api_endpoints.rs). ``None``
    clears the key. ``rate_limit`` (requests/second) attaches the
    reference's per-key quota (ApikeyQuotaObject.rate_limit) — the
    server enforces it with the reference's grace-violation formula
    (http_server.rs:144-175). Atomic meta rewrite; opened services
    pick the key up on their next `IndexStore.open`."""
    import hashlib
    import tempfile

    meta_path = os.path.join(index_path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    if token is None:
        meta.pop("api_key_sha256", None)
        meta.pop("api_key_rate_limit", None)
    else:
        meta["api_key_sha256"] = hashlib.sha256(
            token.encode("utf-8")
        ).hexdigest()
        if rate_limit is None:
            meta.pop("api_key_rate_limit", None)
        else:
            if int(rate_limit) <= 0:
                raise ValueError("rate_limit must be a positive requests/sec")
            meta["api_key_rate_limit"] = int(rate_limit)
    fd, tmp = tempfile.mkstemp(dir=index_path, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)


class IndexService:
    """Opened indexes (+ optional doc stores) behind the HTTP layer.

    ``indices`` maps name → index path. A doc store is auto-attached
    when ``<index path>/doc_store`` exists (or pass ``doc_stores``
    explicitly). ``writable=True`` enables the doc add/commit/delete
    endpoints, each guarded by a per-index lock (read endpoints stay
    lock-free — Spark actions parallelize across handler threads)."""

    def __init__(
        self,
        spark: SparkSession,
        indices: dict[str, str],
        doc_stores: dict[str, str] | None = None,
        writable: bool = False,
        index_root: str | None = None,
        admin_key: str | None = None,
    ):
        self.spark = spark
        self.stores = {n: IndexStore.open(p) for n, p in indices.items()}
        self.writable = writable
        self.index_root = index_root
        # master key gating apikey CRUD (reference master apikey,
        # api_endpoints.rs) — held in memory only, never persisted;
        # when unset the apikey endpoints are disabled entirely (an
        # open writable server must NOT let any caller set the FIRST
        # key and lock out the owner)
        self.admin_key = admin_key
        # serializes index create/drop (registry mutations); per-index
        # write locks cover doc-level mutations
        self._registry_lock = threading.Lock()
        # per-index quota state for rate-limited api keys (reference
        # ApikeyQuotaObject: last-pass timestamp + violation count)
        self._quota_lock = threading.Lock()
        self._quota: dict[str, list[int]] = {}
        self._indexers: dict[str, object] = {}
        self._write_locks: dict[str, threading.Lock] = {
            n: threading.Lock() for n in indices
        }
        self.doc_stores: dict[str, DocStore] = {}
        self._anns: dict[str, object] = {}
        for name, path in indices.items():
            ds_path = (doc_stores or {}).get(
                name, os.path.join(path, "doc_store")
            )
            if os.path.exists(os.path.join(ds_path, "_docstore_meta.json")):
                self.doc_stores[name] = DocStore(ds_path)

    def _ann(self, name: str):
        """Vector index co-located with the lexical index: an ``ann/``
        (hyperplane-LSH) or ``ivf/`` (k-medoid) subdir of the index
        path — loaded lazily, cached per name."""
        idx = self._anns.get(name)
        if idx is not None:
            return idx
        from seekstorm_spark.functions.simsearch import AnnIndex, IvfIndex

        base = self.stores[name].path
        for sub, cls in (("ann", AnnIndex), ("ivf", IvfIndex)):
            p = os.path.join(base, sub)
            if os.path.exists(os.path.join(p, "meta.json")):
                idx = cls.open(p)
                self._anns[name] = idx
                return idx
        raise ValueError(
            f"index {name!r} has no vector index (no ann/ or ivf/ subdir)"
        )

    def check_auth(self, name: str, auth_header: str | None) -> None:
        """Per-index bearer-token gate (reference api_endpoints.rs
        semantics): an index whose meta carries ``api_key_sha256``
        rejects requests without the matching ``Authorization:
        Bearer <token>`` — 401 when the header is absent/malformed,
        403 when the token is wrong. Unprotected indexes (and unknown
        names — the op 404s on its own) pass through."""
        import hashlib

        store = self.stores.get(name)
        if store is None:
            return
        want = store.meta.get("api_key_sha256")
        if not want:
            return
        if not auth_header or not auth_header.startswith("Bearer "):
            raise AuthError(401, f"index {name!r} requires a bearer token")
        got = hashlib.sha256(
            auth_header[len("Bearer "):].encode("utf-8")
        ).hexdigest()
        if got != want:
            raise AuthError(403, f"invalid api key for index {name!r}")
        limit = store.meta.get("api_key_rate_limit")
        if limit:
            self._rate_limit(name, int(limit))

    # the reference's grace-violation limiter (http_server.rs:144-175):
    # a request passes when the time since the last PASS, divided by
    # (violations + 1), exceeds one limit-period; the first
    # GRACE_VIOLATION_COUNT over-limit requests are absorbed (burst
    # tolerance), after which 429s begin — and because violations keep
    # inflating the divisor, a sustained over-limit client stays
    # rejected until it backs off for violations+1 periods.
    _GRACE_VIOLATION_COUNT = 10

    def _rate_limit(self, name: str, limit: int) -> None:
        import time

        now = time.monotonic_ns()
        with self._quota_lock:
            ts, violations = self._quota.get(name, (0, 0))
            if (now - ts) // (violations + 1) > 1_000_000_000 // limit:
                self._quota[name] = [now, 0]
                return
            self._quota[name] = [ts, violations + 1]
            if violations + 1 > self._GRACE_VIOLATION_COUNT:
                raise AuthError(
                    429, f"rate limit exceeded for index {name!r}"
                )

    def _staged(self, name: str) -> list | None:
        idx = self._indexers.get(name)
        return list(idx.staged) if idx is not None and idx.staged else None

    def _indexer(self, name: str):
        if not self.writable:
            raise PermissionError(
                "server is read-only (start with writable=True)"
            )
        idx = self._indexers.get(name)
        if idx is None:
            from seekstorm_spark.streaming.incremental import RealtimeIndexer

            store = self.stores[name]
            fields = store.meta.get("fields") or ["text"]
            idx = RealtimeIndexer(self.spark, store, text_col=fields[0])
            self._indexers[name] = idx
        return idx

    def info(self, name: str) -> dict:
        m = self.stores[name].meta
        return {
            "name": name,
            "n_docs": m.get("n_docs"),
            "avgdl": m.get("avgdl"),
            "fields": m.get("fields"),
            "facets": sorted((m.get("facets") or {}).keys()),
            "version": m.get("version"),
        }

    def query(self, name: str, body: dict) -> dict:
        store = self.stores[name]
        q = body["query"]
        top_k = int(body.get("top_k", body.get("length", 10)))
        dtype = body.get("default_type", "union")
        # realtime=false skips the uncommitted staged batches
        # (reference SearchRequestObject.realtime)
        staged = (
            self._staged(name) if body.get("realtime", True) else None
        )
        # reference result_type enum: Topk / Count / TopkCount
        result_type = str(body.get("result_type", "") or "")
        want_count = bool(body.get("count")) or result_type in (
            "Count", "TopkCount",
        )
        search_mode = body.get("search_mode", "lexical")
        if isinstance(search_mode, str):
            search_mode = search_mode.lower()
        qv = body.get("query_vector")
        if search_mode == "vector":
            # pure vector search against the co-located ANN index
            # (reference SearchMode::Vector)
            if not qv:
                raise ValueError("vector search requires query_vector")
            rows = self._ann(name).search(
                self.spark, [float(x) for x in qv], k=top_k
            ).collect()
            resp_v: dict = {
                "results": [
                    {"docid": int(r["vec_id"]), "score": float(r["cos_sim"])}
                    for r in rows
                ]
            }
            return resp_v
        if not q and body.get("enable_empty_query"):
            # reference enable_empty_query: empty query browses all
            # live docids (search.rs:1413-1432)
            from seekstorm_spark.query.engine import browse

            rows = browse(
                self.spark, store, top_k=top_k,
                offset=int(body.get("offset", 0)), descending=False,
            ).collect()
            resp_b: dict = {
                "results": [
                    {"docid": int(r["docid"]), "score": 0.0} for r in rows
                ]
            }
            if want_count:
                resp_b["count"] = int(store.meta.get("n_docs") or 0)
            return resp_b
        kwargs: dict = {}
        if search_mode == "hybrid":
            # lexical kernel + ANN probe fused by RRF in ONE call
            # (reference SearchMode::Hybrid)
            if not qv:
                raise ValueError("hybrid search requires query_vector")
            kwargs.update(
                mode="hybrid",
                vector=[float(x) for x in qv],
                ann_index=self._ann(name),
            )
        elif search_mode != "lexical":
            raise ValueError(f"unknown search_mode {search_mode!r}")
        if result_type == "Count":
            # count only — never runs the top-k kernel (reference
            # ResultType::Count, zero result rows)
            return {
                "results": [],
                "count": count_matches(
                    self.spark, store, q, dtype, staged=staged
                ),
            }
        # optional passthroughs to the full library search surface
        # (the reference QueryObject carries the same knobs,
        # api_endpoints.rs /query request body)
        if body.get("offset"):
            kwargs["offset"] = int(body["offset"])
        if body.get("fields"):
            kwargs["fields"] = [
                (str(f[0]), float(f[1])) for f in body["fields"]
            ]
        if body.get("facet_filters"):
            kwargs["facet_filters"] = body["facet_filters"]
        if body.get("geo_filter"):
            kwargs["geo_filter"] = body["geo_filter"]
        if body.get("result_sort"):
            kwargs["result_sort"] = [
                (str(s[0]), str(s[1])) for s in body["result_sort"]
            ]
        if body.get("rewrite"):
            kwargs["rewrite"] = str(body["rewrite"])
            # reference QueryRewriting knobs (search.rs:107-160):
            # correct/complete min-length gates, distance budget,
            # per-term-length thresholds
            if isinstance(body.get("rewrite_options"), dict):
                kwargs["rewrite_options"] = body["rewrite_options"]
        if body.get("similarity"):
            kwargs["similarity"] = str(body["similarity"])
        out_df = search(
            self.spark, store, q, top_k=top_k, default_type=dtype,
            field_filter=body.get("field_filter"), staged=staged,
            **kwargs,
        )
        if "rrf_score" in out_df.columns:  # hybrid fusion output
            out_df = out_df.withColumnRenamed("rrf_score", "score")
        cols = out_df.columns
        out = out_df.collect()
        results = []
        for r in out:
            row = {"docid": int(r["docid"]), "score": float(r["score"])}
            for c in cols:  # sort keys / geo_dist ride along
                if c not in ("docid", "score"):
                    v = r[c]
                    row[c] = (
                        float(v)
                        if isinstance(v, float)
                        else (v if v is None or isinstance(
                            v, (str, int, bool)) else str(v))
                    )
            results.append(row)
        hl = body.get("highlight")
        if hl:
            # KWIC over the doc store, driver-side — no Spark job
            # (reference highlighter runs on the stored fields too,
            # highlighter.rs:71-382)
            from seekstorm_spark.functions.highlight import (
                expand_terms_with_synonyms,
                kwic_fragment_py,
                top_fragments,
            )
            from seekstorm_spark.tokenizer import parse_query

            ds = self.doc_stores.get(name)
            if ds is None:
                raise ValueError(
                    f"index {name!r} has no doc store to highlight from"
                )
            field = hl.get("field", "text") if isinstance(hl, dict) else "text"
            if field not in ds.fields:
                raise ValueError(
                    f"doc store has no field {field!r}; stored: {ds.fields}"
                )
            terms = [t.term for t in parse_query(q).positive_terms]
            rows = ds.get_many([r["docid"] for r in results])
            frag_keys = (
                {"fragment_number", "fragment_size", "pre_tags",
                 "post_tags", "markup"} & set(hl)
                if isinstance(hl, dict) else set()
            )
            if frag_keys:
                # full reference highlighter (highlighter.rs:216-358):
                # sentence fragments, proximity-scored top-N selection,
                # synonym-expanded patterns, custom markup tags
                terms = expand_terms_with_synonyms(
                    terms, self.stores[name].meta.get("synonyms")
                )
                kwargs = dict(
                    fragment_number=int(hl.get("fragment_number", 1)),
                    fragment_size=int(hl.get("fragment_size", 0)),
                    highlight_markup=bool(hl.get("markup", True)),
                    pre_tags=str(hl.get("pre_tags", "<b>")),
                    post_tags=str(hl.get("post_tags", "</b>")),
                )
                for res, row in zip(results, rows):
                    res["fragment"] = (
                        top_fragments(
                            str(row.get(field) or ""), terms, **kwargs
                        )
                        if row is not None
                        else ""
                    )
            else:
                width = (
                    int(hl.get("width", 30)) if isinstance(hl, dict) else 30
                )
                for res, row in zip(results, rows):
                    res["fragment"] = (
                        kwic_fragment_py(
                            str(row.get(field) or ""), terms, width
                        )
                        if row is not None
                        else ""
                    )
        # reference multi-highlight list: one fragment per Highlight
        # entry, keyed by its name (or field), full fragment options
        hls = body.get("highlights")
        if hls:
            from seekstorm_spark.functions.highlight import (
                expand_terms_with_synonyms,
                top_fragments,
            )
            from seekstorm_spark.tokenizer import parse_query

            ds = self.doc_stores.get(name)
            if ds is None:
                raise ValueError(
                    f"index {name!r} has no doc store to highlight from"
                )
            terms = expand_terms_with_synonyms(
                [t.term for t in parse_query(q).positive_terms],
                store.meta.get("synonyms"),
            )
            rows2 = ds.get_many([r["docid"] for r in results])
            for res, row in zip(results, rows2):
                frags: dict = {}
                for h in hls:
                    fld2 = h.get("field", "text")
                    if fld2 not in ds.fields:
                        raise ValueError(
                            f"doc store has no field {fld2!r}; "
                            f"stored: {ds.fields}"
                        )
                    frags[h.get("name") or fld2] = (
                        top_fragments(
                            str(row.get(fld2) or ""),
                            terms,
                            fragment_number=int(
                                h.get("fragment_number", 1)
                            ),
                            fragment_size=int(h.get("fragment_size", 0)),
                            highlight_markup=bool(
                                h.get("highlight_markup", True)
                            ),
                            pre_tags=str(h.get("pre_tags") or "<b>"),
                            post_tags=str(h.get("post_tags") or "</b>"),
                        )
                        if row is not None
                        else ""
                    )
                res["highlights"] = frags
        resp: dict = {"results": results}
        if want_count:
            resp["count"] = count_matches(
                self.spark, store, q, dtype, staged=staged
            )
        if body.get("facets"):
            # string-facet value counts over ALL matches, tallied
            # inside the pruned scan (reference query_facets)
            from seekstorm_spark.query.engine import facet_counts

            fc = facet_counts(
                self.spark, store, q, [str(f) for f in body["facets"]],
                dtype, staged=staged,
            ).collect()
            tallies: dict = {}
            for r in fc:
                tallies.setdefault(r["facet"], {})[r["value"]] = int(r["n"])
            resp["facets"] = tallies
        return resp

    def count(self, name: str, body: dict) -> dict:
        n = count_matches(
            self.spark, self.stores[name], body["query"],
            body.get("default_type", "union"),
            staged=self._staged(name),
        )
        return {"matches": int(n)}

    def query_batch(self, name: str, body: dict) -> dict:
        from seekstorm_spark.query.engine import search_many

        qs = body.get("queries")
        if not isinstance(qs, list) or not qs:
            raise ValueError("body must contain a non-empty 'queries' list")
        out = search_many(
            self.spark,
            self.stores[name],
            [str(q) for q in qs],
            top_k=int(body.get("top_k", 10)),
            default_type=body.get("default_type", "union"),
            staged=self._staged(name),
            facet_filters=body.get("facet_filters"),
            geo_filters=body.get("geo_filters"),
        ).collect()
        grouped: list[list[dict]] = [[] for _ in qs]
        for r in out:
            grouped[int(r["query_id"])].append(
                {"docid": int(r["docid"]), "score": float(r["score"])}
            )
        for g in grouped:
            g.sort(key=lambda x: (-x["score"], x["docid"]))
        return {"results": grouped}

    def term_df(self, name: str, term: str) -> dict:
        from seekstorm_spark.query.engine import _probe_term_stats

        store = self.stores[name]
        df = _probe_term_stats(store, [term], self._staged(name))
        return {"term": term, "df": int(df.get(term, 0))}

    def _ensure_dictionary(self, name: str, which: str) -> None:
        from seekstorm_spark.query import spell as sp

        store = self.stores[name]
        has = sp.has_spell if which == "spell" else sp.has_completions
        build = (
            sp.build_spell_dictionary
            if which == "spell"
            else sp.build_completion_dictionary
        )
        if has(store):
            return
        if not self.writable:
            raise ValueError(
                f"index {name!r} has no {which} dictionary; build it "
                "offline or start the server with writable=True"
            )
        with self._write_locks[name]:
            if not has(store):
                build(self.spark, store)

    def suggest(self, name: str, prefix: str, k: int) -> dict:
        from seekstorm_spark.query.spell import complete

        self._ensure_dictionary(name, "completions")
        return {
            "prefix": prefix,
            "suggestions": [
                {"term": t, "df": int(df)}
                for t, df in complete(self.stores[name], prefix, k)
            ],
        }

    def spell(self, name: str, term: str, max_edits: int) -> dict:
        from seekstorm_spark.query.spell import spell_correct

        self._ensure_dictionary(name, "spell")
        got = spell_correct(self.stores[name], term, max_edits)
        if got is None:
            return {"term": term, "correction": None}
        corr, dist, df = got
        return {
            "term": term,
            "correction": corr,
            "distance": int(dist),
            "df": int(df),
        }

    def add_docs(self, name: str, body: dict) -> dict:
        docs = body.get("documents")
        if not isinstance(docs, list) or not docs:
            raise ValueError("body must contain a non-empty 'documents' list")
        idx = self._indexer(name)
        with self._write_locks[name]:
            idx.add_documents(_docs_table(docs))
            return {
                "staged": len(docs),
                "pending_batches": len(idx.staged),
            }

    def update_docs(self, name: str, body: dict) -> dict:
        """Update = delete the old versions + stage the new contents
        (reference update_document(s)_api, api_endpoints.rs:865-917 —
        postings are immutable, so update is delete + re-add). The
        re-added docs ride the realtime level-0 path (searchable
        immediately, committed with the next commit); the old docids
        land in the delete set right away."""
        docs = body.get("documents")
        old = body.get("old_docids")
        if not isinstance(docs, list) or not docs:
            raise ValueError("body must contain a non-empty 'documents' list")
        if not isinstance(old, list) or not old:
            raise ValueError("body must contain a non-empty 'old_docids' list")
        idx = self._indexer(name)
        from seekstorm_spark.query.engine import delete_documents

        with self._write_locks[name]:
            idx.add_documents(_docs_table(docs))
            delete_documents(
                self.spark, self.stores[name], [int(d) for d in old]
            )
        return {
            "staged": len(docs),
            "deleted_ids": len(old),
            "pending_batches": len(idx.staged),
        }

    def commit(self, name: str) -> dict:
        idx = self._indexer(name)
        with self._write_locks[name]:
            idx.commit()
        return {"committed": True}

    def delete(self, name: str, body: dict) -> dict:
        if not self.writable:
            raise PermissionError(
                "server is read-only (start with writable=True)"
            )
        from seekstorm_spark.query.engine import (
            delete_by_query,
            delete_documents,
        )

        store = self.stores[name]
        with self._write_locks[name]:
            if "docids" in body:
                delete_documents(
                    self.spark, store, [int(d) for d in body["docids"]]
                )
                return {"deleted_ids": len(body["docids"])}
            if "query" in body:
                delete_by_query(
                    self.spark, store, body["query"],
                    body.get("default_type", "union"),
                )
                return {"deleted_by_query": body["query"]}
        raise ValueError("body must contain 'docids' or 'query'")

    def doc(self, name: str, docid: int) -> dict | None:
        ds = self.doc_stores.get(name)
        if ds is None:
            raise KeyError(f"index {name!r} has no doc store")
        row = ds.get(docid)
        if row is None:
            return None
        # Doc stores may carry binary columns (multimodal payloads);
        # json.dumps would raise on bytes and 500 every lookup.
        return {
            k: (base64.b64encode(v).decode("ascii") if isinstance(v, bytes) else v)
            for k, v in row.items()
        }

    def index_file(
        self, name: str, file_path: str, file_date: int, data: bytes
    ) -> dict:
        """Index a PDF file (reference POST /index/{id}/file,
        api_endpoints.rs:680-722 → ingest.rs index_pdf_bytes): extract
        per-page text with the stdlib parser, derive title/date from
        the /Info dictionary with the reference's fallback chain, index
        the text through the realtime level-0 path (searchable before
        commit), and keep the original bytes as
        ``files/{docid}.pdf`` under the index directory
        (doc_store.rs:211-228 layout) for GET /file/{docid}. The
        title/url/date metadata rides a ``files/{docid}.json`` sidecar
        (the reference persists it via its row docstore; our columnar
        doc store is batch-oriented, so point uploads use the sidecar)."""
        from seekstorm_spark.sources.pdf import pdf_document

        doc = pdf_document(data, file_path, file_date)
        if doc is None:
            raise ValueError("can't extract text from PDF")
        idx = self._indexer(name)
        with self._write_locks[name]:
            idx.add_documents(_docs_table([{idx.text_col: doc["body"]}]))
            if idx.staged:
                docid = idx.staged[-1].next_docid - 1
            else:  # the add crossed the auto-commit boundary
                docid = int(idx.store.meta.get("next_docid", 1)) - 1
            files_dir = os.path.join(self.stores[name].path, "files")
            os.makedirs(files_dir, exist_ok=True)
            with open(os.path.join(files_dir, f"{docid}.pdf"), "wb") as f:
                f.write(data)
            meta = {k: doc[k] for k in ("title", "url", "date")}
            with open(os.path.join(files_dir, f"{docid}.json"), "w") as f:
                json.dump(meta, f)
        return {"docid": docid, **meta}

    def get_file(self, name: str, docid: int) -> bytes | None:
        """Original uploaded bytes of ``files/{docid}.pdf`` (reference
        GET /index/{id}/file/{docid}, doc_store.rs:18-28)."""
        path = os.path.join(self.stores[name].path, "files", f"{docid}.pdf")
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def check_admin(self, auth_header: str | None) -> None:
        """Gate for apikey CRUD: requires the server's admin (master)
        key as a bearer token. 403 when no admin key is configured
        (endpoints disabled), 401/403 on missing/wrong token."""
        import hmac

        if not self.admin_key:
            raise AuthError(
                403, "apikey management disabled (no admin_key configured)"
            )
        if not auth_header or not auth_header.startswith("Bearer "):
            raise AuthError(401, "apikey management requires the admin key")
        if not hmac.compare_digest(
            auth_header[len("Bearer "):], self.admin_key
        ):
            raise AuthError(403, "invalid admin key")

    def set_key(self, name: str, body: dict) -> dict:
        """API-key CRUD (reference api_endpoints.rs apikey endpoints,
        gated by its master apikey — here ``admin_key``): set/rotate
        an index's bearer token."""
        if not self.writable:
            raise PermissionError("api key management needs writable=True")
        token = body.get("key")
        if not token or not isinstance(token, str):
            raise ValueError("body must contain a non-empty 'key' string")
        rate_limit = body.get("rate_limit")
        store = self.stores[name]
        set_api_key(
            store.path, token,
            rate_limit=int(rate_limit) if rate_limit is not None else None,
        )
        with self._quota_lock:
            self._quota.pop(name, None)
        self._reopen(name)
        resp = {"index": name, "api_key": "set"}
        if rate_limit is not None:
            resp["rate_limit"] = int(rate_limit)
        return resp

    def clear_key(self, name: str) -> dict:
        if not self.writable:
            raise PermissionError("api key management needs writable=True")
        store = self.stores[name]
        set_api_key(store.path, None)
        self._reopen(name)
        return {"index": name, "api_key": "cleared"}

    def _reopen(self, name: str) -> None:
        """Reload an index's meta from disk; an active RealtimeIndexer
        must see the fresh meta too, else its next commit would
        rewrite meta.json from the stale copy (dropping the key)."""
        self.stores[name] = IndexStore.open(self.stores[name].path)
        idx = self._indexers.get(name)
        if idx is not None:
            idx.store = self.stores[name]

    def create_index(self, body: dict) -> dict:
        if not self.writable or not self.index_root:
            raise PermissionError(
                "index creation needs writable=True and an index_root"
            )
        name = body.get("name") or ""
        if not re.fullmatch(r"[A-Za-z0-9_-]+", name):
            raise ValueError("index name must match [A-Za-z0-9_-]+")
        from seekstorm_spark.index.builder import IndexBuilder, write_empty_index

        with self._registry_lock:
            if name in self.stores:
                raise ValueError(f"index {name!r} already exists")
            opts = body.get("options") or {}
            fields = list(opts.get("fields") or ["text"])
            path = os.path.join(self.index_root, name)
            builder = IndexBuilder(
                self.spark,
                path,
                n_buckets=int(opts.get("n_buckets", 8)),
                stemmer=opts.get("stemmer") or None,
            )
            self.stores[name] = write_empty_index(
                path, builder.index_meta(fields)
            )
            self._write_locks[name] = threading.Lock()
        return {"created": name, "path": path}

    def iterator(self, name: str, body: dict) -> dict:
        """Reference document iterator endpoint (GET/POST /iterator,
        api_endpoints.rs:1027-1146): anchored, signed-take paging
        over live docids; ``include_document`` joins the doc store
        (driver-side point lookups, no extra Spark job)."""
        from seekstorm_spark.query.engine import iterate_docids

        store = self.stores[name]
        skipped, ids = iterate_docids(
            self.spark,
            store,
            document_id=body.get("document_id"),
            skip=int(body.get("skip", 0)),
            take=int(body.get("take", 10)),
            include_deleted=bool(body.get("include_deleted", False)),
        )
        resp: dict = {"skipped": skipped, "docids": ids}
        if body.get("include_document"):
            ds = self.doc_stores.get(name)
            if ds is None:
                raise ValueError(
                    f"index {name!r} has no doc store to read documents from"
                )
            fields = body.get("fields") or ds.fields
            bad = [f for f in fields if f not in ds.fields]
            if bad:
                raise ValueError(
                    f"doc store has no fields {bad}; stored: {ds.fields}"
                )
            rows = ds.get_many(ids)
            resp["documents"] = [
                {f: row.get(f) for f in fields} if row is not None else None
                for row in rows
            ]
        return resp

    def get_synonyms(self, name: str) -> dict:
        from seekstorm_spark.index.builder import get_synonyms

        return {"synonyms": get_synonyms(self.stores[name])}

    def set_synonyms(self, name: str, body: dict) -> dict:
        """Set (replace) or add (merge) synonym groups at runtime
        (reference set_synonyms_api / add_synonyms_api,
        api_endpoints.rs:507-523). Affects only subsequently indexed
        documents — the staged/append path expands against the
        updated meta at tokenize time."""
        if not self.writable:
            raise PermissionError(
                "server is read-only (start with writable=True)"
            )
        from seekstorm_spark.index.builder import add_synonyms, set_synonyms

        groups = body.get("synonyms")
        if not isinstance(groups, list):
            raise ValueError("body must contain a 'synonyms' list")
        mode = body.get("mode", "set")
        if mode not in ("set", "add"):
            raise ValueError("mode must be 'set' or 'add'")
        store = self.stores[name]
        with self._write_locks[name]:
            n = (set_synonyms if mode == "set" else add_synonyms)(
                store, groups
            )
            self._reopen(name)
        return {"index": name, "mode": mode, "groups": n}

    def clear(self, name: str) -> dict:
        """Reset an index to empty while maintaining the schema
        (reference clear_index, index.rs:4920 / api_endpoints.rs
        clear route): postings, doc store, dictionaries, and any
        uncommitted staged batches are dropped; settings + facet
        dictionaries + API key survive."""
        if not self.writable:
            raise PermissionError(
                "server is read-only (start with writable=True)"
            )
        from seekstorm_spark.index.builder import clear_index

        store = self.stores[name]  # KeyError → 404
        with self._write_locks[name]:
            self._indexers.pop(name, None)  # staged batches die too
            self.doc_stores.pop(name, None)
            self.stores[name] = clear_index(self.spark, store)
        return {"cleared": name}

    def drop_index(self, name: str) -> dict:
        if not self.writable:
            raise PermissionError(
                "server is read-only (start with writable=True)"
            )
        import shutil

        with self._registry_lock:
            store = self.stores.pop(name)  # KeyError → 404
            self._indexers.pop(name, None)
            self.doc_stores.pop(name, None)
            self._write_locks.pop(name, None)
        shutil.rmtree(store.path, ignore_errors=True)
        return {"dropped": name}

    def close_index(self, name: str) -> dict:
        """Unload an index from serving WITHOUT touching its files
        (reference close_index_api, api_endpoints.rs:500-505 — PUT
        /api/v1/index/{id}; returns the indexed doc count). Staged
        uncommitted batches are committed first so nothing is lost —
        the reference's close flushes level-0 the same way. The index
        can be re-served by restarting (or re-creating) the service
        with its path."""
        with self._registry_lock:
            if name not in self.stores:
                raise KeyError(name)  # → 404
            idx = self._indexers.pop(name, None)
            if idx is not None and getattr(idx, "staged", None):
                with self._write_locks[name]:
                    idx.commit()
            store = self.stores.pop(name)
            self.doc_stores.pop(name, None)
            self._anns.pop(name, None)
            self._write_locks.pop(name, None)
        # meta may be stale if the commit above promoted docs; report
        # the on-disk truth
        meta_path = os.path.join(store.path, "meta.json")
        try:
            with open(meta_path) as f:
                n_docs = json.load(f).get("n_docs")
        except OSError:
            n_docs = store.meta.get("n_docs")
        return {"closed": name, "n_docs": n_docs}

    def apikey_info(self, auth_header: str | None) -> dict:
        """Info for every served index protected by the PRESENTED key
        (reference get_apikey_indices_info_api, api_endpoints.rs:596 —
        GET /api/v1/apikey returns the key's index list). Keys here
        are per-index, so 'the key's index list' = all indices whose
        stored hash matches the bearer token. 401 without a token."""
        import hashlib

        if not auth_header or not auth_header.startswith("Bearer "):
            raise AuthError(401, "apikey info requires a bearer token")
        got = hashlib.sha256(
            auth_header[len("Bearer "):].encode("utf-8")
        ).hexdigest()
        names = [
            n
            for n, s in sorted(self.stores.items())
            if s.meta.get("api_key_sha256") == got
        ]
        return {"indices": [self.info(n) for n in names]}


_ROUTES = [
    ("GET", re.compile(r"^/health$"), "health"),
    # reference GET /api/v1/live (http_server.rs:213) — same payload
    ("GET", re.compile(r"^/live$"), "health"),
    ("GET", re.compile(r"^/apikey$"), "apikey_info"),
    ("GET", re.compile(r"^/indices$"), "list"),
    ("GET", re.compile(r"^/indices/([^/]+)/info$"), "info"),
    ("GET", re.compile(r"^/indices/([^/]+)/query$"), "query_get"),
    ("POST", re.compile(r"^/indices/([^/]+)/query$"), "query"),
    ("POST", re.compile(r"^/indices/([^/]+)/count$"), "count"),
    ("POST", re.compile(r"^/indices/([^/]+)/query_batch$"), "query_batch"),
    ("GET", re.compile(r"^/indices/([^/]+)/term/([^/]+)$"), "term_df"),
    ("GET", re.compile(r"^/indices/([^/]+)/suggest$"), "suggest"),
    ("GET", re.compile(r"^/indices/([^/]+)/spell$"), "spell"),
    ("GET", re.compile(r"^/indices/([^/]+)/doc/(\d+)$"), "doc"),
    ("POST", re.compile(r"^/indices/([^/]+)/docs$"), "add_docs"),
    # reference POST /index/{id}/file + GET /index/{id}/file/{docid}
    # (http_server.rs:696,989) — PDF upload-and-index / download
    ("POST", re.compile(r"^/indices/([^/]+)/file$"), "index_file"),
    ("GET", re.compile(r"^/indices/([^/]+)/file/(\d+)$"), "get_file"),
    ("PATCH", re.compile(r"^/indices/([^/]+)/docs$"), "update_docs"),
    ("POST", re.compile(r"^/indices/([^/]+)/commit$"), "commit"),
    ("POST", re.compile(r"^/indices/([^/]+)/clear$"), "clear"),
    ("GET", re.compile(r"^/indices/([^/]+)/iterator$"), "iterator_get"),
    ("POST", re.compile(r"^/indices/([^/]+)/iterator$"), "iterator"),
    ("GET", re.compile(r"^/indices/([^/]+)/synonyms$"), "get_synonyms"),
    ("POST", re.compile(r"^/indices/([^/]+)/synonyms$"), "set_synonyms"),
    # reference PUT /index/{id}/synonyms = add/merge
    # (http_server.rs:793 → add_synonyms_api); POST = set/replace
    ("PUT", re.compile(r"^/indices/([^/]+)/synonyms$"), "add_synonyms"),
    ("POST", re.compile(r"^/indices/([^/]+)/delete$"), "delete"),
    # reference DELETE /api/v1/index/{id}/doc/{document_id}
    # (api_endpoints "Delete Document by document ID")
    ("DELETE", re.compile(r"^/indices/([^/]+)/doc/(\d+)$"), "delete_doc"),
    ("POST", re.compile(r"^/indices$"), "create_index"),
    ("DELETE", re.compile(r"^/indices/([^/]+)$"), "drop_index"),
    # reference PUT /api/v1/index/{id} = close (http_server.rs:603)
    ("PUT", re.compile(r"^/indices/([^/]+)$"), "close_index"),
    ("POST", re.compile(r"^/indices/([^/]+)/apikey$"), "set_key"),
    ("DELETE", re.compile(r"^/indices/([^/]+)/apikey$"), "clear_key"),
]


class _Handler(BaseHTTPRequestHandler):
    service: IndexService  # set by make_server

    def log_message(self, *args):  # quiet by default
        pass

    def _send(self, code: int, payload: dict) -> None:
        raw = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def _dispatch(self, method: str) -> None:
        url = urlparse(self.path)
        for m, pat, op in _ROUTES:
            if m != method:
                continue
            match = pat.match(url.path)
            if not match:
                continue
            try:
                self._run(op, match, url)
            except AuthError as e:
                self._send(e.code, {"error": str(e)})
            except PermissionError as e:
                self._send(403, {"error": str(e)})
            except KeyError as e:
                self._send(404, {"error": str(e)})
            except (ValueError, json.JSONDecodeError) as e:
                self._send(400, {"error": str(e)})
            except Exception as e:  # surface, don't kill the thread
                self._send(500, {"error": f"{type(e).__name__}: {e}"})
            return
        self._send(404, {"error": f"no route for {method} {url.path}"})

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            return {}
        return json.loads(self.rfile.read(n))

    # ops scoped to one index (match.group(1) = name) — these pass
    # the per-index bearer gate; health/list/create stay open (create
    # is guarded by the writable flag + index_root)
    _INDEX_OPS = frozenset(
        {
            "info", "query", "query_get", "count", "query_batch",
            "term_df", "suggest", "spell", "doc", "add_docs",
            "update_docs", "commit", "delete", "delete_doc",
            "drop_index", "clear",
            "get_synonyms", "set_synonyms", "add_synonyms",
            "iterator", "iterator_get",
            "close_index", "index_file", "get_file",
        }
    )

    def _run(self, op: str, match: re.Match, url) -> None:
        svc = self.service
        if op in self._INDEX_OPS:
            svc.check_auth(match.group(1), self.headers.get("Authorization"))
        elif op in ("set_key", "clear_key"):
            # apikey CRUD answers to the server ADMIN key, not the
            # index key (the reference's master-apikey semantics)
            svc.check_admin(self.headers.get("Authorization"))
        if op == "health":
            # reference live_api (api_endpoints.rs:69): server + version
            from seekstorm_spark import __version__

            self._send(
                200,
                {
                    "status": "ok",
                    "server": f"seekstorm_spark server {__version__}",
                },
            )
        elif op == "list":
            self._send(200, {"indices": sorted(svc.stores)})
        elif op == "info":
            self._send(200, svc.info(match.group(1)))
        elif op == "query":
            body = self._body()
            if "query" not in body:
                raise ValueError("body must contain 'query'")
            self._send(200, svc.query(match.group(1), body))
        elif op == "query_get":
            qs = parse_qs(url.query)
            if "q" not in qs:
                raise ValueError("missing ?q= parameter")
            body = {"query": qs["q"][0]}
            if "top_k" in qs:
                body["top_k"] = int(qs["top_k"][0])
            if "type" in qs:
                body["default_type"] = qs["type"][0]
            self._send(200, svc.query(match.group(1), body))
        elif op == "count":
            body = self._body()
            if "query" not in body:
                raise ValueError("body must contain 'query'")
            self._send(200, svc.count(match.group(1), body))
        elif op == "query_batch":
            self._send(200, svc.query_batch(match.group(1), self._body()))
        elif op == "term_df":
            from urllib.parse import unquote

            self._send(
                200, svc.term_df(match.group(1), unquote(match.group(2)))
            )
        elif op == "suggest":
            qs = parse_qs(url.query)
            if "prefix" not in qs:
                raise ValueError("missing ?prefix= parameter")
            self._send(
                200,
                svc.suggest(
                    match.group(1), qs["prefix"][0],
                    int(qs.get("k", ["5"])[0]),
                ),
            )
        elif op == "spell":
            qs = parse_qs(url.query)
            if "term" not in qs:
                raise ValueError("missing ?term= parameter")
            self._send(
                200,
                svc.spell(
                    match.group(1), qs["term"][0],
                    int(qs.get("max_edits", ["2"])[0]),
                ),
            )
        elif op == "doc":
            row = svc.doc(match.group(1), int(match.group(2)))
            if row is None:
                self._send(404, {"error": "document not found"})
            else:
                self._send(200, row)
        elif op == "add_docs":
            self._send(200, svc.add_docs(match.group(1), self._body()))
        elif op == "index_file":
            n = int(self.headers.get("Content-Length") or 0)
            if n == 0:
                raise ValueError("request body must be the PDF bytes")
            data = self.rfile.read(n)
            # reference header contract (http_server.rs:713-726):
            # `file` = original filepath for the url field, `date` =
            # fallback Unix timestamp when the PDF has no date tag
            file_path = self.headers.get("file") or ""
            try:
                file_date = int(self.headers.get("date") or "")
            except ValueError:
                import time

                file_date = int(time.time())
            self._send(
                200,
                svc.index_file(match.group(1), file_path, file_date, data),
            )
        elif op == "get_file":
            blob = svc.get_file(match.group(1), int(match.group(2)))
            if blob is None:
                self._send(404, {"error": "file not found"})
            else:
                self.send_response(200)
                self.send_header("Content-Type", "application/pdf")
                self.send_header("Content-Length", str(len(blob)))
                self.send_header(
                    "Content-Disposition", "attachment;filename=file.pdf"
                )
                self.end_headers()
                self.wfile.write(blob)
        elif op == "update_docs":
            self._send(200, svc.update_docs(match.group(1), self._body()))
        elif op == "commit":
            self._send(200, svc.commit(match.group(1)))
        elif op == "clear":
            self._send(200, svc.clear(match.group(1)))
        elif op == "iterator":
            self._send(200, svc.iterator(match.group(1), self._body()))
        elif op == "iterator_get":
            qs = parse_qs(url.query)
            body = {}
            for key in ("document_id", "skip", "take"):
                if key in qs:
                    body[key] = int(qs[key][0])
            for key in ("include_deleted", "include_document"):
                if key in qs:
                    body[key] = qs[key][0].lower() in ("1", "true")
            if "fields" in qs:
                body["fields"] = qs["fields"][0].split(",")
            self._send(200, svc.iterator(match.group(1), body))
        elif op == "get_synonyms":
            self._send(200, svc.get_synonyms(match.group(1)))
        elif op == "set_synonyms":
            self._send(200, svc.set_synonyms(match.group(1), self._body()))
        elif op == "add_synonyms":
            body = dict(self._body())
            body["mode"] = "add"
            self._send(200, svc.set_synonyms(match.group(1), body))
        elif op == "delete":
            self._send(200, svc.delete(match.group(1), self._body()))
        elif op == "delete_doc":
            self._send(
                200,
                svc.delete(
                    match.group(1), {"docids": [int(match.group(2))]}
                ),
            )
        elif op == "create_index":
            self._send(200, svc.create_index(self._body()))
        elif op == "drop_index":
            self._send(200, svc.drop_index(match.group(1)))
        elif op == "set_key":
            self._send(200, svc.set_key(match.group(1), self._body()))
        elif op == "clear_key":
            self._send(200, svc.clear_key(match.group(1)))
        elif op == "close_index":
            self._send(200, svc.close_index(match.group(1)))
        elif op == "apikey_info":
            self._send(
                200, svc.apikey_info(self.headers.get("Authorization"))
            )

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_PATCH(self):
        self._dispatch("PATCH")

    def do_PUT(self):
        self._dispatch("PUT")

    def do_DELETE(self):
        self._dispatch("DELETE")


def make_server(
    spark: SparkSession,
    indices: dict[str, str],
    host: str = "127.0.0.1",
    port: int = 8080,
    doc_stores: dict[str, str] | None = None,
    writable: bool = False,
    index_root: str | None = None,
    admin_key: str | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; ``port=0`` picks a
    free port (``server.server_address[1]``). Call ``serve_forever()``
    or wrap in a thread; ``shutdown()`` stops it."""
    service = IndexService(
        spark, indices, doc_stores, writable=writable,
        index_root=index_root, admin_key=admin_key,
    )
    handler = type("Handler", (_Handler,), {"service": service})
    return ThreadingHTTPServer((host, port), handler)


def serve_in_thread(
    spark: SparkSession,
    indices: dict[str, str],
    host: str = "127.0.0.1",
    port: int = 0,
    doc_stores: dict[str, str] | None = None,
    writable: bool = False,
    index_root: str | None = None,
    admin_key: str | None = None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread)."""
    srv = make_server(
        spark, indices, host, port, doc_stores, writable, index_root,
        admin_key=admin_key,
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t
