"""Stdlib REST server over built indexes.

The reference ships a full HTTP server whose endpoints wrap the same
library calls this package exposes
(`/root/reference/seekstorm_server/src/api_endpoints.rs:60-1470`,
routing `http_server.rs:190+`). This is the Spark-side analog: a
``ThreadingHTTPServer`` holding ONE SparkSession and the opened
``IndexStore``s, serving JSON over the library surface. Spark runs
concurrent actions from handler threads, so requests parallelize up
to the scheduler; doc reads, term stats, QAC and spell answer on the
driver without a Spark job.

``_ROUTES`` is the one table of endpoints: (method, path pattern, op),
where op names the :class:`IndexService` method that serves it.
``_Handler._dispatch`` matches a request against it, applies the
route's auth scope, builds one request dict — the JSON body, or a GET
route's query-string parameters — and calls the op with the path's
arguments and that dict. Only routes that move raw bytes or read the
bearer token itself keep a small handler adapter: PDF upload
(``POST /indices/{name}/file``), PDF download, ``doc`` (404 for a
missing doc) and ``GET /apikey``.

Auth scope, from the route:

* a route that names an index (``/indices/{name}/…``) answers to that
  index's API key when its meta carries one (only the SHA-256 is
  stored): 401 without a bearer token, 403 for a wrong one, 429 over
  the key's rate limit;
* apikey CRUD (``POST``/``DELETE /indices/{name}/apikey``) answers to
  the server's ``admin_key`` instead (the reference's master apikey);
  with no admin key those routes are disabled (403);
* ``/health``, ``/live``, ``GET``/``POST /indices`` are open, and
  ``GET /apikey`` lists the indexes the presented key protects.

Writes: every route that changes an index — docs add/update/delete,
PDF upload, commit, clear, synonyms, drop, apikey set/clear — goes
through ONE write rule (``IndexService._writing``): 403 unless the
server is ``writable``, then the index's write lock for the whole
change. Creating an index also needs an ``index_root``. Reads take no
lock. Close (``PUT /indices/{name}``) commits staged batches under
the write lock and unloads the index, keeping its files.

``POST /docs`` stages its documents through :class:`RealtimeIndexer`
as a driver-side Arrow table (no Python worker, no Spark write job):
searchable at once, committed on the indexer's 64k trigger or by
``/commit``. The staging kernels hold the GIL under the write lock
(tokenize alone about 0.35 ms per document), so load large corpora
with ``IndexBuilder`` or ``append_batch`` on a DataFrame instead.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import threading
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

from seekstorm_spark.index.store import IndexStore
from seekstorm_spark.query.docstore import DocStore
from seekstorm_spark.query.engine import count_matches, search

_READ_ONLY = "server is read-only (start with writable=True)"
_KEYS_READ_ONLY = "api key management needs writable=True"


def _docs_table(docs: list[dict]):
    """A ``/docs`` body as a driver-side Arrow table, typed through the
    same pandas frame ``spark.createDataFrame`` would read."""
    import pandas as pd
    import pyarrow as pa

    return pa.Table.from_pandas(pd.DataFrame(docs), preserve_index=False)


def _required(req: dict, key: str) -> str:
    """A GET route's required query-string parameter."""
    if key not in req:
        raise ValueError(f"missing ?{key}= parameter")
    return req[key]


def _bearer_sha256(auth_header: str | None, message: str) -> str:
    """SHA-256 of a ``Bearer`` token; 401 when there is none."""
    if not auth_header or not auth_header.startswith("Bearer "):
        raise AuthError(401, message)
    return hashlib.sha256(auth_header[len("Bearer "):].encode()).hexdigest()


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
    (http_server.rs:144-175). The meta is rewritten atomically by
    :meth:`IndexStore.write_meta`; opened services pick the key up on
    their next `IndexStore.open`."""
    store = IndexStore.open(index_path)
    meta = store.meta
    meta.pop("api_key_rate_limit", None)
    if token is None:
        meta.pop("api_key_sha256", None)
    else:
        meta["api_key_sha256"] = hashlib.sha256(token.encode()).hexdigest()
        if rate_limit is not None:
            if int(rate_limit) <= 0:
                raise ValueError("rate_limit must be a positive requests/sec")
            meta["api_key_rate_limit"] = int(rate_limit)
    store.write_meta()


class IndexService:
    """Opened indexes (+ optional doc stores) behind the HTTP layer.

    ``indices`` maps name → index path. A doc store is auto-attached
    when ``<index path>/doc_store`` exists (or pass ``doc_stores``
    explicitly). ``writable=True`` enables the routes that change an
    index, each run under the write rule (:meth:`_writing`); reads take
    no lock — Spark actions parallelize across handler threads.

    An index's serving state is its store, write lock, doc store,
    realtime indexer, vector index and rate-limit quota: :meth:`_serve`
    registers the first three, the rest are made on first use, and
    :meth:`_forget` drops all six."""

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
        self.writable = writable
        self.index_root = index_root
        # master key gating apikey CRUD (reference master apikey,
        # api_endpoints.rs) — held in memory only, never persisted;
        # when unset the apikey endpoints are disabled entirely (an
        # open writable server must NOT let any caller set the FIRST
        # key and lock out the owner)
        self.admin_key = admin_key
        # serializes changes to which indexes are served
        self._registry_lock = threading.Lock()
        # per-index quota state for rate-limited api keys (reference
        # ApikeyQuotaObject: last-pass timestamp + violation count)
        self._quota_lock = threading.Lock()
        self._quota: dict[str, list[int]] = {}
        self.stores: dict[str, IndexStore] = {}
        self.doc_stores: dict[str, DocStore] = {}
        self._write_locks: dict[str, threading.Lock] = {}
        self._indexers: dict[str, object] = {}
        self._anns: dict[str, object] = {}
        for name, path in indices.items():
            ds_path = (doc_stores or {}).get(name)
            self._serve(name, IndexStore.open(path), doc_store=ds_path)

    # --- per-index state ---------------------------------------------

    def _serve(
        self,
        name: str,
        store: IndexStore,
        lock: threading.Lock | None = None,
        doc_store: str | None = None,
    ) -> None:
        """Serve ``store`` as ``name``, with a write lock (``lock``, or a
        new one) and its doc store (``doc_store``, else
        ``<index>/doc_store`` when one was written there)."""
        self.stores[name] = store
        self._write_locks[name] = lock or threading.Lock()
        ds_path = doc_store or os.path.join(store.path, "doc_store")
        if os.path.exists(os.path.join(ds_path, "_docstore_meta.json")):
            self.doc_stores[name] = DocStore(ds_path)

    def _forget(self, name: str) -> None:
        """Drop every piece of an index's serving state, so nothing of
        it (a cached vector index over deleted files, staged batches,
        a quota) outlives a clear, drop or close."""
        for state in (
            self.stores, self._write_locks, self.doc_stores,
            self._indexers, self._anns,
        ):
            state.pop(name, None)
        with self._quota_lock:
            self._quota.pop(name, None)

    @contextmanager
    def _writing(self, name: str, refusal: str = _READ_ONLY):
        """The write rule, for every op that changes an index: 403 on a
        read-only server, 404 for an unknown index, else the index's
        write lock for the whole change. Yields the index's store."""
        if not self.writable:
            raise PermissionError(refusal)
        with self._write_locks[name]:
            yield self.stores[name]

    def _doc_store(self, name: str, purpose: str, error=ValueError):
        """The index's doc store; ``error`` (400, or 404 for ``doc``)
        when it has none."""
        ds = self.doc_stores.get(name)
        if ds is None:
            raise error(f"index {name!r} has no doc store{purpose}")
        return ds

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
                idx = self._anns[name] = cls.open(p)
                return idx
        raise ValueError(
            f"index {name!r} has no vector index (no ann/ or ivf/ subdir)"
        )

    def _staged(self, name: str) -> list | None:
        idx = self._indexers.get(name)
        return list(idx.staged) if idx is not None and idx.staged else None

    def _indexer(self, name: str):
        """The index's realtime indexer, made on first use; callers
        hold the write rule."""
        idx = self._indexers.get(name)
        if idx is None:
            from seekstorm_spark.streaming.incremental import RealtimeIndexer

            store = self.stores[name]
            fields = store.meta.get("fields") or ["text"]
            idx = self._indexers[name] = RealtimeIndexer(
                self.spark, store, text_col=fields[0]
            )
        return idx

    def _reopen(self, name: str) -> None:
        """Reload an index's meta from disk; an active RealtimeIndexer
        must see the fresh meta too, else its next commit would
        rewrite meta.json from the stale copy (dropping the key)."""
        self.stores[name] = IndexStore.open(self.stores[name].path)
        idx = self._indexers.get(name)
        if idx is not None:
            idx.store = self.stores[name]

    # --- auth --------------------------------------------------------

    def check_auth(self, name: str, auth_header: str | None) -> None:
        """Per-index bearer-token gate (reference api_endpoints.rs
        semantics): an index whose meta carries ``api_key_sha256``
        rejects requests without the matching ``Authorization:
        Bearer <token>`` — 401 when the header is absent/malformed,
        403 when the token is wrong. Unprotected indexes (and unknown
        names — the op 404s on its own) pass through."""
        store = self.stores.get(name)
        want = store.meta.get("api_key_sha256") if store else None
        if not want:
            return
        got = _bearer_sha256(
            auth_header, f"index {name!r} requires a bearer token"
        )
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

    # --- read ops ----------------------------------------------------

    def health(self, *_) -> dict:
        """Reference live_api (api_endpoints.rs:69): server + version."""
        from seekstorm_spark import __version__

        return {
            "status": "ok",
            "server": f"seekstorm_spark server {__version__}",
        }

    def list(self, *_) -> dict:
        return {"indices": sorted(self.stores)}

    def info(self, name: str, *_) -> dict:
        m = self.stores[name].meta
        return {
            "name": name,
            "n_docs": m.get("n_docs"),
            "avgdl": m.get("avgdl"),
            "fields": m.get("fields"),
            "facets": sorted((m.get("facets") or {}).keys()),
            "version": m.get("version"),
        }

    def apikey_info(self, auth_header: str | None) -> dict:
        """Info for every served index protected by the PRESENTED key
        (reference get_apikey_indices_info_api, api_endpoints.rs:596 —
        GET /api/v1/apikey returns the key's index list). Keys here
        are per-index, so 'the key's index list' = all indices whose
        stored hash matches the bearer token. 401 without a token."""
        got = _bearer_sha256(
            auth_header, "apikey info requires a bearer token"
        )
        return {
            "indices": [
                self.info(n)
                for n, s in sorted(self.stores.items())
                if s.meta.get("api_key_sha256") == got
            ]
        }

    def query(self, name: str, body: dict) -> dict:
        """Reference query POST (api_endpoints.rs:1322-1470): ``{"query",
        "top_k"?, "default_type"?, "count"?, ...}`` →
        ``{"results": [{"docid", "score", ...}], "count"?, "facets"?}``;
        the optional keys pass through to :func:`search`."""
        if "query" not in body:
            raise ValueError("body must contain 'query'")
        store = self.stores[name]
        q = body["query"]
        top_k = int(body.get("top_k", body.get("length", 10)))
        dtype = body.get("default_type", "union")
        # realtime=false skips the uncommitted staged batches
        # (reference SearchRequestObject.realtime)
        staged = self._staged(name) if body.get("realtime", True) else None
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
            return {
                "results": [
                    {"docid": int(r["vec_id"]), "score": float(r["cos_sim"])}
                    for r in rows
                ]
            }
        if not q and body.get("enable_empty_query"):
            # reference enable_empty_query: empty query browses all
            # live docids (search.rs:1413-1432)
            from seekstorm_spark.query.engine import browse

            rows = browse(
                self.spark, store, top_k=top_k,
                offset=int(body.get("offset", 0)), descending=False,
            ).collect()
            resp: dict = {
                "results": [
                    {"docid": int(r["docid"]), "score": 0.0} for r in rows
                ]
            }
            if want_count:
                resp["count"] = int(store.meta.get("n_docs") or 0)
            return resp
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
        for key in ("facet_filters", "geo_filter"):
            if body.get(key):
                kwargs[key] = body[key]
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
        results = []
        for r in out_df.collect():
            row = {"docid": int(r["docid"]), "score": float(r["score"])}
            for c, v in r.asDict().items():  # sort keys / geo_dist ride along
                if c not in row:
                    row[c] = v if v is None or isinstance(
                        v, (str, int, float, bool)) else str(v)
            results.append(row)
        if body.get("highlight") or body.get("highlights"):
            self._fragments(
                name, q, results, body.get("highlight"), body.get("highlights")
            )
        resp = {"results": results}
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

    def _fragments(self, name, q, results, hl, hls) -> None:
        """Attach highlight fragments to ``results`` from the doc store,
        driver-side — no Spark job (the reference highlighter runs on
        the stored fields too, highlighter.rs:71-382).

        ``highlight`` (``true`` or a dict) fills each result's
        ``fragment``: a ``width``-KWIC, or, given any fragment option,
        the full reference highlighter (highlighter.rs:216-358:
        sentence fragments, proximity-scored top-N selection,
        synonym-expanded patterns, custom markup tags). ``highlights``
        — the reference's list — fills ``highlights[name or field]``
        with the full highlighter per entry. Every field is checked
        before any row is read, and the rows are read once."""
        from seekstorm_spark.functions import highlight as hlf
        from seekstorm_spark.tokenizer import parse_query

        ds = self._doc_store(name, " to highlight from")
        terms = [t.term for t in parse_query(q).positive_terms]
        expanded = hlf.expand_terms_with_synonyms(
            terms, self.stores[name].meta.get("synonyms")
        )

        def full(**kw):
            return lambda text: hlf.top_fragments(text, expanded, **kw)

        specs = []  # (highlights key | None for "fragment", field, fn)
        if hl:
            opts = hl if isinstance(hl, dict) else {}
            if {"fragment_number", "fragment_size", "pre_tags",
                    "post_tags", "markup"} & set(opts):
                make = full(
                    fragment_number=int(opts.get("fragment_number", 1)),
                    fragment_size=int(opts.get("fragment_size", 0)),
                    highlight_markup=bool(opts.get("markup", True)),
                    pre_tags=str(opts.get("pre_tags", "<b>")),
                    post_tags=str(opts.get("post_tags", "</b>")),
                )
            else:
                width = int(opts.get("width", 30))

                def make(text):
                    return hlf.kwic_fragment_py(text, terms, width)

            specs.append((None, opts.get("field", "text"), make))
        for h in hls or ():
            field = h.get("field", "text")
            specs.append((h.get("name") or field, field, full(
                fragment_number=int(h.get("fragment_number", 1)),
                fragment_size=int(h.get("fragment_size", 0)),
                highlight_markup=bool(h.get("highlight_markup", True)),
                pre_tags=str(h.get("pre_tags") or "<b>"),
                post_tags=str(h.get("post_tags") or "</b>"),
            )))
        for _key, field, _fn in specs:
            if field not in ds.fields:
                raise ValueError(
                    f"doc store has no field {field!r}; stored: {ds.fields}"
                )
        rows = ds.get_many([r["docid"] for r in results])
        for res, row in zip(results, rows):
            for key, field, fn in specs:
                frag = fn(str(row.get(field) or "")) if row is not None else ""
                if key is None:
                    res["fragment"] = frag
                else:
                    res.setdefault("highlights", {})[key] = frag

    def query_get(self, name: str, req: dict) -> dict:
        """``?q=…&top_k=…&type=…``: the GET form of :meth:`query`."""
        body = {"query": _required(req, "q")}
        if "top_k" in req:
            body["top_k"] = int(req["top_k"])
        if "type" in req:
            body["default_type"] = req["type"]
        return self.query(name, body)

    def count(self, name: str, body: dict) -> dict:
        if "query" not in body:
            raise ValueError("body must contain 'query'")
        n = count_matches(
            self.spark, self.stores[name], body["query"],
            body.get("default_type", "union"),
            staged=self._staged(name),
        )
        return {"matches": int(n)}

    def query_batch(self, name: str, body: dict) -> dict:
        """``{"queries": [str, …], "top_k"?, "default_type"?,
        "facet_filters"?: [dict|null, …], "geo_filters"?: [dict|null,
        …]}`` → N result lists from ONE fused Spark action
        (:func:`search_many` — the serving-throughput path)."""
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

    def term_df(self, name: str, term: str, *_) -> dict:
        """Stored document frequency (driver-side probe, no Spark job)."""
        from seekstorm_spark.query.engine import _probe_term_stats

        term = unquote(term)
        df = _probe_term_stats(self.stores[name], [term], self._staged(name))
        return {"term": term, "df": int(df.get(term, 0))}

    def _ensure_dictionary(self, name: str, which: str) -> None:
        """QAC/spell serve from prebuilt dictionaries; a writable
        server builds a missing one on first use."""
        from seekstorm_spark.query import spell as sp

        store = self.stores[name]
        has, build = (
            (sp.has_spell, sp.build_spell_dictionary)
            if which == "spell"
            else (sp.has_completions, sp.build_completion_dictionary)
        )
        if has(store):
            return
        if not self.writable:
            raise ValueError(
                f"index {name!r} has no {which} dictionary; build it "
                "offline or start the server with writable=True"
            )
        with self._writing(name) as store:
            if not has(store):
                build(self.spark, store)

    def suggest(self, name: str, req: dict) -> dict:
        """``?prefix=…&k=…``: QAC completions."""
        from seekstorm_spark.query.spell import complete

        prefix = _required(req, "prefix")
        k = int(req.get("k", 5))
        self._ensure_dictionary(name, "completions")
        return {
            "prefix": prefix,
            "suggestions": [
                {"term": t, "df": int(df)}
                for t, df in complete(self.stores[name], prefix, k)
            ],
        }

    def spell(self, name: str, req: dict) -> dict:
        """``?term=…&max_edits=…``: SymSpell correction."""
        from seekstorm_spark.query.spell import spell_correct

        term = _required(req, "term")
        max_edits = int(req.get("max_edits", 2))
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

    def doc(self, name: str, docid, *_) -> dict | None:
        """Stored fields of one doc (reference get_document); None when
        the doc store has no such doc."""
        row = self._doc_store(name, "", KeyError).get(int(docid))
        if row is None:
            return None
        # Doc stores may carry binary columns (multimodal payloads);
        # json.dumps would raise on bytes and 500 every lookup.
        return {
            k: (
                base64.b64encode(v).decode("ascii")
                if isinstance(v, bytes) else v
            )
            for k, v in row.items()
        }

    def get_file(self, name: str, docid) -> bytes | None:
        """Original uploaded bytes of ``files/{docid}.pdf`` (reference
        GET /index/{id}/file/{docid}, doc_store.rs:18-28)."""
        path = os.path.join(
            self.stores[name].path, "files", f"{int(docid)}.pdf"
        )
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def iterator(self, name: str, body: dict) -> dict:
        """Reference document iterator endpoint (GET/POST /iterator,
        api_endpoints.rs:1027-1146): anchored, signed-take paging
        over live docids; ``include_document`` joins the doc store
        (driver-side point lookups, no extra Spark job)."""
        from seekstorm_spark.query.engine import iterate_docids

        skipped, ids = iterate_docids(
            self.spark,
            self.stores[name],
            document_id=body.get("document_id"),
            skip=int(body.get("skip", 0)),
            take=int(body.get("take", 10)),
            include_deleted=bool(body.get("include_deleted", False)),
        )
        resp: dict = {"skipped": skipped, "docids": ids}
        if body.get("include_document"):
            ds = self._doc_store(name, " to read documents from")
            fields = body.get("fields") or ds.fields
            bad = [f for f in fields if f not in ds.fields]
            if bad:
                raise ValueError(
                    f"doc store has no fields {bad}; stored: {ds.fields}"
                )
            resp["documents"] = [
                {f: row.get(f) for f in fields} if row is not None else None
                for row in ds.get_many(ids)
            ]
        return resp

    def iterator_get(self, name: str, req: dict) -> dict:
        """``?document_id=…&skip=…&take=…&include_deleted=…&
        include_document=…&fields=a,b``: the GET form of :meth:`iterator`."""
        body: dict = {}
        for key in ("document_id", "skip", "take"):
            if key in req:
                body[key] = int(req[key])
        for key in ("include_deleted", "include_document"):
            if key in req:
                body[key] = req[key].lower() in ("1", "true")
        if "fields" in req:
            body["fields"] = req["fields"].split(",")
        return self.iterator(name, body)

    def get_synonyms(self, name: str, *_) -> dict:
        from seekstorm_spark.index.builder import get_synonyms

        return {"synonyms": get_synonyms(self.stores[name])}

    # --- write ops: each runs under the write rule -------------------

    def add_docs(self, name: str, body: dict) -> dict:
        docs = body.get("documents")
        if not isinstance(docs, list) or not docs:
            raise ValueError("body must contain a non-empty 'documents' list")
        with self._writing(name):
            idx = self._indexer(name)
            idx.add_documents(_docs_table(docs))
            return {"staged": len(docs), "pending_batches": len(idx.staged)}

    def update_docs(self, name: str, body: dict) -> dict:
        """Update = delete the old versions + stage the new contents
        (reference update_document(s)_api, api_endpoints.rs:865-917 —
        postings are immutable, so update is delete + re-add). The
        re-added docs ride the realtime level-0 path (searchable
        immediately, committed with the next commit); the old docids
        land in the delete set right away."""
        from seekstorm_spark.query.engine import delete_documents

        docs = body.get("documents")
        old = body.get("old_docids")
        if not isinstance(docs, list) or not docs:
            raise ValueError("body must contain a non-empty 'documents' list")
        if not isinstance(old, list) or not old:
            raise ValueError("body must contain a non-empty 'old_docids' list")
        with self._writing(name) as store:
            idx = self._indexer(name)
            idx.add_documents(_docs_table(docs))
            delete_documents(self.spark, store, [int(d) for d in old])
            return {
                "staged": len(docs),
                "deleted_ids": len(old),
                "pending_batches": len(idx.staged),
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
        with self._writing(name) as store:
            idx = self._indexer(name)
            idx.add_documents(_docs_table([{idx.text_col: doc["body"]}]))
            if idx.staged:
                docid = idx.staged[-1].next_docid - 1
            else:  # the add crossed the auto-commit boundary
                docid = int(idx.store.meta.get("next_docid", 1)) - 1
            files_dir = os.path.join(store.path, "files")
            os.makedirs(files_dir, exist_ok=True)
            with open(os.path.join(files_dir, f"{docid}.pdf"), "wb") as f:
                f.write(data)
            meta = {k: doc[k] for k in ("title", "url", "date")}
            with open(os.path.join(files_dir, f"{docid}.json"), "w") as f:
                json.dump(meta, f)
        return {"docid": docid, **meta}

    def commit(self, name: str, *_) -> dict:
        with self._writing(name):
            self._indexer(name).commit()
        return {"committed": True}

    def delete(self, name: str, body: dict) -> dict:
        """``{"docids": [...]}`` or ``{"query": "...", "default_type"?}``
        (delete-by-query)."""
        from seekstorm_spark.query.engine import (
            delete_by_query,
            delete_documents,
        )

        with self._writing(name) as store:
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

    def delete_doc(self, name: str, docid, *_) -> dict:
        """Reference DELETE /api/v1/index/{id}/doc/{document_id}."""
        return self.delete(name, {"docids": [int(docid)]})

    def set_synonyms(self, name: str, body: dict) -> dict:
        """Set (replace) or add (merge) synonym groups at runtime
        (reference set_synonyms_api / add_synonyms_api,
        api_endpoints.rs:507-523). Affects only subsequently indexed
        documents — the staged/append path expands against the
        updated meta at tokenize time."""
        from seekstorm_spark.index.builder import add_synonyms, set_synonyms

        with self._writing(name) as store:
            groups = body.get("synonyms")
            if not isinstance(groups, list):
                raise ValueError("body must contain a 'synonyms' list")
            mode = body.get("mode", "set")
            if mode not in ("set", "add"):
                raise ValueError("mode must be 'set' or 'add'")
            put = set_synonyms if mode == "set" else add_synonyms
            n = put(store, groups)
            self._reopen(name)
        return {"index": name, "mode": mode, "groups": n}

    def add_synonyms(self, name: str, body: dict) -> dict:
        """Reference PUT /index/{id}/synonyms: add/merge groups."""
        return self.set_synonyms(name, {**body, "mode": "add"})

    def set_key(self, name: str, body: dict) -> dict:
        """API-key CRUD (reference api_endpoints.rs apikey endpoints,
        gated by its master apikey — here ``admin_key``): set/rotate
        an index's bearer token, with an optional rate limit."""
        with self._writing(name, _KEYS_READ_ONLY) as store:
            token = body.get("key")
            if not token or not isinstance(token, str):
                raise ValueError("body must contain a non-empty 'key' string")
            rate_limit = body.get("rate_limit")
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

    def clear_key(self, name: str, *_) -> dict:
        with self._writing(name, _KEYS_READ_ONLY) as store:
            set_api_key(store.path, None)
            self._reopen(name)
        return {"index": name, "api_key": "cleared"}

    def clear(self, name: str, *_) -> dict:
        """Reset an index to empty while maintaining the schema
        (reference clear_index, index.rs:4920 / api_endpoints.rs
        clear route): postings, doc store, vector index, dictionaries,
        and any uncommitted staged batches are dropped; settings +
        facet dictionaries + API key survive."""
        from seekstorm_spark.index.builder import clear_index

        with self._writing(name) as store:
            cleared = clear_index(self.spark, store)
            with self._registry_lock:
                lock = self._write_locks[name]
                self._forget(name)
                self._serve(name, cleared, lock)
        return {"cleared": name}

    def create_index(self, body: dict) -> dict:
        """``{"name", "options"?: {"n_buckets", "fields", "stemmer"}}``
        creates an EMPTY index under ``index_root`` (reference
        create_index); index docs into it via ``/docs``."""
        if not self.writable or not self.index_root:
            raise PermissionError(
                "index creation needs writable=True and an index_root"
            )
        name = body.get("name") or ""
        if not re.fullmatch(r"[A-Za-z0-9_-]+", name):
            raise ValueError("index name must match [A-Za-z0-9_-]+")
        from seekstorm_spark.index.builder import (
            IndexBuilder,
            write_empty_index,
        )

        with self._registry_lock:
            if name in self.stores:
                raise ValueError(f"index {name!r} already exists")
            opts = body.get("options") or {}
            path = os.path.join(self.index_root, name)
            builder = IndexBuilder(
                self.spark,
                path,
                n_buckets=int(opts.get("n_buckets", 8)),
                stemmer=opts.get("stemmer") or None,
            )
            fields = list(opts.get("fields") or ["text"])
            meta = builder.index_meta(fields)
            self._serve(name, write_empty_index(path, meta))
        return {"created": name, "path": path}

    def drop_index(self, name: str, *_) -> dict:
        """Reference delete_index: unload the index and delete its files."""
        import shutil

        with self._writing(name) as store:
            with self._registry_lock:
                self._forget(name)
            shutil.rmtree(store.path, ignore_errors=True)
        return {"dropped": name}

    def close_index(self, name: str, *_) -> dict:
        """Unload an index from serving WITHOUT touching its files
        (reference close_index_api, api_endpoints.rs:500-505 — PUT
        /api/v1/index/{id}; returns the indexed doc count). Staged
        uncommitted batches are committed first so nothing is lost —
        the reference's close flushes level-0 the same way. The index
        can be re-served by restarting (or re-creating) the service
        with its path."""
        with self._writing(name) as store:
            idx = self._indexers.get(name)
            if idx is not None and idx.staged:
                idx.commit()
            with self._registry_lock:
                self._forget(name)
        # meta may be stale if the commit above promoted docs; report
        # the on-disk truth
        try:
            n_docs = IndexStore.open(store.path).meta.get("n_docs")
        except OSError:
            n_docs = store.meta.get("n_docs")
        return {"closed": name, "n_docs": n_docs}


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

    def _send(self, code: int, payload, ctype="application/json") -> None:
        raw = (
            json.dumps(payload).encode()
            if ctype == "application/json" else payload
        )
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(raw)))
        if ctype == "application/pdf":
            self.send_header(
                "Content-Disposition", "attachment;filename=file.pdf"
            )
        self.end_headers()
        self.wfile.write(raw)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n)) if n else {}

    def _dispatch(self, method: str) -> None:
        """Serve one request: the first ``_ROUTES`` entry matching it
        names the op; the route's auth scope is checked, then the op
        runs on the path's arguments and the request dict, and its
        exceptions map to statuses (AuthError → its code,
        PermissionError → 403, KeyError → 404, ValueError → 400)."""
        url = urlparse(self.path)
        for m, pat, op in _ROUTES:
            match = pat.match(url.path) if m == method else None
            if match:
                break
        else:
            self._send(404, {"error": f"no route for {method} {url.path}"})
            return
        svc, args = self.service, match.groups()
        auth = self.headers.get("Authorization")
        try:
            if op in ("set_key", "clear_key"):
                # apikey CRUD answers to the server ADMIN key, not the
                # index key (the reference's master-apikey semantics)
                svc.check_admin(auth)
            elif args:  # the route names an index: its key gates it
                svc.check_auth(args[0], auth)
            adapter = getattr(self, "_op_" + op, None)
            if adapter is not None:
                adapter(*args)
                return
            req = (
                {k: v[0] for k, v in parse_qs(url.query).items()}
                if method == "GET"
                else self._body()
            )
            self._send(200, getattr(svc, op)(*args, req))
        except AuthError as e:
            self._send(e.code, {"error": str(e)})
        except PermissionError as e:
            self._send(403, {"error": str(e)})
        except KeyError as e:
            self._send(404, {"error": str(e)})
        except ValueError as e:  # incl. json.JSONDecodeError
            self._send(400, {"error": str(e)})
        except Exception as e:  # surface, don't kill the thread
            self._send(500, {"error": f"{type(e).__name__}: {e}"})

    # adapters: the routes whose request or reply is not one JSON dict

    def _op_apikey_info(self) -> None:
        auth = self.headers.get("Authorization")
        self._send(200, self.service.apikey_info(auth))

    def _op_doc(self, name: str, docid: str) -> None:
        row = self.service.doc(name, docid)
        if row is None:
            self._send(404, {"error": "document not found"})
        else:
            self._send(200, row)

    def _op_index_file(self, name: str) -> None:
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            raise ValueError("request body must be the PDF bytes")
        data = self.rfile.read(n)
        # reference header contract (http_server.rs:713-726):
        # `file` = original filepath for the url field, `date` =
        # fallback Unix timestamp when the PDF has no date tag
        try:
            file_date = int(self.headers.get("date") or "")
        except ValueError:
            import time

            file_date = int(time.time())
        self._send(200, self.service.index_file(
            name, self.headers.get("file") or "", file_date, data
        ))

    def _op_get_file(self, name: str, docid: str) -> None:
        blob = self.service.get_file(name, docid)
        if blob is None:
            self._send(404, {"error": "file not found"})
        else:
            self._send(200, blob, "application/pdf")

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
