#!/usr/bin/env python
"""Replay a fixed list of REST requests against served fixtures and
print one line per request: method, path, status and the reply as
sorted-key JSON (a PDF reply prints its content type, length and
SHA-256 instead).

    python scripts/dump_rest_responses.py [WORKDIR] > out.txt

The REST counterpart of ``dump_query_results.py``: run it on two
checkouts and diff the outputs. It builds a seeded 200-doc index
(doc store, ``ann/`` vector index) twice, with and without a ``lang``
facet, copies them under WORKDIR (default: a new temp dir, removed
afterwards) and serves the copies from two servers:

* ``ro`` — read-only, faceted: an open index, one protected by a
  bearer key, and one whose key carries a rate limit of 1 request/s;
* ``rw`` — writable, with an ``index_root`` and an admin key, over
  the unfaceted copy (PDF upload stages text only).

The requests cover every ``_ROUTES`` entry (the script fails if one
is left out) on their success and error paths: 400, 401, 403, 404,
429, PDF bytes, a missing doc, ``/clear`` and drop + re-create.
WORKDIR is printed as ``<work>``, so outputs of two runs compare
byte for byte.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import urllib.error
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORDS = [{"url": "http://new/1", "text": "zzwrited alpha beta"},
         {"url": "http://new/2", "text": "zzwrited gamma"}]
Q = "/indices/main/query"
SEC = {"Authorization": "Bearer sec-key"}
W = "/indices/w"


def _pdf() -> bytes:
    from seekstorm_spark.sources.pdf import build_pdf

    return build_pdf(
        ["zzpdfalpha zzpdfbeta heading\nbody line", "zzpdfgamma page two"],
        title="ZZ Upload Title", creation_date="D:20240102030405Z",
    )


def requests(qv: list[float]) -> list[tuple]:
    """(server, method, path, JSON body | raw bytes | None, headers)."""
    vec = {"query": "", "search_mode": "vector", "query_vector": qv,
           "top_k": 5}
    ro = [
        ("GET", "/health"), ("GET", "/live"), ("GET", "/indices"),
        ("GET", "/nope"), ("GET", "/apikey"),
        ("GET", "/apikey", None, SEC),
        ("GET", "/indices/main/info"), ("GET", "/indices/ghost/info"),
        ("GET", "/indices/sec/info"),
        ("GET", "/indices/sec/info", None,
         {"Authorization": "Bearer wrong"}),
        ("GET", "/indices/sec/info", None, SEC),
        ("GET", "/indices/sec/query?q=term00000&top_k=3", None, SEC),
        ("GET", Q + "?q=term00000&top_k=3"),
        ("GET", Q + "?q=term00000+term00001&type=intersection"),
        ("GET", Q + "?top_k=3"), ("GET", Q + "?q=term00000&top_k=x"),
        ("POST", Q, {"query": "term00000 term00001", "top_k": 5,
                     "default_type": "intersection", "count": True}),
        ("POST", Q, {"top_k": 2}),
        ("POST", Q, {"query": "term00000", "result_type": "Count"}),
        ("POST", Q, {"query": "term00000", "top_k": 3,
                     "result_type": "TopkCount", "realtime": False}),
        ("POST", Q, {"query": "", "enable_empty_query": True, "top_k": 4,
                     "count": True}),
        ("POST", Q, {"query": "term00000", "top_k": 4, "offset": 2,
                     "fields": [["text", 1.5]], "similarity":
                     "bm25f_proximity"}),
        ("POST", Q, {"query": "term00001", "top_k": 5,
                     "facet_filters": {"lang": ["en"]}, "facets": ["lang"]}),
        ("POST", Q, {"query": "term00000", "top_k": 6,
                     "result_sort": [["lang", "asc"], ["score", "desc"]]}),
        ("POST", Q, {"query": "term0000", "top_k": 3, "rewrite": "correct"}),
        ("POST", Q, vec),
        ("POST", Q, {"query": "term00000", "search_mode": "hybrid",
                     "query_vector": qv, "top_k": 5}),
        ("POST", Q, {"query": "", "search_mode": "vector"}),
        ("POST", Q, {"query": "term00000", "search_mode": "fuzzy"}),
        ("POST", Q, {"query": "term00000", "top_k": 3,
                     "highlight": {"field": "url", "width": 12}}),
        ("POST", Q, {"query": "term00000", "top_k": 3, "highlight": True}),
        ("POST", Q, {"query": "term00000", "top_k": 2,
                     "highlight": {"field": "text", "fragment_number": 2,
                                   "fragment_size": 40, "pre_tags": "<em>",
                                   "post_tags": "</em>"}}),
        ("POST", Q, {"query": "term00000", "top_k": 2,
                     "highlight": {"field": "nope"}}),
        ("POST", Q, {"query": "term00000", "top_k": 2, "highlight": True,
                     "highlights": [
                         {"field": "text", "name": "snippet",
                          "fragment_number": 1, "fragment_size": 60},
                         {"field": "url", "highlight_markup": False}]}),
        ("POST", Q, {"query": "term00000", "top_k": 2,
                     "highlights": [{"field": "nope"}]}),
        ("POST", Q, {"query": "zzznohit", "top_k": 2,
                     "highlights": [{"field": "nope"}]}),
        ("POST", "/indices/main/count", {"query": "term00000"}),
        ("POST", "/indices/main/count", {"query": "term00000 term00001",
                                         "default_type": "intersection"}),
        ("POST", "/indices/main/count", {}),
        ("POST", "/indices/main/query_batch",
         {"queries": ["term00000", "+term00000 +term00001"], "top_k": 3,
          "facet_filters": [None, {"lang": ["en"]}]}),
        ("POST", "/indices/main/query_batch", {"queries": []}),
        ("GET", "/indices/main/term/term00000"),
        ("GET", "/indices/main/term/zz%20top"),
        ("GET", "/indices/main/suggest?prefix=te"),
        ("GET", "/indices/main/spell?term=term00x01"),
        ("GET", "/indices/main/doc/7"), ("GET", "/indices/main/doc/99999"),
        ("GET", "/indices/main/iterator?skip=1&take=3"
                "&include_document=true&fields=url"),
        ("GET", "/indices/main/iterator?document_id=5&take=-2"),
        ("POST", "/indices/main/iterator",
         {"take": 2, "include_document": True}),
        ("POST", "/indices/main/iterator",
         {"include_document": True, "fields": ["nope"]}),
        ("GET", "/indices/main/synonyms"),
        ("GET", "/indices/main/file/1"),
        # every write route is refused on a read-only server
        ("POST", "/indices/main/docs", {"documents": WORDS}),
        ("POST", "/indices/main/file", _pdf()),
        ("PATCH", "/indices/main/docs",
         {"documents": WORDS, "old_docids": [1]}),
        ("POST", "/indices/main/commit", {}),
        ("POST", "/indices/main/clear", {}),
        ("POST", "/indices/main/synonyms", {"synonyms": []}),
        ("PUT", "/indices/main/synonyms", {"synonyms": []}),
        ("POST", "/indices/main/delete", {"docids": [3]}),
        ("DELETE", "/indices/main/doc/3"),
        ("POST", "/indices", {"name": "nope"}),
        ("DELETE", "/indices/main"),
        ("POST", "/indices/main/apikey", {"key": "attacker"}),
        ("DELETE", "/indices/main/apikey"),
    ]
    # rate limit 1/s: the first passes, 10 are grace, then 429
    ro += [("GET", "/indices/lim/info", None,
            {"Authorization": "Bearer lim-key"})] * 13
    ro += [("PUT", "/indices/sec", None, SEC), ("PUT", "/indices/sec")]
    adm = {"Authorization": "Bearer adm"}
    rw = [
        ("GET", W + "/suggest?prefix=term0004&k=3"),
        ("GET", W + "/spell?term=term00x01&max_edits=1"),
        ("GET", W + "/suggest"),
        ("POST", W + "/docs", {"documents": WORDS}),
        ("POST", W + "/docs", {}),
        ("POST", W + "/query", {"query": "zzwrited", "count": True}),
        ("POST", W + "/query", {"query": "zzwrited", "realtime": False}),
        ("PATCH", W + "/docs", {"documents": [
            {"url": "http://upd/1", "text": "zzupdated fresh"}],
            "old_docids": [0]}),
        ("PATCH", W + "/docs", {"documents": WORDS}),
        ("POST", W + "/file", _pdf(),
         {"file": "docs/upload_me.pdf", "date": "999"}),
        ("POST", W + "/file", b"%PDF-1.4 not really"),
        ("POST", W + "/file", b""),
        ("GET", W + "/file/196608"), ("GET", W + "/file/99999"),
        ("POST", W + "/query", {"query": "zzpdfgamma", "top_k": 5}),
        ("POST", W + "/commit", {}),
        ("GET", W + "/info"),
        ("POST", W + "/query_batch",
         {"queries": ["zzwrited", "zzupdated"], "top_k": 3}),
        ("POST", W + "/delete", {"docids": [1]}),
        ("POST", W + "/delete", {"query": "term00003"}),
        ("POST", W + "/delete", {}),
        ("DELETE", W + "/doc/2"),
        ("GET", W + "/iterator?take=4"),
        ("POST", W + "/synonyms",
         {"synonyms": [{"terms": ["alpha", "zzsyn"], "multiway": True}]}),
        ("PUT", W + "/synonyms", {"synonyms": [{"terms": ["beta", "zzb"]}]}),
        ("GET", W + "/synonyms"),
        ("POST", W + "/synonyms", {}),
        ("POST", W + "/synonyms", {"synonyms": [], "mode": "merge"}),
        ("POST", W + "/apikey", {"key": "k1"}),
        ("POST", W + "/apikey", {"key": "k1"},
         {"Authorization": "Bearer wrong"}),
        ("POST", W + "/apikey", {"key": "k1", "rate_limit": 50}, adm),
        ("GET", W + "/info"),
        ("GET", W + "/info", None, {"Authorization": "Bearer k1"}),
        ("GET", "/apikey", None, {"Authorization": "Bearer k1"}),
        ("POST", W + "/apikey", {}, adm),
        ("DELETE", W + "/apikey", None, adm),
        ("GET", W + "/info"),
        ("POST", W + "/query", dict(vec, query="term00000")),
        ("POST", W + "/clear", {}),
        ("POST", W + "/query", vec),
        ("GET", W + "/info"),
        ("POST", W + "/docs", {"documents": WORDS[:1]}),
        ("POST", W + "/query", {"query": "zzwrited"}),
        ("POST", "/indices/ghost/clear", {}),
        ("POST", "/indices", {"name": "fresh", "options": {"n_buckets": 2}}),
        ("POST", "/indices", {"name": "fresh"}),
        ("POST", "/indices", {"name": "../evil"}),
        ("POST", "/indices/fresh/docs", {"documents": WORDS}),
        ("PUT", "/indices/fresh"), ("PUT", "/indices/fresh"),
        ("DELETE", W), ("DELETE", W),
        ("POST", "/indices", {"name": "w"}),
        ("POST", W + "/query", vec),
        ("GET", "/indices"),
    ]
    return [("ro", *r) for r in ro] + [("rw", *r) for r in rw]


def _call(base: str, method: str, path: str, body=None, headers=None):
    data = body if isinstance(body, bytes) else (
        None if body is None else json.dumps(body).encode()
    )
    req = urllib.request.Request(
        base + path, data=data, headers=dict(headers or {}), method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=600) as r:
            status, ctype, raw = r.status, r.headers["Content-Type"], r.read()
    except urllib.error.HTTPError as e:
        status, ctype, raw = e.code, e.headers["Content-Type"], e.read()
    if ctype == "application/json":
        return status, json.dumps(json.loads(raw), sort_keys=True)
    digest = hashlib.sha256(raw).hexdigest()
    return status, f"{ctype} {len(raw)} bytes sha256={digest}"


def _fixture(spark, path: str, facet_cols: list[str]) -> list[float]:
    """A seeded index the served copies start from; returns the query
    vector of the vector requests."""
    import numpy as np

    from seekstorm_spark.functions.simsearch import AnnIndex
    from seekstorm_spark.index.builder import IndexBuilder, assign_docids
    from seekstorm_spark.query.docstore import write_doc_store
    from seekstorm_spark.sources.webtext import synth_webtext

    docs = assign_docids(synth_webtext(spark, 200, seed=11), order_col="url")
    IndexBuilder(spark, path, n_buckets=2, facet_cols=facet_cols).build(
        docs, text_col="text", id_col="docid"
    )
    write_doc_store(
        docs, os.path.join(path, "doc_store"), id_col="docid",
        fields=["url", "text", "lang"], docs_per_bucket=64,
    )
    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    AnnIndex.build(spark, vecs, os.path.join(path, "ann"), n_planes=4)
    return [float(x) for x in rng.normal(size=8)]


def main() -> None:
    from seekstorm_spark.server import _ROUTES, serve_in_thread, set_api_key
    from seekstorm_spark.session import get_spark

    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    spark = get_spark("dump_rest", master="local[2]", shuffle_partitions=2)
    servers = []
    try:
        seeds = {n: os.path.join(work, "seed_" + n) for n in ("ro", "rw")}
        qv = _fixture(spark, seeds["ro"], ["lang"])
        _fixture(spark, seeds["rw"], [])
        paths = {n: os.path.join(work, n) for n in ("main", "sec", "lim")}
        paths["w"] = os.path.join(work, "root", "w")
        for name, p in paths.items():
            shutil.copytree(seeds["rw" if name == "w" else "ro"], p)
        set_api_key(paths["sec"], "sec-key")
        set_api_key(paths["lim"], "lim-key", rate_limit=1)
        base = {}
        for name, indices, kw in (
            ("ro", {n: paths[n] for n in ("main", "sec", "lim")}, {}),
            ("rw", {"w": paths["w"]},
             {"writable": True, "admin_key": "adm",
              "index_root": os.path.join(work, "root")}),
        ):
            srv, _t = serve_in_thread(spark, indices, port=0, **kw)
            servers.append(srv)
            base[name] = f"http://127.0.0.1:{srv.server_address[1]}"
        hit = set()
        for n, (srv, method, path, *rest) in enumerate(requests(qv)):
            status, reply = _call(base[srv], method, path, *rest)
            hit.add(next(
                (i for i, (m, pat, _op) in enumerate(_ROUTES)
                 if m == method and pat.match(path.split("?")[0])), None
            ))
            print(f"{n:03d} {srv} {method} {path} -> {status} "
                  + reply.replace(work, "<work>"), flush=True)
        missed = [
            (m, pat.pattern) for i, (m, pat, _op) in enumerate(_ROUTES)
            if i not in hit
        ]
        if missed:
            raise SystemExit(f"routes no request covers: {missed}")
    finally:
        for srv in servers:
            srv.shutdown()
        spark.stop()
        if len(sys.argv) <= 1:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
