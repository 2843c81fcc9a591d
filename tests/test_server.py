"""REST server over the library surface (reference
api_endpoints.rs:60-1470 query subset): query GET+POST, count, info,
doc-store reads, error paths — all against a real built index."""

from __future__ import annotations

import json
import re
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder, assign_docids
from seekstorm_spark.query.docstore import write_doc_store
from seekstorm_spark.query.engine import count_matches, search
from seekstorm_spark.server import _ROUTES, serve_in_thread
from seekstorm_spark.sources.webtext import synth_webtext


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("srv")
    docs = assign_docids(synth_webtext(spark, 300, seed=11), order_col="url")
    store = IndexBuilder(spark, str(base / "idx"), n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    write_doc_store(
        docs, str(base / "idx" / "doc_store"), id_col="docid",
        fields=["url", "lang"], docs_per_bucket=128,
    )
    srv, thread = serve_in_thread(spark, {"main": store.path}, port=0)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}", store
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def _post(url: str, body: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_health_and_listing(served):
    base, _store = served
    health = _get(base + "/health")[1]
    assert health["status"] == "ok"
    # reference live_api parity: server identity + version string
    assert health["server"].startswith("seekstorm_spark server ")
    assert _get(base + "/indices")[1] == {"indices": ["main"]}
    info = _get(base + "/indices/main/info")[1]
    assert info["n_docs"] == 300 and info["fields"] == ["text"]


def test_query_post_matches_library(spark, served):
    base, store = served
    body = {"query": "term00000 term00001", "top_k": 5,
            "default_type": "intersection", "count": True}
    status, resp = _post(base + "/indices/main/query", body)
    assert status == 200
    want = [
        (int(r["docid"]), float(r["score"]))
        for r in search(
            spark, store, body["query"], top_k=5,
            default_type="intersection",
        ).collect()
    ]
    got = [(r["docid"], r["score"]) for r in resp["results"]]
    assert got == pytest.approx(want)
    assert resp["count"] == count_matches(
        spark, store, body["query"], "intersection"
    )


def test_query_get_variant(spark, served):
    base, store = served
    status, resp = _get(
        base + "/indices/main/query?q=term00042&top_k=3"
    )
    assert status == 200
    assert len(resp["results"]) == len(
        search(spark, store, "term00042", top_k=3).collect()
    )


def test_doc_endpoint_reads_doc_store(served):
    base, _store = served
    status, row = _get(base + "/indices/main/doc/7")
    assert status == 200 and row["docid"] == 7 and row["url"]


def test_error_paths(served):
    base, _store = served
    for url, code in [
        (base + "/nope", 404),
        (base + "/indices/ghost/info", 404),
        (base + "/indices/main/doc/99999999", 404),
        (base + "/indices/main/query?top_k=3", 400),
    ]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(url)
        assert ei.value.code == code, url
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base + "/indices/main/query", {"top_k": 2})
    assert ei.value.code == 400


def test_unknown_rewrite_is_400(served):
    """``rewrite`` accepts only "spell" and "suggest": any other value
    answers 400, as an unknown similarity does, instead of running the
    query unrewritten."""
    base, _store = served
    status, resp = _request(
        base, "POST", "/indices/main/query",
        {"query": "term0000", "rewrite": "correct"},
    )
    assert status == 400 and "unknown rewrite 'correct'" in resp["error"], resp


def test_concurrent_queries(served):
    import concurrent.futures as cf

    base, _store = served
    qs = [f"term{i:05d}" for i in range(8)]
    with cf.ThreadPoolExecutor(8) as ex:
        outs = list(
            ex.map(
                lambda q: _post(
                    base + "/indices/main/query", {"query": q, "top_k": 3}
                )[1],
                qs,
            )
        )
    assert all("results" in o for o in outs)


@pytest.fixture(scope="module")
def writable_served(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("wsrv")
    docs = assign_docids(synth_webtext(spark, 200, seed=21), order_col="url")
    store = IndexBuilder(spark, str(base / "idx"), n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    srv, _t = serve_in_thread(
        spark, {"main": store.path}, port=0, writable=True
    )
    yield f"http://127.0.0.1:{srv.server_address[1]}", store
    srv.shutdown()


def test_write_path_realtime_visibility(spark, writable_served):
    """POSTed docs are searchable over HTTP BEFORE commit (staged
    level-0 riding the query/count endpoints), identical after."""
    base, store = writable_served
    docs = [
        {"url": "http://new/1", "text": "zzwrited alpha beta"},
        {"url": "http://new/2", "text": "zzwrited gamma"},
    ]
    status, resp = _post(
        base + "/indices/main/docs", {"documents": docs}
    )
    assert status == 200 and resp["staged"] == 2
    # visible pre-commit
    _s, r = _post(
        base + "/indices/main/query",
        {"query": "zzwrited", "top_k": 10, "count": True},
    )
    assert len(r["results"]) == 2 and r["count"] == 2
    pre = {x["docid"] for x in r["results"]}
    # commit, then identical results from the committed index
    assert _post(base + "/indices/main/commit", {})[1] == {
        "committed": True
    }
    _s, r2 = _post(
        base + "/indices/main/query",
        {"query": "zzwrited", "top_k": 10, "count": True},
    )
    assert {x["docid"] for x in r2["results"]} == pre and r2["count"] == 2
    # delete one by id over HTTP
    victim = min(pre)
    _post(base + "/indices/main/delete", {"docids": [victim]})
    _s, r3 = _post(
        base + "/indices/main/query", {"query": "zzwrited", "top_k": 10}
    )
    assert {x["docid"] for x in r3["results"]} == pre - {victim}


def test_read_only_server_rejects_writes(served):
    base, _store = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base + "/indices/main/docs",
              {"documents": [{"url": "u", "text": "t"}]})
    assert ei.value.code == 403


def test_query_highlight_from_doc_store(served):
    """highlight=true attaches a KWIC fragment per result, served
    from the columnar doc store on the driver (no Spark job)."""
    base, _store = served
    _s, r = _post(
        base + "/indices/main/query",
        {"query": "term00000", "top_k": 3,
         "highlight": {"field": "url", "width": 12}},
    )
    assert len(r["results"]) == 3
    assert all("fragment" in x for x in r["results"])
    # url fields don't contain the term — fragments empty but present
    with pytest.raises(urllib.error.HTTPError) as ei:
        # default field "text" is not stored in this fixture's store
        _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 3, "highlight": True},
        )
    assert ei.value.code == 400


def test_query_fragment_highlighter(served):
    """Passing fragment options routes to the FULL reference
    highlighter (top_fragments, highlighter.rs:216-358) instead of
    the legacy width-KWIC — verified against the driver twin on the
    stored field fetched through /doc."""
    from seekstorm_spark.functions.highlight import top_fragments

    base, _store = served
    _s, r = _post(
        base + "/indices/main/query",
        {"query": "term00000", "top_k": 3,
         "highlight": {"field": "url", "fragment_number": 2,
                       "fragment_size": 40, "pre_tags": "<em>",
                       "post_tags": "</em>"}},
    )
    assert len(r["results"]) == 3
    for res in r["results"]:
        _s2, doc = _get(base + f"/indices/main/doc/{res['docid']}")
        want = top_fragments(
            str(doc["url"]), ["term00000"], fragment_number=2,
            fragment_size=40, pre_tags="<em>", post_tags="</em>",
        )
        assert res["fragment"] == want


def test_index_crud_lifecycle(spark, tmp_path):
    """Create an EMPTY index over HTTP, stream docs into it, search
    pre- and post-commit, then drop it (reference create_index /
    delete_index endpoints)."""
    import os

    srv, _t = serve_in_thread(
        spark, {}, port=0, writable=True, index_root=str(tmp_path)
    )
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _s, r = _post(base + "/indices", {"name": "fresh",
                                          "options": {"n_buckets": 2}})
        assert r["created"] == "fresh"
        assert _get(base + "/indices")[1] == {"indices": ["fresh"]}
        assert _get(base + "/indices/fresh/info")[1]["n_docs"] == 0
        # duplicate name and bad name → 400
        for bad in ({"name": "fresh"}, {"name": "../evil"}, {}):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(base + "/indices", bad)
            assert ei.value.code == 400
        # index documents; visible before commit
        _post(base + "/indices/fresh/docs", {"documents": [
            {"url": "u1", "text": "hello world"},
            {"url": "u2", "text": "hello spark"},
        ]})
        _s, q = _post(base + "/indices/fresh/query",
                      {"query": "hello", "count": True})
        assert len(q["results"]) == 2 and q["count"] == 2
        _post(base + "/indices/fresh/commit", {})
        _s, q2 = _post(base + "/indices/fresh/query", {"query": "hello"})
        assert {x["docid"] for x in q2["results"]} == {
            x["docid"] for x in q["results"]
        }
        # clear: reset to empty keeping the schema (index.rs:4920);
        # the index grows again afterwards through the same write path
        _s, c = _post(base + "/indices/fresh/clear", {})
        assert c == {"cleared": "fresh"}
        assert _get(base + "/indices/fresh/info")[1]["n_docs"] == 0
        _s, q3 = _post(base + "/indices/fresh/query", {"query": "hello"})
        assert q3["results"] == []
        _post(base + "/indices/fresh/docs", {"documents": [
            {"url": "u3", "text": "hello again"},
        ]})
        _s, q4 = _post(base + "/indices/fresh/query", {"query": "hello"})
        assert len(q4["results"]) == 1
        # drop: removed from serving AND disk
        import urllib.request as _rq

        req = _rq.Request(base + "/indices/fresh", method="DELETE")
        with _rq.urlopen(req, timeout=120) as resp:
            assert json.loads(resp.read()) == {"dropped": "fresh"}
        assert _get(base + "/indices")[1] == {"indices": []}
        assert not os.path.exists(str(tmp_path / "fresh"))
    finally:
        srv.shutdown()


def test_query_full_surface(spark, tmp_path):
    """The /query body passes the full library surface through:
    offset, facet_filters, result_sort (sort keys ride along in the
    response rows), and query-time facet counts (reference
    QueryObject semantics)."""
    from seekstorm_spark.index.builder import assign_docids

    docs = assign_docids(
        synth_webtext(spark, 120, seed=17), order_col="url"
    ).withColumn(
        "lang2",
        F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
            (F.col("docid") % 3 + 1).cast("int"),
        ),
    )
    store = IndexBuilder(
        spark, str(tmp_path / "fidx"), n_buckets=4, facet_cols=["lang2"]
    ).build(docs, text_col="text", id_col="docid")
    srv, _t = serve_in_thread(spark, {"main": store.path}, port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _s, r = _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 5,
             "facet_filters": {"lang2": ["en"]},
             "facets": ["lang2"]},
        )
        assert r["results"] and all(
            x["docid"] % 3 == 1 for x in r["results"]
        )
        assert set(r["facets"]["lang2"]) <= {"de", "en", "fr"}
        want = {
            row["value"]: row["n"]
            for row in __import__(
                "seekstorm_spark.query.engine", fromlist=["facet_counts"]
            ).facet_counts(
                spark, store, "term00000", ["lang2"]
            ).collect()
        }
        assert r["facets"]["lang2"] == want
        # offset pagination: page 2 == rows 5-9 of a top-10 query
        _s, page1 = _post(
            base + "/indices/main/query", {"query": "term00000", "top_k": 10}
        )
        _s, page2 = _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 5, "offset": 5},
        )
        assert page2["results"] == page1["results"][5:]
        # result_sort: sort key column rides along in the rows
        _s, srt = _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 10,
             "result_sort": [["lang2", "asc"], ["score", "desc"]]},
        )
        langs = [x["lang2"] for x in srt["results"]]
        assert langs == sorted(langs)
    finally:
        srv.shutdown()


def test_query_reference_request_fields(spark, tmp_path):
    """Reference SearchRequestObject parity: result_type
    (Topk/Count/TopkCount), realtime flag, enable_empty_query browse,
    the highlights LIST (named multi-field fragments), and
    search_mode vector/hybrid against a co-located ann/ index."""
    import numpy as np

    from seekstorm_spark.functions.simsearch import AnnIndex

    docs = assign_docids(
        synth_webtext(spark, 80, seed=23), order_col="url"
    )
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=2).build(
        docs, text_col="text", id_col="docid"
    )
    write_doc_store(
        docs, str(tmp_path / "idx" / "doc_store"), id_col="docid",
        fields=["url", "text"], docs_per_bucket=32,
    )
    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    AnnIndex.build(
        spark, vecs, str(tmp_path / "idx" / "ann"), n_planes=4
    )
    srv, _t = serve_in_thread(spark, {"main": store.path}, port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # result_type Count: count only, no result rows
        _s, r = _post(
            base + "/indices/main/query",
            {"query": "term00000", "result_type": "Count"},
        )
        assert r["results"] == [] and r["count"] > 0
        # TopkCount: both
        _s, r2 = _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 3, "result_type": "TopkCount",
             "realtime": False},
        )
        assert len(r2["results"]) == 3 and r2["count"] == r["count"]
        # enable_empty_query → browse
        _s, r3 = _post(
            base + "/indices/main/query",
            {"query": "", "enable_empty_query": True, "top_k": 5},
        )
        assert [x["docid"] for x in r3["results"]] == [0, 1, 2, 3, 4]
        # highlights list with names
        _s, r4 = _post(
            base + "/indices/main/query",
            {"query": "term00000", "top_k": 2,
             "highlights": [
                 {"field": "text", "name": "snippet",
                  "fragment_number": 1, "fragment_size": 60},
                 {"field": "url", "highlight_markup": False},
             ]},
        )
        for x in r4["results"]:
            assert set(x["highlights"]) == {"snippet", "url"}
            assert "<b>term00000</b>" in x["highlights"]["snippet"]
        # vector search against the ann/ subdir
        qv = [float(x) for x in rng.normal(size=8)]
        _s, r5 = _post(
            base + "/indices/main/query",
            {"query": "", "search_mode": "vector", "query_vector": qv,
             "top_k": 5},
        )
        assert len(r5["results"]) >= 1
        assert all(0 <= x["docid"] < 80 for x in r5["results"])
        # hybrid fuses lexical + vector in one call
        _s, r6 = _post(
            base + "/indices/main/query",
            {"query": "term00000", "search_mode": "hybrid",
             "query_vector": qv, "top_k": 5},
        )
        assert len(r6["results"]) == 5
    finally:
        srv.shutdown()


def test_create_rejected_without_root(spark, served):
    base, _store = served  # read-only, no index_root
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base + "/indices", {"name": "nope"})
    assert ei.value.code == 403


def test_query_batch_and_term_df(spark, served):
    """query_batch fuses N queries into one action and matches
    per-query /query results; /term/{t} answers from the driver-side
    stats probe."""
    base, store = served
    qs = ["term00000", "+term00000 +term00001", "term00000 -term00001"]
    _s, batch = _post(
        base + "/indices/main/query_batch", {"queries": qs, "top_k": 5}
    )
    assert len(batch["results"]) == 3
    for i, q in enumerate(qs):
        _s2, single = _post(
            base + "/indices/main/query", {"query": q, "top_k": 5}
        )
        assert batch["results"][i] == single["results"], q
    _s3, td = _get(base + "/indices/main/term/term00000")
    n = count_matches(spark, store, "term00000")
    assert td == {"term": "term00000", "df": n} and n > 0
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base + "/indices/main/query_batch", {"queries": []})
    assert ei.value.code == 400


def test_suggest_and_spell_endpoints(spark, writable_served):
    """QAC + spell over HTTP: dictionaries build lazily on a writable
    server, then both endpoints answer driver-side."""
    base, store = writable_served
    _s, sug = _get(base + "/indices/main/suggest?prefix=term0004&k=3")
    assert sug["suggestions"] and all(
        x["term"].startswith("term0004") for x in sug["suggestions"]
    )
    dfs = [x["df"] for x in sug["suggestions"]]
    assert dfs == sorted(dfs, reverse=True)
    _s2, sp = _get(base + "/indices/main/spell?term=term00x01")
    assert sp["correction"] is not None and sp["distance"] >= 1
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base + "/indices/main/suggest")
    assert ei.value.code == 400


def test_suggest_read_only_without_dictionary(spark, served):
    base, _store = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base + "/indices/main/suggest?prefix=te")
    assert ei.value.code == 400


def test_api_key_auth(spark, tmp_path):
    """Per-index bearer tokens (reference api_endpoints.rs): only the
    SHA-256 lands in meta; missing header -> 401, wrong token -> 403,
    right token -> 200; unprotected indexes and /health stay open."""
    from seekstorm_spark.server import serve_in_thread, set_api_key

    docs = assign_docids(synth_webtext(spark, 120, seed=19), order_col="url")
    open_path = str(tmp_path / "open")
    sec_path = str(tmp_path / "sec")
    IndexBuilder(spark, open_path, n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    IndexBuilder(spark, sec_path, n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    set_api_key(sec_path, "s3kr1t-token")
    with open(sec_path + "/meta.json") as f:
        meta = json.load(f)
    assert "s3kr1t-token" not in json.dumps(meta)  # never plaintext
    assert len(meta["api_key_sha256"]) == 64

    srv, _t = serve_in_thread(
        spark, {"open": open_path, "sec": sec_path}, port=0
    )
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # open index + health need no token
        assert _get(base + "/health")[0] == 200
        assert _get(base + "/indices/open/info")[0] == 200

        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(base + "/indices/sec/info")
        assert ei.value.code == 401
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(base + "/indices/sec/query?q=term00000")
        assert ei.value.code == 401

        def _get_auth(url, token):
            req = urllib.request.Request(
                url, headers={"Authorization": f"Bearer {token}"}
            )
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())

        with pytest.raises(urllib.error.HTTPError) as ei:
            _get_auth(base + "/indices/sec/info", "wrong-token")
        assert ei.value.code == 403

        status, info = _get_auth(base + "/indices/sec/info", "s3kr1t-token")
        assert status == 200 and info["n_docs"] == 120
        status, res = _get_auth(
            base + "/indices/sec/query?q=term00000&top_k=3", "s3kr1t-token"
        )
        assert status == 200 and len(res["results"]) == 3

        # clearing the key reopens the index (picked up on reopen)
        set_api_key(sec_path, None)
        srv.RequestHandlerClass.service.stores["sec"] = type(
            srv.RequestHandlerClass.service.stores["sec"]
        ).open(sec_path)
        assert _get(base + "/indices/sec/info")[0] == 200
    finally:
        srv.shutdown()


def test_api_key_crud_over_http(spark, tmp_path):
    """API-key endpoints answer to the server ADMIN key (reference
    master-apikey semantics): disabled without one, 401/403 on
    missing/wrong admin token, and an attacker can never set the
    FIRST key on an open index."""
    from seekstorm_spark.server import serve_in_thread

    docs = assign_docids(synth_webtext(spark, 100, seed=29), order_col="url")
    path = str(tmp_path / "idx")
    IndexBuilder(spark, path, n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )

    def _req(base, method, url, body=None, token=None):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            base + url,
            data=json.dumps(body).encode() if body is not None else None,
            headers=headers, method=method,
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    # no admin key configured -> apikey endpoints are DISABLED (no
    # caller may claim an open index by setting its first key)
    srv0, _t0 = serve_in_thread(spark, {"main": path}, port=0, writable=True)
    base0 = f"http://127.0.0.1:{srv0.server_address[1]}"
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(base0, "POST", "/indices/main/apikey", {"key": "attacker"})
        assert ei.value.code == 403
    finally:
        srv0.shutdown()

    srv, _t = serve_in_thread(
        spark, {"main": path}, port=0, writable=True, admin_key="master-k3y"
    )
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # missing / wrong admin token
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(base, "POST", "/indices/main/apikey", {"key": "first"})
        assert ei.value.code == 401
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(base, "POST", "/indices/main/apikey", {"key": "first"},
                 token="wrong")
        assert ei.value.code == 403
        # set with the admin key -> index becomes protected
        assert _req(base, "POST", "/indices/main/apikey",
                    {"key": "first"}, token="master-k3y")[1]["api_key"] == "set"
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(base + "/indices/main/info")
        assert ei.value.code == 401
        status, _info = _req(base, "GET", "/indices/main/info", token="first")
        assert status == 200
        # rotation + clear answer to the admin key, not the index key
        assert _req(base, "POST", "/indices/main/apikey",
                    {"key": "second"}, token="master-k3y")[0] == 200
        status, _ = _req(base, "GET", "/indices/main/info", token="second")
        assert status == 200
        assert _req(base, "DELETE", "/indices/main/apikey",
                    token="master-k3y")[1]["api_key"] == "cleared"
        assert _get(base + "/indices/main/info")[0] == 200
        # bad body
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(base, "POST", "/indices/main/apikey", {}, token="master-k3y")
        assert ei.value.code == 400
    finally:
        srv.shutdown()


def test_update_docs_over_http(spark, writable_served):
    """PATCH /docs = the reference's update_documents_api
    (api_endpoints.rs:865-917): delete the old versions + re-add the
    new contents. The replacement is searchable immediately (realtime
    level-0) and the old docid stops matching."""
    base, _store = writable_served
    _s, resp = _post(
        base + "/indices/main/docs",
        {"documents": [{"url": "http://upd/1", "text": "zzupdated v1 stale"}]},
    )
    assert resp["staged"] == 1
    assert _post(base + "/indices/main/commit", {})[1]["committed"]
    _s, r = _post(base + "/indices/main/query", {"query": "zzupdated"})
    assert len(r["results"]) == 1
    old_id = r["results"][0]["docid"]

    import urllib.request

    req = urllib.request.Request(
        base + "/indices/main/docs",
        data=json.dumps(
            {
                "documents": [
                    {"url": "http://upd/1", "text": "zzupdated v2 fresh"}
                ],
                "old_docids": [old_id],
            }
        ).encode(),
        headers={"Content-Type": "application/json"},
        method="PATCH",
    )
    with urllib.request.urlopen(req, timeout=120) as resp2:
        out = json.loads(resp2.read())
    assert out["staged"] == 1 and out["deleted_ids"] == 1

    # old version deleted, replacement visible pre-commit
    _s, r2 = _post(base + "/indices/main/query", {"query": "stale"})
    assert r2["results"] == []
    _s, r3 = _post(base + "/indices/main/query", {"query": "fresh"})
    assert len(r3["results"]) == 1 and r3["results"][0]["docid"] != old_id
    # identical after commit
    assert _post(base + "/indices/main/commit", {})[1]["committed"]
    _s, r4 = _post(base + "/indices/main/query", {"query": "fresh"})
    assert {x["docid"] for x in r4["results"]} == {r3["results"][0]["docid"]}
    assert _post(base + "/indices/main/query", {"query": "stale"})[1][
        "results"
    ] == []


def test_rate_limit_formula(monkeypatch):
    """The quota formula matches the reference (http_server.rs:144-175):
    under-limit traffic always passes, the first 10 over-limit requests
    are absorbed as grace, then 429 — and recovery requires backing off
    (violations+1) limit-periods, not just one."""
    import threading
    import time as _time

    from seekstorm_spark.server import AuthError, IndexService

    svc = IndexService.__new__(IndexService)
    svc._quota_lock = threading.Lock()
    svc._quota = {}

    clock = [0]
    monkeypatch.setattr(_time, "monotonic_ns", lambda: clock[0])

    # 1 req/s, one request every 1.1 s: never limited
    for _ in range(20):
        clock[0] += 1_100_000_000
        svc._rate_limit("idx", 1)
    assert svc._quota["idx"][1] == 0

    # burst at 100 req/s: first passes, 10 grace violations, then 429
    svc._quota.clear()
    clock[0] += 2_000_000_000
    svc._rate_limit("idx", 1)  # passes, resets
    for i in range(10):
        clock[0] += 10_000_000
        svc._rate_limit("idx", 1)  # grace
    with pytest.raises(AuthError) as ei:
        clock[0] += 10_000_000
        svc._rate_limit("idx", 1)
    assert ei.value.code == 429

    # one period is NOT enough to recover (divisor is violations+1=12)
    clock[0] += 1_000_000_001
    with pytest.raises(AuthError):
        svc._rate_limit("idx", 1)
    # backing off 12 periods recovers
    clock[0] += 12_000_000_000
    svc._rate_limit("idx", 1)
    assert svc._quota["idx"][1] == 0


def test_api_key_rate_limit_over_http(spark, tmp_path):
    """An index key carrying rate_limit=1 starts returning 429 once a
    burst exhausts the grace window; an unlimited key never does."""
    from seekstorm_spark.server import serve_in_thread

    docs = assign_docids(synth_webtext(spark, 60, seed=31), order_col="url")
    path = str(tmp_path / "idx")
    IndexBuilder(spark, path, n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    srv, _t = serve_in_thread(
        spark, {"main": path}, port=0, writable=True, admin_key="adm"
    )
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def _req(method, url, body=None, token=None):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            base + url,
            data=json.dumps(body).encode() if body is not None else None,
            headers=headers, method=method,
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    try:
        status, resp = _req(
            "POST", "/indices/main/apikey",
            {"key": "k1", "rate_limit": 1}, token="adm",
        )
        assert status == 200 and resp["rate_limit"] == 1
        codes = []
        for _ in range(14):
            try:
                codes.append(_req("GET", "/indices/main/info", token="k1")[0])
            except urllib.error.HTTPError as e:
                codes.append(e.code)
        assert codes[0] == 200 and 429 in codes
        # re-setting the key without a limit clears the quota
        _req("POST", "/indices/main/apikey", {"key": "k2"}, token="adm")
        for _ in range(14):
            assert _req("GET", "/indices/main/info", token="k2")[0] == 200
    finally:
        srv.shutdown()


def test_live_endpoint(served):
    """GET /live — reference live_api (http_server.rs:213) serves the
    same server-identity payload as /health."""
    base, _store = served
    assert _get(base + "/live")[1] == _get(base + "/health")[1]


def test_close_index_over_http(spark, tmp_path):
    """PUT /indices/{name} = close (reference close_index_api,
    api_endpoints.rs:500): staged batches are committed, the index
    unloads from serving, and the files survive on disk."""
    import os

    from seekstorm_spark.index.store import IndexStore

    docs = assign_docids(synth_webtext(spark, 100, seed=23), order_col="url")
    path = str(tmp_path / "closeme")
    IndexBuilder(spark, path, n_buckets=4).build(
        docs, text_col="text", id_col="docid"
    )
    srv, _t = serve_in_thread(spark, {"c": path}, port=0, writable=True)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _post(base + "/indices/c/docs",
              {"documents": [{"url": "http://x/1", "text": "zzclosed doc"}]})

        def _put(url):
            req = urllib.request.Request(url, method="PUT")
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())

        status, resp = _put(base + "/indices/c")
        # staged batch was committed on close → 101 docs on disk
        assert status == 200 and resp == {"closed": "c", "n_docs": 101}
        # unloaded from serving, files intact
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(base + "/indices/c/info")
        assert ei.value.code == 404
        assert _get(base + "/indices")[1] == {"indices": []}
        assert os.path.exists(os.path.join(path, "meta.json"))
        assert IndexStore.open(path).meta["n_docs"] == 101
        # closing again → 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            _put(base + "/indices/c")
        assert ei.value.code == 404
    finally:
        srv.shutdown()


def test_apikey_info_endpoint(spark, tmp_path):
    """GET /apikey — reference get_apikey_indices_info_api
    (api_endpoints.rs:596): lists info for every index the presented
    bearer key protects; 401 without a token."""
    from seekstorm_spark.server import set_api_key

    docs = assign_docids(synth_webtext(spark, 60, seed=29), order_col="url")
    paths = {}
    for n in ("k1", "k2", "open"):
        paths[n] = str(tmp_path / n)
        IndexBuilder(spark, paths[n], n_buckets=4).build(
            docs, text_col="text", id_col="docid"
        )
    set_api_key(paths["k1"], "shared-key")
    set_api_key(paths["k2"], "shared-key")
    srv, _t = serve_in_thread(spark, paths, port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(base + "/apikey")
        assert ei.value.code == 401

        def _get_auth(url, token):
            req = urllib.request.Request(
                url, headers={"Authorization": f"Bearer {token}"}
            )
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())

        _s, resp = _get_auth(base + "/apikey", "shared-key")
        assert [i["name"] for i in resp["indices"]] == ["k1", "k2"]
        assert all(i["n_docs"] == 60 for i in resp["indices"])
        # a valid-format but unknown key sees an empty list
        _s, resp = _get_auth(base + "/apikey", "other-key")
        assert resp == {"indices": []}
    finally:
        srv.shutdown()


def _post_pdf(url: str, data: bytes, headers: dict | None = None):
    req = urllib.request.Request(
        url, data=data,
        headers={"Content-Type": "application/pdf", **(headers or {})},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        return r.status, json.loads(r.read())


def test_pdf_file_upload_and_download(spark, writable_served):
    """POST /indices/{n}/file + GET /indices/{n}/file/{docid}
    (reference http_server.rs:696,989 → ingest.rs index_pdf_bytes):
    upload indexes the extracted text realtime-visibly, stores the
    original bytes as files/{docid}.pdf, and the download round-trips
    them byte-identically."""
    from seekstorm_spark.sources.pdf import build_pdf

    base, store = writable_served
    pdf = build_pdf(
        ["zzpdfalpha zzpdfbeta heading\nbody line", "zzpdfgamma page two"],
        title="ZZ Upload Title",
        creation_date="D:20240102030405Z",
    )
    status, resp = _post_pdf(
        base + "/indices/main/file", pdf,
        headers={"file": "docs/upload_me.pdf", "date": "999"},
    )
    assert status == 200
    assert resp["title"] == "ZZ Upload Title"
    assert resp["url"] == "docs/upload_me.pdf"
    assert resp["date"] == 1704164645
    docid = resp["docid"]

    # searchable immediately (realtime level-0, pre-commit)
    _s, r = _post(
        base + "/indices/main/query", {"query": "zzpdfgamma", "top_k": 5}
    )
    assert [x["docid"] for x in r["results"]] == [docid]

    # download round-trips the original bytes
    with urllib.request.urlopen(
        base + f"/indices/main/file/{docid}", timeout=120
    ) as resp2:
        assert resp2.status == 200
        assert resp2.headers["Content-Type"] == "application/pdf"
        assert resp2.read() == pdf

    # survives commit
    _post(base + "/indices/main/commit", {})
    _s, r2 = _post(
        base + "/indices/main/query", {"query": "zzpdfalpha", "top_k": 5}
    )
    assert [x["docid"] for x in r2["results"]] == [docid]

    # missing file -> 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            base + "/indices/main/file/99999999", timeout=120
        ).read()
    assert ei.value.code == 404

    # undecodable payload -> 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_pdf(base + "/indices/main/file", b"%PDF-1.4 not really")
    assert ei.value.code == 400


def test_pdf_file_title_fallback_over_http(spark, writable_served):
    """No /Info dictionary: title falls back to the first substantial
    line; no parseable date: the `date` header timestamp is used."""
    from seekstorm_spark.sources.pdf import build_pdf

    base, _store = writable_served
    pdf = build_pdf(["\n \nZZ Fallback Heading\nzzpdffall body"])
    _s, resp = _post_pdf(
        base + "/indices/main/file", pdf,
        headers={"file": "some_dir/report_final.pdf", "date": "1234"},
    )
    assert resp["title"] == "ZZ Fallback Heading"
    assert resp["date"] == 1234


def test_pdf_file_read_only_rejected(served):
    from seekstorm_spark.sources.pdf import build_pdf

    base, _store = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_pdf(base + "/indices/main/file", build_pdf(["x y"]))
    assert ei.value.code == 403


def _sorted_rows(path: str, keys: list[str]) -> list[dict]:
    import os

    import pyarrow.dataset as pads

    if not os.path.exists(path):
        return []
    table = pads.dataset(path, partitioning="hive").to_table()
    return table.sort_by([(k, "ascending") for k in keys]).to_pylist()


def test_post_docs_stages_like_a_dataframe_batch(spark, tmp_path):
    """POST /docs stages its body as a driver-side Arrow table: a
    faceted, multi-field batch stages the same rows as ``stage_batch``
    of the same documents as a Spark DataFrame."""
    import shutil

    import pandas as pd

    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.streaming.incremental import StagedBatch, stage_batch

    seed = spark.createDataFrame(
        [
            (0, "alpha beta", "first title", "en", ["x", "y"], 1.5),
            (1, "beta gamma beta", "second", "de", ["y"], 3.0),
            (2, "gamma delta", None, "en", [], None),
        ],
        "doc_id long, text string, title string, lang string, "
        "tags array<string>, stars double",
    )
    served_path, frame_path = str(tmp_path / "served"), str(tmp_path / "frame")
    IndexBuilder(
        spark, served_path, n_buckets=4, block_size=256,
        fields=["text", "title"], facet_cols=["lang", "tags", "stars"],
    ).build(seed, text_col="text", id_col="doc_id")
    shutil.copytree(served_path, frame_path)
    docs = [
        {"text": "beta epsilon", "title": "new one", "lang": "de",
         "tags": ["x"], "stars": 2},
        {"text": "zeta alpha alpha", "title": None, "lang": None,
         "tags": ["y", "x"], "stars": 4.5},
        {"text": "", "title": "only title gamma", "lang": "en",
         "tags": [], "stars": None},
    ]
    srv, _t = serve_in_thread(
        spark, {"f": served_path}, port=0, writable=True
    )
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        status, resp = _post(base + "/indices/f/docs", {"documents": docs})
    finally:
        srv.shutdown()
    assert status == 200 and resp["staged"] == 3
    served = StagedBatch.load(f"{served_path}/_staging/batch_0")
    frame = stage_batch(
        spark, IndexStore.open(frame_path),
        spark.createDataFrame(pd.DataFrame(docs)), batch_id=0,
    )
    manifest = ("batch_n", "batch_pos_sum", "next_docid")
    assert [getattr(served, k) for k in manifest] == [
        getattr(frame, k) for k in manifest
    ]
    for table, keys in (
        ("postings", ["tbucket", "block_id", "term", "field"]),
        ("term_stats", ["tbucket", "term"]),
        ("doc_meta", ["docid", "field"]),
        ("facets", ["facet", "block_id"]),
    ):
        got = _sorted_rows(f"{served.stage_path}/{table}", keys)
        assert got and got == _sorted_rows(f"{frame.stage_path}/{table}", keys), table


def _request(base, method, path, body=None, token=None):
    """(status, JSON reply) of one request; error statuses included."""
    headers = {"Authorization": f"Bearer {token}"} if token else {}
    data = body if isinstance(body, bytes) else (
        None if body is None else json.dumps(body).encode()
    )
    req = urllib.request.Request(
        base + path, data=data, headers=headers, method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_vector_query_after_clear_and_recreate(spark, tmp_path):
    """A clear, or a drop and re-create of the same name, forgets the
    cached vector index with the rest of the index's serving state:
    a vector query then answers 400 "no vector index", not a 500 over
    the deleted ann/ files."""
    import numpy as np

    from seekstorm_spark.functions.simsearch import AnnIndex

    root = tmp_path / "root"
    path = str(root / "v")
    IndexBuilder(spark, path, n_buckets=2).build(
        synth_webtext(spark, 40, seed=7), text_col="text"
    )
    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    vector_query = {"query": "", "search_mode": "vector",
                    "query_vector": [1.0] * 8, "top_k": 3}
    srv, _t = serve_in_thread(
        spark, {"v": path}, port=0, writable=True, index_root=str(root)
    )
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        AnnIndex.build(spark, vecs, path + "/ann", n_planes=4)
        status, resp = _request(base, "POST", "/indices/v/query", vector_query)
        assert status == 200 and resp["results"]
        assert _request(base, "POST", "/indices/v/clear", {})[0] == 200
        status, resp = _request(base, "POST", "/indices/v/query", vector_query)
        assert status == 400 and "no vector index" in resp["error"]

        AnnIndex.build(spark, vecs, path + "/ann", n_planes=4)
        assert _request(base, "POST", "/indices/v/query", vector_query)[0] == 200
        assert _request(base, "DELETE", "/indices/v")[0] == 200
        assert _request(base, "POST", "/indices", {"name": "v"})[0] == 200
        status, resp = _request(base, "POST", "/indices/v/query", vector_query)
        assert status == 400 and "no vector index" in resp["error"]
    finally:
        srv.shutdown()


def test_highlights_unknown_field_without_hits(served):
    """Highlight fields are checked before any row is read, so an
    unknown field is a 400 even when the query matches nothing."""
    base, _store = served
    for query in ("term00000", "zzznohit"):
        status, resp = _request(
            base, "POST", "/indices/main/query",
            {"query": query, "top_k": 2, "highlights": [{"field": "nope"}]},
        )
        assert status == 400 and "no field 'nope'" in resp["error"], query


def _route_url(pattern: str, name: str) -> str:
    """An example path for a ``_ROUTES`` pattern on index ``name``."""
    path = pattern.strip("^$").replace("([^/]+)", name, 1)
    return path.replace("([^/]+)", "term00000").replace(r"(\d+)", "1")


# POST/PUT routes that change no index; every other non-GET route is a
# write route and must be refused on a read-only server
_NON_GET_READS = {"query", "count", "query_batch", "iterator"}


@pytest.fixture(scope="module")
def gated(spark, tmp_path_factory):
    """Read-only server with an admin key over an open index and one
    protected by an API key."""
    from seekstorm_spark.server import set_api_key

    base = tmp_path_factory.mktemp("gated")
    paths = {n: str(base / n) for n in ("open", "sec")}
    for p in paths.values():
        IndexBuilder(spark, p, n_buckets=2).build(
            synth_webtext(spark, 30, seed=13), text_col="text"
        )
    set_api_key(paths["sec"], "sec-key")
    srv, _t = serve_in_thread(spark, paths, port=0, admin_key="adm")
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.mark.parametrize(
    "method,pattern,op",
    [(m, p.pattern, op) for m, p, op in _ROUTES],
    ids=[f"{m}-{p.pattern.strip('^$')}" for m, p, _op in _ROUTES],
)
def test_route_gates(gated, method, pattern, op):
    """Walk every route: on a key-protected index each route that names
    an index answers 401 without a bearer token (apikey CRUD: without
    the admin key), and on a read-only server each write route answers
    403 once past auth."""
    from seekstorm_spark.sources.pdf import build_pdf

    routed = [
        o for m, p, o in _ROUTES
        if m == method and p.match(_route_url(pattern, "sec"))
    ]
    assert routed[0] == op
    body = build_pdf(["gate check"]) if op == "index_file" else {
        "query": "term00000", "queries": ["term00000"], "name": "n",
        "documents": [{"text": "x"}], "old_docids": [1], "docids": [1],
        "synonyms": [], "key": "k",
    }
    if re.compile(pattern).groups:
        status, resp = _request(
            gated, method, _route_url(pattern, "sec"), body
        )
        assert status == 401, resp
    if method != "GET" and op not in _NON_GET_READS:
        status, resp = _request(
            gated, method, _route_url(pattern, "open"), body, token="adm"
        )
        assert status == 403 and "writable=True" in resp["error"], resp


def test_key_changes_wait_for_commits(spark, tmp_path):
    """apikey set runs under the write rule, so it never interleaves
    with a commit's meta.json rewrite: after concurrent commits and key
    rotations the meta on disk holds every committed doc and the key
    the service serves."""
    import hashlib
    import sys
    import threading

    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.server import IndexService

    path = str(tmp_path / "idx")
    IndexBuilder(spark, path, n_buckets=2).build(
        synth_webtext(spark, 20, seed=3), text_col="text"
    )
    svc = IndexService(spark, {"i": path}, writable=True, admin_key="adm")
    keys = [f"key{i}" for i in range(30)]
    errors = []

    def commits(worker):
        for i in range(3):
            svc.add_docs("i", {"documents": [{"text": f"zz{worker} {i}"}]})
            svc.commit("i")

    def rotations(worker):
        for k in keys[worker::3]:
            svc.set_key("i", {"key": k})

    def run(fn, worker):
        try:
            fn(worker)
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(fn, w))
        for fn, n in ((commits, 2), (rotations, 3)) for w in range(n)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    on_disk = IndexStore.open(path).meta
    assert on_disk["n_docs"] == 20 + 2 * 3
    served = svc.stores["i"].meta["api_key_sha256"]
    assert on_disk["api_key_sha256"] == served
    assert served in {hashlib.sha256(k.encode()).hexdigest() for k in keys}
