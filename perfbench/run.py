#!/usr/bin/env python3
"""Layered benchmark for seekstorm_spark: bulk build, REST search,
batched REST search and realtime ingest.

    python3 perfbench/run.py --workload {build,serve,batch,ingest}
                             --seed N --seconds S --trace {0,1} [--smoke]
    python3 perfbench/run.py --capacity --seconds S   # closed-loop serve capacity

Run from the root of a source checkout. Every input derives from
``--seed``; the engine only ever sees the generated inputs. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A human-readable line with the
workload's own named metrics and host noise precedes it. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import select
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import inputs  # noqa: E402

SIZES = {
    "full": {
        "fixture_docs": 250_000,
        "build_docs": 24_000,
        "build_warmup_docs": 2_000,
        "batch_queries": 100,
        "ingest_docs": 1_000,
        "ingest_warmup_docs": 100,
        # open-loop rates: about 40 %, 80 % and 130 % of the closed-loop
        # capacity (--capacity) of 1.4 req/s measured on a 4-vCPU host
        "serve_rates": {"low": 0.55, "high": 1.1, "over": 1.8},
        "serve_requests": 100,
    },
    "smoke": {
        "fixture_docs": 5_000,
        "build_docs": 5_000,
        "build_warmup_docs": 1_000,
        "batch_queries": 20,
        "ingest_docs": 100,
        "ingest_warmup_docs": 20,
        "serve_rates": {"low": 1.0, "high": 2.0, "over": 3.0},
        "serve_requests": 10,
    },
}
HELDOUT_BASE = 10_000_000  # held-out doc ids: never in any corpus
LATENCY_LIMIT_S = 2.5

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}
LAYERS = {
    "builder.wall_s": "s",
    "builder.phase_cover": "ratio",
    "builder.assign_docids_s": "s",
    "builder.tokenize_s": "s",
    "builder.tokenize_arrow_bytes": "bytes",
    "builder.shuffle_rows": "count",
    "builder.shuffle_bytes": "bytes",
    "builder.posting_blocks_s": "s",
    "builder.postings_write_s": "s",
    "builder.doc_meta_s": "s",
    "builder.term_stats_s": "s",
    "builder.lineage_meta_s": "s",
    "builder.spill_bytes": "bytes",
    "builder.task_skew": "ratio",
    "builder.cpu_busy_share": "ratio",
    "engine.plan_ms": "ms",
    "engine.py4j_calls": "count",
    "engine.wait_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.scan_ms": "ms",
    "engine.kernel_ms": "ms",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.scan_rows": "count",
    "engine.scan_bytes": "bytes",
    "engine.rows_per_result": "ratio",
    "engine.shuffle_bytes": "bytes",
    "engine.staged_batches": "count",
    "result_cache.hit_share": "ratio",
    "result_cache.hit_ms": "ms",
    "result_cache.rebuild_s": "s",
    "docstore.get_ms": "ms",
    "docstore.row_groups_read": "count",
    "highlight.ms": "ms",
    "server.handler_ms": "ms",
    "server.self_ms": "ms",
    "server.transport_ms": "ms",
    "server.in_flight_max": "count",
    "server.docs_to_df_ms": "ms",
    "incremental.stage_batch_s": "s",
    "incremental.stage_jobs": "count",
    "incremental.commit_batch_s": "s",
    "session.start_s": "s",
    "store.open_s": "s",
    "server.first_query_ms": "ms",
    "mem.jvm_heap_peak_mb": "MB",
    "mem.python_rss_peak_mb": "MB",
    "trace.span_cover": "ratio",
    "trace.overhead_share": "ratio",
}


class Run:
    """Outcome bookkeeping of one benchmark run."""

    def __init__(self, args, size: dict, run_dir: str):
        self.args = args
        self.size = size
        self.dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok


# --- process handling -------------------------------------------------------


def _reap_group(pgid: int, timeout: float = 20.0) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            return
        time.sleep(0.2)


class Child:
    """A benchmark subprocess in its own process group, with its
    process-tree RSS sampled while it lives."""

    def __init__(self, cmd: list[str], log_path: str):
        self.log = open(log_path, "wb")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd,
            stdout=subprocess.PIPE,
            stderr=self.log,
            env=common.bench_env(),
            cwd=common.ROOT,
            start_new_session=True,
        )
        self.rss = common.RssSampler(self.proc.pid).__enter__()

    def wait_line(self, prefix: str, timeout: float) -> str:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            ready, _, _ = select.select([self.proc.stdout], [], [], 1.0)
            if ready:
                line = self.proc.stdout.readline().decode()
                if not line:
                    break
                if line.startswith(prefix):
                    return line[len(prefix) :].strip()
            elif self.proc.poll() is not None:
                break
        raise RuntimeError(f"{prefix!r} never came; see {self.log.name}")

    def stop(self, grace: float = 90.0) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
        self.rss.__exit__()
        _reap_group(self.proc.pid)
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()


class Server(Child):
    def __init__(self, run: Run, index: str, writable: bool = False):
        cmd = [sys.executable, os.path.join(common.HERE, "launcher.py")]
        cmd += ["--index", index]
        if writable:
            cmd.append("--writable")
        self.trace_dir = os.path.join(run.dir, "trace") if run.args.trace else None
        if self.trace_dir:
            cmd += ["--trace", common.fresh_dir(self.trace_dir)]
        super().__init__(cmd, os.path.join(run.dir, "server.log"))
        port, _, timings = self.wait_line("PORT ", 170).partition(" ")
        self.port = int(port)
        self.timings = json.loads(timings)

    def call(self, method, path, body=None, rid=None):
        return common.http_call(self.port, method, path, body, rid)


# --- fixture ----------------------------------------------------------------


def ensure_fixture(size: dict) -> tuple[str, dict]:
    """Fixture dir keyed on the engine source hash, corpus seed and
    size; stale fixtures (older sources) are deleted."""
    src = common.source_hash()
    key = f"fixture-{src}-s{common.CORPUS_SEED}-n{size['fixture_docs']}"
    path = os.path.join(common.CACHE, key)
    done = os.path.join(path, "fixture.json")
    if not os.path.exists(done):
        os.makedirs(common.CACHE, exist_ok=True)
        for old in os.listdir(common.CACHE):
            if old.startswith("fixture-") and not old.startswith(f"fixture-{src}"):
                shutil.rmtree(os.path.join(common.CACHE, old), ignore_errors=True)
        tmp = common.fresh_dir(path + ".tmp")
        with open(os.path.join(tmp, "fixture.log"), "wb") as log:
            subprocess.run(
                [
                    sys.executable,
                    os.path.join(common.HERE, "fixture.py"),
                    "--out", tmp, "--docs", str(size["fixture_docs"]),
                ],
                stdout=log, stderr=log, env=common.bench_env(),
                cwd=common.ROOT, check=True,
            )
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(done) as f:
        return path, json.load(f)


# --- result checks ----------------------------------------------------------


def ranked(results) -> bool:
    keys = [(-r["score"], r["docid"]) for r in results]
    return keys == sorted(keys) and len(results) <= 10


def same_results(got, want) -> bool:
    return [[r["docid"], r["score"]] for r in got] == want


def positive_terms(q: str) -> list[str]:
    return [
        t.strip('"+').lower()
        for t in q.split()
        if not t.startswith("-") and t.strip('"+')
    ]


def doc_has_term(doc: dict | None, terms: list[str]) -> bool:
    if not doc:
        return False
    words = set(str(doc.get("text", "")).lower().split())
    return any(t in words for t in terms)


# --- open-loop REST traffic -------------------------------------------------


# the serve mix per 20 requests: 50 % kernel /query, 20 % frequent-term
# /query (result-cache hits), 15 % kernel /query with highlight, 15 %
# GET /doc of a docid an earlier kernel request returned
SERVE_MIX = ["kernel"] * 10 + ["cache"] * 4 + ["highlight"] * 3 + ["doc"] * 3


def serve_requests(seed: int, n: int, probes: list[str], stream: int) -> list[dict]:
    """``n`` requests in the serve mix (each block of 20 is a seeded
    shuffle of SERVE_MIX); the first kernel requests carry the probes."""
    import numpy as np

    rng = np.random.default_rng([seed, 1, stream])
    gen = inputs.QueryGen(seed, common.CORPUS_SEED, HELDOUT_BASE, stream)
    out, kernels = [], 0
    while len(out) < n:
        for kind in rng.permutation(SERVE_MIX):
            if kind == "kernel":
                q = probes[kernels] if kernels < len(probes) else gen.query()[1]
                req = {"kind": kind, "query": q, "kernel_no": kernels}
                kernels += 1
            elif kind == "cache":
                req = {"kind": kind, "query": gen.frequent_term()}
            elif kind == "highlight":
                req = {"kind": kind, "query": gen.query()[1]}
            else:
                req = {
                    "kind": kind,
                    "ref": int(rng.integers(0, max(kernels, 1))),
                    "rank": int(rng.integers(0, 10)),
                }
            out.append(req)
    return out[:n]


def serve_schedule(seed: int, rate: float, n: int, probes: list[str], stream: int):
    """``n`` requests with seeded Poisson arrivals at ``rate`` req/s."""
    import numpy as np

    rng = np.random.default_rng([seed, 3, stream])
    at = np.cumsum(rng.exponential(1.0 / rate, size=n))
    reqs = serve_requests(seed, n, probes, stream)
    for req, t in zip(reqs, at):
        req["at"] = float(t)
    return reqs


def rate_summary(recs: list[dict]) -> dict:
    """One open-loop rate: latency from the scheduled send time, the
    share of requests that met the limit (a failed request misses), and
    whether the backlog grew: the last third of the requests, in
    schedule order, waited past the limit and twice as long as the
    first third."""
    lat = [r["sched_s"] * 1e3 for r in sorted(recs, key=lambda r: r["i"])]
    k = max(1, len(lat) // 3)
    first, last = common.median(lat[:k]), common.median(lat[-k:])
    late = [r["late_s"] * 1e3 for r in recs]
    return {
        "requests": len(recs),
        "p50_ms": common.median(lat),
        "p90_ms": common.pct(lat, 90),
        "within_limit_share": sum(
            r["ok"] and r["sched_s"] <= LATENCY_LIMIT_S for r in recs
        ) / len(recs),
        "backlog_grows": last > LATENCY_LIMIT_S * 1e3 and last > 2 * first,
        "generator_late_p50_ms": common.median(late),
        "generator_late_max_ms": max(late),
    }


def run_traffic(
    run: Run, srv: Server, schedule: list[dict], expected: dict, tag: str = "r"
):
    """Dispatch ``schedule`` on time to at most nproc connections;
    latency counts from the scheduled send time. Request ids are
    ``tag`` + position."""
    todo: queue.Queue = queue.Queue()
    kernel_results: dict[int, list] = {}
    recs: list[dict] = []
    lock = threading.Lock()
    probe_terms = {
        q: positive_terms(q) for q in expected
    }

    def handle(i: int, req: dict, t_sched: float) -> None:
        rid = f"{tag}{i}"
        if req["kind"] == "doc":
            with lock:
                prior = kernel_results.get(req["ref"])
            if not prior:
                prior = next(iter(expected.items()))
                prior = [(d, probe_terms[prior[0]]) for d, _s in prior[1]]
            docid, terms = prior[req["rank"] % len(prior)]
            method, path, body = "GET", f"/indices/bench/doc/{docid}", None
        else:
            method, path = "POST", "/indices/bench/query"
            body = {"query": req["query"], "top_k": 10}
            if req["kind"] == "highlight":
                body["highlight"] = True
        t_send = time.perf_counter()
        try:
            status, payload = srv.call(method, path, body, rid)
        except OSError as e:
            status, payload = 0, {"error": str(e)}
        t_done = time.perf_counter()
        ok = status == 200 and payload is not None
        n_res = 0
        if ok and req["kind"] == "doc":
            ok = doc_has_term(payload, terms)
        elif ok:
            res = payload.get("results", [])
            n_res = len(res)
            ok = ranked(res)
            if req["query"] in expected:
                ok = ok and same_results(res, expected[req["query"]])
            if req["kind"] == "cache":
                ok = ok and n_res > 0
            if req["kind"] == "highlight":
                ok = ok and all(isinstance(r.get("fragment"), str) for r in res)
            if req["kind"] == "kernel" and res:
                terms = positive_terms(req["query"])
                with lock:
                    kernel_results[req["kernel_no"]] = [
                        (r["docid"], terms) for r in res
                    ]
        with lock:
            run.op(ok, f"{req['kind']} {req.get('query', '')} -> {status}")
            recs.append(
                {
                    "rid": rid,
                    "i": i,
                    "kind": req["kind"],
                    "sched_s": t_done - t_sched,
                    "sent_s": t_done - t_send,
                    "late_s": t_send - t_sched,
                    "n_results": n_res,
                    "ok": ok,
                    "done": t_done,
                }
            )

    def worker() -> None:
        while True:
            item = todo.get()
            if item is None:
                return
            handle(*item)

    workers = [threading.Thread(target=worker) for _ in range(common.CPUS)]
    for w in workers:
        w.start()
    t0 = time.perf_counter()
    for i, req in enumerate(schedule):
        delay = t0 + req["at"] - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        todo.put((i, req, t0 + req["at"]))
    for _ in workers:
        todo.put(None)
    for w in workers:
        w.join()
    return recs, t0


# --- workloads --------------------------------------------------------------


def side_requests(probes: dict, highlight: bool) -> list[dict]:
    """Two ``GET /doc`` reads of a probe's expected hits and, with
    ``highlight``, a highlighted probe query, all due at once. Only
    traced runs highlight: the query feeds ``highlight.ms`` and would
    add seconds to every untimed prelude."""
    reqs = [{"kind": "doc", "ref": -1, "rank": r, "at": 0.0} for r in (0, 1)]
    if highlight:
        reqs.append({"kind": "highlight", "query": list(probes)[1], "at": 0.0})
    return reqs


def first_query(run: Run, srv: Server, query: str, want=None) -> float:
    """Setup ends when the server answers its first query."""
    status, payload = srv.call(
        "POST", "/indices/bench/query", {"query": query, "top_k": 10}, "setup"
    )
    done = time.perf_counter()
    ok = status == 200 and ranked(payload.get("results", []))
    if want is not None and ok:
        ok = same_results(payload["results"], want)
    run.op(ok, f"first query -> {status}")
    return done - srv.t0


def wl_serve(run: Run) -> None:
    path, fx = ensure_fixture(run.size)
    probes = fx["probes"]
    first = next(iter(probes))
    rates = run.size["serve_rates"]
    srv = Server(run, os.path.join(path, "index"))
    recs: list[dict] = []
    try:
        noise = common.HostNoise()
        run.e2e["setup_s"] = first_query(run, srv, first, probes[first])
        # untimed warm-up: the first highlight and doc-store reads
        # pay one-off costs (imports, parquet footers)
        warm = [
            {"kind": "cache", "query": inputs.FREQUENT_TERMS[0]},
            {"kind": "highlight", "query": list(probes)[1]},
            {"kind": "doc", "ref": -1, "rank": 0},
        ]
        for req in warm:
            req["at"] = 0.0
        run_traffic(run, srv, warm, probes, tag="warm")
        # each rate drains before the next starts; at full size each
        # sends at least 100 requests, so its p90 has 10 samples beyond it
        ok_rates, served_rps = [], 0.0
        for stream, (name, rate) in enumerate(rates.items()):
            n = max(run.size["serve_requests"], int(rate * run.args.seconds))
            schedule = serve_schedule(run.args.seed, rate, n, list(probes), stream)
            got, t0 = run_traffic(run, srv, schedule, probes, tag=name)
            recs += got
            summary = rate_summary(got)
            run.detail.update({f"serve_{name}_{k}": v for k, v in summary.items()})
            run.detail[f"serve_{name}_rps"] = rate
            if summary["within_limit_share"] >= 0.9 and not summary["backlog_grows"]:
                ok_rates.append(rate)
            # left at the last, highest (overload) rate
            served_rps = sum(r["ok"] for r in got) / (max(r["done"] for r in got) - t0)
        run.detail["serve_max_rps"] = max(ok_rates, default=0.0)
        run.detail.update(noise.read())
        run.e2e["latency_p50_ms"] = run.detail["serve_low_p50_ms"]
        run.e2e["throughput_per_s"] = served_rps
    finally:
        srv.stop()
    run.e2e["peak_rss_mb"] = srv.rss.peak_total
    run.detail.update(rss_jvm_mb=srv.rss.peak_jvm, rss_python_mb=srv.rss.peak_python)
    if srv.trace_dir:
        import layers

        run.layers.update(layers.server_layers(srv, recs, run.detail))


def wl_batch(run: Run) -> None:
    import numpy as np

    path, fx = ensure_fixture(run.size)
    probes = fx["probes"]
    first = next(iter(probes))
    gen = inputs.QueryGen(run.args.seed, common.CORPUS_SEED, HELDOUT_BASE)
    rng = np.random.default_rng([run.args.seed, 2])
    probe_list = list(probes)
    srv = Server(run, os.path.join(path, "index"))
    recs = []
    try:
        noise = common.HostNoise()
        run.e2e["setup_s"] = first_query(run, srv, first, probes[first])
        side_reqs = side_requests(probes, bool(run.args.trace))
        side_recs, _t0 = run_traffic(run, srv, side_reqs, probes, tag="side")
        # batch -1 is an untimed warm-up: the first fused action in a
        # fresh session runs cold (JIT, Python worker imports)
        start = time.perf_counter()
        i = -1
        while time.perf_counter() - start < run.args.seconds or len(recs) < 2:
            qs = gen.batch(run.size["batch_queries"])
            # two probe queries per batch: batched ≡ single-query results
            for _ in range(2):
                qs[int(rng.integers(0, len(qs)))] = probe_list[
                    int(rng.integers(0, len(probe_list)))
                ]
            rid = f"b{i}"
            t = time.perf_counter()
            status, payload = srv.call(
                "POST", "/indices/bench/query_batch",
                {"queries": qs, "top_k": 10}, rid,
            )
            dt = time.perf_counter() - t
            ok = status == 200 and len(payload.get("results", [])) == len(qs)
            n_res = 0
            if ok:
                for q, res in zip(qs, payload["results"]):
                    n_res += len(res)
                    good = ranked(res) and (
                        q not in probes or same_results(res, probes[q])
                    )
                    ok = run.op(good, f"batch query {q}") and ok
            else:
                run.op(False, f"query_batch -> {status}")
            recs.append(
                {"rid": rid, "kind": "batch", "sent_s": dt, "sched_s": dt,
                 "n_results": n_res, "n_queries": len(qs), "ok": ok}
            )
            if i < 0:
                start = time.perf_counter()
            i += 1
        recs = recs[1:]
        wall = time.perf_counter() - start
        run.e2e["latency_p50_ms"] = common.median([r["sent_s"] * 1e3 for r in recs])
        run.e2e["throughput_per_s"] = sum(r["n_queries"] for r in recs) / wall
        run.detail.update(
            batch_qps=run.e2e["throughput_per_s"],
            batch_ms=[round(r["sent_s"] * 1e3) for r in recs],
            **noise.read(),
        )
    finally:
        srv.stop()
    run.e2e["peak_rss_mb"] = srv.rss.peak_total
    run.detail.update(rss_jvm_mb=srv.rss.peak_jvm, rss_python_mb=srv.rss.peak_python)
    if srv.trace_dir:
        import layers

        run.layers.update(layers.server_layers(srv, recs + side_recs, run.detail))


def wl_ingest(run: Run) -> None:
    path, fx = ensure_fixture(run.size)
    index = os.path.join(run.dir, "index")
    shutil.copytree(os.path.join(path, "index"), index)  # a fresh copy per run
    gen = inputs.QueryGen(run.args.seed, common.CORPUS_SEED, HELDOUT_BASE)
    n_docs = run.size["ingest_docs"]
    base = HELDOUT_BASE + 5_000_000 + run.args.seed * 100_000
    srv = Server(run, index, writable=True)
    recs: list[dict] = []
    seq = iter(range(1 << 30))

    def call(kind, method, route, body=None, **extra):
        rid = f"{kind[0]}{next(seq)}"
        t = time.perf_counter()
        status, payload = srv.call(method, f"/indices/bench/{route}", body, rid)
        dt = time.perf_counter() - t
        rec = {"rid": rid, "kind": kind, "sent_s": dt, "sched_s": dt,
               "status": status, "payload": payload, **extra}
        recs.append(rec)
        return rec

    def rt_query(q, pending):
        rec = call("rtquery", "POST", "query", {"query": q, "top_k": 10},
                   staged=pending)
        res = (rec["payload"] or {}).get("results")
        rec["n_results"] = len(res or [])
        run.op(rec["status"] == 200 and res is not None and ranked(res),
               f"realtime query {q} -> {rec['status']}")
        return res

    def cycle(first_id: int, n: int) -> None:
        """Stage ``n`` held-out docs, query them, commit, and repeat the
        query: staged ≡ committed."""
        docs = [inputs.doc(common.CORPUS_SEED, first_id + j) for j in range(n)]
        rec = call("docs", "POST", "docs", {"documents": docs})
        staged = rec["payload"] or {}
        run.op(rec["status"] == 200 and staged.get("staged") == n,
               f"/docs -> {rec['status']} {staged}")
        q = gen.query()[1]
        before = rt_query(q, staged.get("pending_batches", 1))
        rec = call("commit", "POST", "commit")
        run.op(rec["status"] == 200, f"/commit -> {rec['status']}")
        after = rt_query(q, 0)
        run.op(before == after, f"staged != committed for {q}")

    try:
        noise = common.HostNoise()
        first = next(iter(fx["probes"]))
        run.e2e["setup_s"] = first_query(run, srv, first, fx["probes"][first])
        # untimed: doc-store reads (and, traced, a highlighted probe)
        # keep the doc store and highlighter checked in this workload
        side_reqs = side_requests(fx["probes"], bool(run.args.trace))
        side, _t0 = run_traffic(run, srv, side_reqs, fx["probes"], tag="side")
        # untimed warm-up cycle of a small batch (ids just below the
        # timed ones): the first /docs and /commit of a fresh server
        # pay one-off costs, and ran up to twice as long as later ones
        n_warm = run.size["ingest_warmup_docs"]
        cycle(base - n_warm, n_warm)
        recs.clear()
        start = time.perf_counter()
        batches = 0
        # timed cycles until --seconds pass; at least one
        while time.perf_counter() - start < run.args.seconds or not batches:
            cycle(base + batches * n_docs, n_docs)
            batches += 1
        docs_recs = [r for r in recs if r["kind"] == "docs"]
        commit_recs = [r for r in recs if r["kind"] == "commit"]
        write_s = sum(r["sent_s"] for r in docs_recs + commit_recs)
        vis = [r["sent_s"] * 1e3 for r in docs_recs]
        rtq = [r["sent_s"] * 1e3 for r in recs
               if r["kind"] == "rtquery" and r["staged"]]
        run.e2e["latency_p50_ms"] = common.median(vis)
        run.e2e["throughput_per_s"] = batches * n_docs / write_s
        run.detail.update(
            ingest_docs_per_s=run.e2e["throughput_per_s"],
            ingest_visible_p50_ms=common.median(vis),
            ingest_query_p50_ms=common.median(rtq),
            ingest_commit_p50_ms=common.median(
                [r["sent_s"] * 1e3 for r in commit_recs]
            ),
            batches=batches,
            docs_ms=[round(v) for v in vis],
            commit_ms=[round(r["sent_s"] * 1e3) for r in commit_recs],
            rtquery_ms=[round(v) for v in rtq],
            **noise.read(),
        )
    finally:
        srv.stop()
    run.e2e["peak_rss_mb"] = srv.rss.peak_total
    run.detail.update(rss_jvm_mb=srv.rss.peak_jvm, rss_python_mb=srv.rss.peak_python)
    if srv.trace_dir:
        import layers

        for r in recs:
            r.pop("payload", None)
            r["ok"] = r.pop("status") == 200
        run.layers.update(layers.server_layers(srv, recs + side, run.detail))


def wl_build(run: Run) -> None:
    # the first run in a checkout, whatever its workload, builds the
    # serving fixture, so no later run pays for it
    ensure_fixture(run.size)
    cmd = [
        sys.executable, os.path.join(common.HERE, "buildrun.py"),
        "--dir", run.dir, "--seed", str(run.args.seed),
        "--docs", str(run.size["build_docs"]),
        "--warmup-docs", str(run.size["build_warmup_docs"]),
        "--seconds", str(run.args.seconds),
    ]
    if run.args.trace:
        cmd.append("--trace")
    child = Child(cmd, os.path.join(run.dir, "build.log"))
    try:
        child.wait_line("READY", 170)
        run.e2e["setup_s"] = time.perf_counter() - child.t0
        child.proc.wait(timeout=170)
    finally:
        child.stop()
    with open(os.path.join(run.dir, "result.json")) as f:
        res = json.load(f)
    warm, builds = res["builds"][0], res["builds"][1:]
    n = run.size["build_docs"]
    n_warm = run.size["build_warmup_docs"]
    run.op(warm["n_docs"] == n_warm, f"warm-up n_docs {warm['n_docs']} != {n_warm}")
    digests = {b["digest"] for b in builds}
    # the same corpus must give the same index content on every build,
    # in this run and in any earlier run of this checkout's sources
    known = os.path.join(
        common.CACHE, f"digest-{common.source_hash()}-s{run.args.seed}-n{n}"
    )
    if os.path.exists(known):
        with open(known) as f:
            digests.add(f.read().strip())
    elif len(digests) == 1:
        os.makedirs(common.CACHE, exist_ok=True)
        with open(known, "w") as f:
            f.write(next(iter(digests)))
    for b in builds:
        run.op(b["n_docs"] == n, f"build n_docs {b['n_docs']} != {n}")
    run.op(len(digests) == 1, f"build digests differ: {sorted(digests)}")
    walls = [b["wall_s"] for b in builds]
    run.e2e["latency_p50_ms"] = common.median(walls) * 1e3
    run.e2e["throughput_per_s"] = n / common.median(walls)
    run.e2e["peak_rss_mb"] = child.rss.peak_total
    run.detail.update(
        build_docs_per_s=run.e2e["throughput_per_s"],
        index_bytes_per_text_byte=builds[-1]["index_bytes"] / res["text_bytes"],
        build_ms=[round(w * 1e3) for w in walls],
        warmup_build_ms=round(warm["wall_s"] * 1e3),
        steal_pct=max(b["steal_pct"] for b in res["builds"]),
        busy_share=common.median([b["busy_share"] for b in builds]),
        rss_jvm_mb=child.rss.peak_jvm,
        rss_python_mb=child.rss.peak_python,
    )
    if run.args.trace:
        import layers

        run.layers.update(layers.build_layers(run, res, child))


WORKLOADS = {
    "build": wl_build,
    "serve": wl_serve,
    "batch": wl_batch,
    "ingest": wl_ingest,
}


def capacity(args, size: dict) -> None:
    """Closed-loop serve capacity: nproc clients, the serve mix, no
    think time. Used to freeze the open-loop rate."""
    run_dir = common.fresh_dir(os.path.join(common.WORK, "runs", "capacity"))
    run = Run(args, size, run_dir)
    path, fx = ensure_fixture(size)
    probes = fx["probes"]
    sched = serve_schedule(args.seed, 100.0, 10_000, [], 0)
    srv = Server(run, os.path.join(path, "index"))
    try:
        first_query(run, srv, next(iter(probes)))
        # closed loop: every request is due immediately
        for r in sched:
            r["at"] = 0.0
        stop_at = time.perf_counter() + args.seconds
        done = []

        def client(k):
            i = k
            while time.perf_counter() < stop_at:
                req = sched[i]
                i += common.CPUS
                if req["kind"] == "doc":
                    srv.call("GET", "/indices/bench/doc/1")
                else:
                    srv.call("POST", "/indices/bench/query",
                             {"query": req["query"], "top_k": 10,
                              "highlight": req["kind"] == "highlight"})
                done.append(time.perf_counter())

        ts = [threading.Thread(target=client, args=(k,)) for k in range(common.CPUS)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        print(json.dumps({"capacity_rps": len(done) / (max(done) - t0)}))
    finally:
        srv.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: every workload in seconds")
    ap.add_argument("--capacity", action="store_true")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so every ``finally`` stops the
    # Spark processes this run started
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    common.require_checkout()
    common.apply_env()
    size = SIZES["smoke" if args.smoke else "full"]
    if args.capacity:
        capacity(args, size)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    run_dir = common.fresh_dir(
        os.path.join(common.WORK, "runs", f"{args.workload}-{os.getpid()}")
    )
    run = Run(args, size, run_dir)
    try:
        WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    import layers

    if args.trace:
        run.layers["trace.overhead_share"] = layers.overhead_share(
            args.workload, run.e2e["latency_p50_ms"]
        )
        metrics = {k: run.layers.get(k, 0.0) for k in LAYERS}
        units = LAYERS
    else:
        metrics = run.e2e
        units = E2E
        layers.remember_untraced(args.workload, run.e2e)
    for k in units:
        if not math.isfinite(float(metrics.get(k, float("nan")))):
            run.op(False, f"metric {k} not measured")
            metrics[k] = 0.0
    human = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": common.CPUS,
        "driver_mem": common.DRIVER_MEM,
        **run.detail,
    }
    if run.problems:
        human["problems"] = run.problems
    print(json.dumps(human))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
