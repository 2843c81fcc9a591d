"""Per-layer metrics of a traced run: spans (tracing.py) joined with
Spark's event log, plus the tracing-overhead estimate."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import common
import tracing

HISTORY = 20


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _history_path(workload: str) -> str:
    return os.path.join(
        common.CACHE, f"untraced-{workload}-{common.source_hash()}.json"
    )


def remember_untraced(workload: str, e2e: dict) -> None:
    """Keep the latest untraced latencies so a traced run of the same
    sources can report its overhead against them."""
    path = _history_path(workload)
    try:
        with open(path) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        hist = []
    hist = (hist + [e2e["latency_p50_ms"]])[-HISTORY:]
    os.makedirs(common.CACHE, exist_ok=True)
    with open(path, "w") as f:
        json.dump(hist, f)


def overhead_share(workload: str, traced_latency_ms: float) -> float:
    """Traced minus untraced median latency, as a share of untraced
    (0 until an untraced run of these sources has been recorded)."""
    try:
        with open(_history_path(workload)) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        return 0.0
    base = common.median(hist)
    return traced_latency_ms / base - 1.0 if base > 0 else 0.0


def _spark_by_group(el: dict):
    """job group → list of (job, its tasks) and per-stage input flag."""
    tasks_by_job = defaultdict(list)
    for t in el["tasks"]:
        tasks_by_job[t["job"]].append(t)
    scan_stage = {t["stage"] for t in el["tasks"] if t["in_bytes"] > 0}
    groups = defaultdict(list)
    for jid, job in el["jobs"].items():
        groups[job.get("group")].append((job, tasks_by_job.get(jid, [])))
    return groups, scan_stage


def server_layers(srv, recs: list[dict], detail: dict) -> dict[str, float]:
    with open(os.path.join(srv.trace_dir, "spans.json")) as f:
        data = json.load(f)
    spans = data["spans"]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def outer(span, name):
        """Outermost spans called ``name`` below ``span``."""
        out, todo = [], list(children[span["id"]])
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            else:
                todo.extend(children[s["id"]])
        return out

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    el = tracing.read_eventlog(os.path.join(srv.trace_dir, "eventlog"))
    groups, scan_stage = _spark_by_group(el)
    handlers = {s["rid"]: s for s in spans if s["name"] == "server.handler"}

    rows = []
    for rec in recs:
        h = handlers.get(rec["rid"])
        if h is None:
            continue
        plans = outer(h, "engine.plan")
        execs = outer(h, "engine.exec")
        jobs = groups.get(rec["rid"], [])
        tasks = [t for _j, ts in jobs for t in ts]
        waits = [
            min(t["launch"] for t in ts) - j["submit"] for j, ts in jobs if ts
        ]
        rows.append(
            {
                "kind": rec["kind"],
                "sent_ms": rec["sent_s"] * 1e3,
                "handler_ms": (h["end"] - h["start"]) * 1e3,
                "self_ms": tracing.self_time(h, children[h["id"]]) * 1e3,
                "plan_ms": dur(plans) * 1e3,
                "py4j": sum(s["py4j"] for s in plans),
                "exec_ms": dur(execs) * 1e3,
                "docstore_ms": dur(outer(h, "docstore.get")) * 1e3,
                "row_groups": sum(
                    s.get("row_groups", 0) for s in outer(h, "docstore.get")
                ),
                "highlight_ms": dur(outer(h, "highlight")) * 1e3,
                "create_df_ms": dur(
                    [c for c in children[h["id"]] if c["name"] == "spark.create_df"]
                ) * 1e3,
                "stage_s": dur(outer(h, "incremental.stage_batch")),
                "commit_s": dur(outer(h, "incremental.commit_batch")),
                "rebuild_s": dur(outer(h, "result_cache.rebuild")),
                "jobs": len(jobs),
                "waits": waits,
                "tasks": len(tasks),
                "scan_ms": sum(t["run_ms"] for t in tasks if t["stage"] in scan_stage),
                "kernel_ms": sum(
                    t["run_ms"] for t in tasks if t["stage"] not in scan_stage
                ),
                "scan_rows": sum(t["in_rows"] for t in tasks),
                "scan_bytes": sum(t["in_bytes"] for t in tasks),
                "shuffle_bytes": sum(t["shw_bytes"] for t in tasks),
                "n_results": rec.get("n_results", 0),
                "staged": rec.get("staged", 0),
            }
        )
    # share of client latency the server-side spans cover, per request type
    for kind in sorted({r["kind"] for r in rows}):
        detail[f"span_cover_{kind}"] = common.median(
            [r["handler_ms"] / r["sent_ms"] for r in rows
             if r["kind"] == kind and r["sent_ms"] > 0]
        )
    # engine metrics describe the workload's own query requests
    q = [r for r in rows if r["kind"] == "batch"] or [
        r for r in rows if r["kind"] in ("kernel", "highlight", "rtquery")
    ]
    cache = [r for r in rows if r["kind"] == "cache"]
    docs = [r for r in rows if r["kind"] == "docs"]
    commits = [r for r in rows if r["kind"] == "commit"]
    out = {
        "engine.plan_ms": _mean(r["plan_ms"] for r in q),
        "engine.py4j_calls": _mean(r["py4j"] for r in q),
        "engine.wait_ms": _mean(w for r in q for w in r["waits"]),
        "engine.exec_ms": _mean(r["exec_ms"] for r in q),
        "engine.scan_ms": _mean(r["scan_ms"] for r in q),
        "engine.kernel_ms": _mean(r["kernel_ms"] for r in q),
        "engine.jobs": _mean(r["jobs"] for r in q),
        "engine.tasks": _mean(r["tasks"] for r in q),
        "engine.scan_rows": _mean(r["scan_rows"] for r in q),
        "engine.scan_bytes": _mean(r["scan_bytes"] for r in q),
        "engine.rows_per_result": sum(r["scan_rows"] for r in q)
        / max(1, sum(r["n_results"] for r in q)),
        "engine.shuffle_bytes": _mean(r["shuffle_bytes"] for r in q),
        "engine.staged_batches": _mean(
            r["staged"] for r in rows if r["kind"] == "rtquery"
        ),
        "result_cache.hit_share": _mean(r["jobs"] == 0 for r in cache),
        "result_cache.hit_ms": common.median(
            [r["sent_ms"] for r in cache if r["jobs"] == 0]
        ) if any(r["jobs"] == 0 for r in cache) else 0.0,
        "result_cache.rebuild_s": _mean(r["rebuild_s"] for r in commits),
        "docstore.get_ms": _mean(r["docstore_ms"] for r in rows if r["kind"] == "doc"),
        "docstore.row_groups_read": _mean(
            r["row_groups"] for r in rows if r["kind"] == "doc"
        ),
        "highlight.ms": _mean(
            r["highlight_ms"] for r in rows if r["kind"] == "highlight"
        ),
        "server.handler_ms": _mean(r["handler_ms"] for r in rows),
        "server.self_ms": _mean(r["self_ms"] for r in rows),
        "server.transport_ms": _mean(r["sent_ms"] - r["handler_ms"] for r in rows),
        "server.in_flight_max": data["in_flight_max"],
        "server.docs_to_df_ms": _mean(r["create_df_ms"] for r in docs),
        "incremental.stage_batch_s": _mean(r["stage_s"] for r in docs),
        "incremental.stage_jobs": _mean(r["jobs"] for r in docs),
        "incremental.commit_batch_s": _mean(r["commit_s"] for r in commits),
        "session.start_s": srv.timings["session_start_s"],
        "store.open_s": dur(s for s in spans if s["name"] == "store.open"),
        "server.first_query_ms": (
            handlers["setup"]["end"] - handlers["setup"]["start"]
        ) * 1e3 if "setup" in handlers else 0.0,
        "mem.jvm_heap_peak_mb": el["heap_peak_mb"],
        "mem.python_rss_peak_mb": srv.rss.peak_python,
        "trace.span_cover": common.median(
            [r["handler_ms"] / r["sent_ms"] for r in rows if r["sent_ms"] > 0]
        ),
    }
    return out


def build_layers(run, res: dict, child) -> dict[str, float]:
    timed = [b for b in res["builds"] if not b.get("warmup")]
    b = timed[0]
    ph = b["phases"]
    tok = res["noop"]["noop.tokenize"]
    pb = res["noop"]["noop.posting_blocks"]
    el = tracing.read_eventlog(os.path.join(run.dir, "eventlog"))
    # corpus writes and the warm-up build ran under "warmup." job groups
    groups, _scan = _spark_by_group(el)
    n_builds = len(timed)
    build_groups = [g for g in groups if g and (
        g.startswith("write.") or g == "builder.assign_docids")]
    post_tasks = [t for _j, ts in groups.get("write.postings", []) for t in ts]
    all_tasks = [t for g in build_groups for _j, ts in groups[g] for t in ts]
    # slowest ÷ median task of the postings job's heaviest stage
    by_stage = defaultdict(list)
    for t in post_tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    heavy = max(by_stage.values(), key=sum) if by_stage else [1]
    arrow = 0.0
    for job, _ts in groups.get("noop.tokenize", []):
        for sid in job["stages"]:
            for name, val in el["stages"].get(sid, {}).get("acc", {}).items():
                if name and "Python workers" in name:
                    try:
                        arrow += float(val)
                    except (TypeError, ValueError):
                        pass
    return {
        "builder.wall_s": b["wall_s"],
        "builder.phase_cover": ph["phase_sum_s"] / b["wall_s"],
        "builder.assign_docids_s": ph["assign_docids_s"],
        "builder.tokenize_s": tok,
        "builder.tokenize_arrow_bytes": arrow,
        "builder.shuffle_rows": sum(t["shw_rows"] for t in post_tasks) / n_builds,
        "builder.shuffle_bytes": sum(t["shw_bytes"] for t in post_tasks) / n_builds,
        "builder.posting_blocks_s": max(pb - tok, 0.0),
        "builder.postings_write_s": max(ph["postings_s"] - pb, 0.0),
        "builder.doc_meta_s": ph["doc_meta_s"],
        "builder.term_stats_s": ph["term_stats_s"],
        "builder.lineage_meta_s": ph["lineage_meta_s"],
        "builder.spill_bytes": sum(t["spill"] for t in all_tasks) / n_builds,
        "builder.task_skew": max(heavy) / max(common.median(heavy), 1e-9),
        "builder.cpu_busy_share": b["busy_share"],
        "session.start_s": run.e2e["setup_s"],
        "mem.jvm_heap_peak_mb": el["heap_peak_mb"],
        "mem.python_rss_peak_mb": child.rss.peak_python,
        "trace.span_cover": ph["phase_sum_s"] / b["wall_s"],
    }
