"""Spans recorded from outside the library, and Spark's own metrics.

The benchmark never edits engine code. In a traced run it wraps the
public names a layer is entered through (module attributes and class
methods), records one span per call (name, start, end, parent, request
id, thread, py4j round trips) in memory, and writes them out at exit.
Spark job/stage/task metrics come from the event log the traced
session writes; each span that starts Spark work tags it with a job
group equal to its request id.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.in_flight = 0
        self.in_flight_max = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "py4j": 0,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def count(self, key: str, n: int = 1) -> None:
        """Add ``n`` to ``key`` on every open span of this thread."""
        for rec in self._stack():
            rec[key] = rec.get(key, 0) + n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with self._lock:
            spans = [s for s in self.spans if "end" in s]
        with open(path, "w") as f:
            json.dump({"spans": spans, "in_flight_max": self.in_flight_max}, f)


def count_py4j(tracer: Tracer) -> None:
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command

    @functools.wraps(orig)
    def send_command(self, *args, **kwargs):
        tracer.count("py4j")
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = send_command


def _job_group(rid: str | None, label: str) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None and rid is not None:
        sc.setJobGroup(rid, label)


def install_server_wrappers(tracer: Tracer) -> None:
    """Spans around every layer a REST request passes through."""
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    import seekstorm_spark.functions.highlight as hl
    import seekstorm_spark.query.engine as engine
    import seekstorm_spark.query.result_cache as rc
    import seekstorm_spark.server as server
    import seekstorm_spark.streaming.incremental as inc
    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.query.docstore import DocStore

    count_py4j(tracer)
    orig_dispatch = server._Handler._dispatch
    counter = iter(range(1 << 62))

    def dispatch(self, method):
        rid = self.headers.get("X-Request-Id") or f"srv{next(counter)}"
        with tracer._lock:
            tracer.in_flight += 1
            tracer.in_flight_max = max(tracer.in_flight_max, tracer.in_flight)
        try:
            with tracer.span("server.handler", rid=rid, path=self.path):
                _job_group(rid, self.path)
                return orig_dispatch(self, method)
        finally:
            with tracer._lock:
                tracer.in_flight -= 1

    server._Handler._dispatch = dispatch
    # server.py binds `search` at import: wrap it there and in the engine
    tracer.wrap(server, "search", "engine.plan")
    tracer.wrap(engine, "search", "engine.plan")
    tracer.wrap(engine, "search_many", "engine.plan")
    tracer.wrap(DataFrame, "collect", "engine.exec")
    tracer.wrap(DocStore, "get", "docstore.get")
    tracer.wrap(DocStore, "get_many", "docstore.get")
    tracer.wrap(hl, "kwic_fragment_py", "highlight")
    tracer.wrap(hl, "top_fragments", "highlight")
    tracer.wrap(
        rc,
        "cached_single_term",
        "result_cache.lookup",
        on_result=lambda rec, out: rec.update(hit=out is not None),
    )
    tracer.wrap(rc, "rebuild_result_cache", "result_cache.rebuild")
    tracer.wrap(inc, "stage_batch", "incremental.stage_batch")
    tracer.wrap(inc, "commit_batch", "incremental.commit_batch")
    tracer.wrap(SparkSession, "createDataFrame", "spark.create_df")

    orig_rg = pq.ParquetFile.read_row_group

    @functools.wraps(orig_rg)
    def read_row_group(self, *args, **kwargs):
        tracer.count("row_groups")
        return orig_rg(self, *args, **kwargs)

    pq.ParquetFile.read_row_group = read_row_group

    orig_open = IndexStore.open.__func__

    def store_open(cls, path):
        with tracer.span("store.open"):
            return orig_open(cls, path)

    IndexStore.open = classmethod(store_open)


# --- Spark event log ------------------------------------------------------


def read_eventlog(directory: str) -> dict:
    """Jobs (with job group), stages, tasks and the JVM heap peak from
    every finished event log under ``directory``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    heap_peak = 0
    paths = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(directory) for f in files
    )
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {})["end"] = ev[
                        "Completion Time"
                    ]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "tasks": si.get("Number of Tasks", 0),
                        "acc": {
                            a.get("Name"): a.get("Value")
                            for a in si.get("Accumulables", [])
                        },
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    im = tm.get("Input Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": ti["Launch Time"],
                            "finish": ti["Finish Time"],
                            "run_ms": tm.get("Executor Run Time", 0),
                            "in_bytes": im.get("Bytes Read", 0),
                            "in_rows": im.get("Records Read", 0),
                            "shw_bytes": sw.get("Shuffle Bytes Written", 0),
                            "shw_rows": sw.get("Shuffle Records Written", 0),
                            "shr_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
                elif kind == "SparkListenerStageExecutorMetrics":
                    em = ev.get("Executor Metrics") or {}
                    heap_peak = max(heap_peak, int(em.get("JVMHeapMemory", 0)))
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "heap_peak_mb": heap_peak / (1 << 20),
    }


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered
