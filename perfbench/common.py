"""Shared plumbing: checkout paths, pinned environment, fixture cache
keys, host-noise probes, process-tree memory sampling and a tiny HTTP
client."""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
PKG = os.path.join(ROOT, "seekstorm_spark")
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
HERE = os.path.dirname(os.path.abspath(__file__))

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "3g"  # pinned JVM heap (session.py defaults to 48g)
CORPUS_SEED = 42  # fixture corpus; the run seed drives every other input


def require_checkout() -> None:
    """The benchmark builds the engine from this checkout's sources; a
    directory without them cannot be measured."""
    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        sys.stderr.write(
            f"perfbench: no seekstorm_spark/ package under {ROOT}; run from "
            "the root of a source checkout\n"
        )
        raise SystemExit(2)


def bench_env() -> dict[str, str]:
    """Environment for every process the benchmark starts (and for
    this one): the checkout on PYTHONPATH, Spark pinned to this host's
    cores, and all scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
        ),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SEEKSTORM_SESSION_WARMUP="1",
    )
    return env


def apply_env() -> None:
    os.environ.update(bench_env())
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(kind: str, eventlog_dir: str | None = None) -> dict[str, str]:
    """Session settings on top of ``get_spark``'s defaults. ``build``
    mirrors bench.py's timed build (4 MB scan splits, 4 shuffle
    partitions per core); ``serve`` mirrors its query session (AQE
    off: per-stage re-planning costs more than it saves on point
    queries)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -Xms = spark.driver.memory pins the whole heap up front, and
        # pre-touching it keeps peak RSS from tracking how much of the
        # heap the collector happened to reach before the peak
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if kind == "build":
        conf["spark.sql.files.maxPartitionBytes"] = str(4 * 1024 * 1024)
        conf["spark.sql.files.openCostInBytes"] = str(256 * 1024)
    else:
        conf["spark.sql.adaptive.enabled"] = "false"
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + eventlog_dir
        conf["spark.eventLog.logStageExecutorMetrics"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def shuffle_partitions(kind: str) -> int:
    return CPUS * 4 if kind == "build" else max(CPUS, 8)


def source_hash() -> str:
    """Digest of every engine source file: a change to the index
    format (or anything else) invalidates cached fixtures."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(PKG):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, PKG).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- host noise -------------------------------------------------------------


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7] if len(vals) > 7 else 0


class HostNoise:
    """Hypervisor steal and CPU busy share between two points."""

    def __init__(self):
        self.start = cpu_jiffies()

    def read(self) -> dict[str, float]:
        t1, i1, s1 = cpu_jiffies()
        t0, i0, s0 = self.start
        dt = max(t1 - t0, 1)
        return {
            "steal_pct": 100.0 * (s1 - s0) / dt,
            "busy_share": (dt - (i1 - i0) - (s1 - s0)) / dt,
        }


# --- memory -----------------------------------------------------------------


def _tree(root_pid: int) -> list[tuple[int, str]]:
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(name)
        rpar = raw.rfind(")")
        comm[pid] = raw[raw.find("(") + 1 : rpar]
        ppid = int(raw[rpar + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in comm:
            out.append((pid, comm[pid]))
        todo.extend(children.get(pid, ()))
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it (forked Python workers share most of
    theirs, so plain RSS would count them once per worker)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _rss_mb(pid: int) -> float:
    """Resident set size from the kernel's counters (no page walk)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Samples the summed resident memory of a process tree (RSS of the
    Spark JVM, PSS of the Python driver and workers) every ``period`` s
    on a thread; keeps peaks."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_total = 0.0
        self.peak_jvm = 0.0
        self.peak_python = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def sample(self) -> None:
        jvm = py = 0.0
        for pid, comm in _tree(self.root_pid):
            # the JVM shares no pages with the rest of the tree, and a
            # PSS read walks its page tables under its memory-map lock:
            # every 0.1 s, that slowed JVM start-up by seconds. Other
            # processes (the JVM's short-lived spawn helpers, which share
            # its memory map) are not counted.
            if comm == "java":
                jvm += _rss_mb(pid)
            elif comm.startswith("python"):
                py += _pss_mb(pid)
        self.peak_total = max(self.peak_total, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)


# --- stats ------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


# --- HTTP -------------------------------------------------------------------


def http_call(
    port: int,
    method: str,
    path: str,
    body: dict | None = None,
    req_id: str | None = None,
    timeout: float = 120.0,
) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        headers = {"Content-Type": "application/json"}
        if req_id is not None:
            headers["X-Request-Id"] = req_id
        raw = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, body=raw, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        try:
            payload = json.loads(data) if data else None
        except ValueError:
            payload = None
        return resp.status, payload
    finally:
        conn.close()
