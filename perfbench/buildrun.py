"""The ``build`` workload's Spark process.

    python3 perfbench/buildrun.py --dir DIR --seed N --docs N
                                  --warmup-docs N --seconds S [--trace]

Starts a build session on all cores, prints ``READY`` once it is up,
generates two seeded corpora (untimed), runs one untimed warm-up
``IndexBuilder(...).build`` of the small one into DIR/index-0 (it pays
the costs that fall on the first build of a session: JIT, codegen,
worker imports), then builds the timed corpus into DIR/index-1, ...
while one more build fits in ``--seconds`` (at least once).
Each build is checked: n_docs equals the corpus
size and the content digest equals that of every other build of the
same corpus. Results go to DIR/result.json.

With ``--trace`` the builder's public entry points are wrapped (each
phase tags its Spark jobs with a job group), Spark's event log is
written under DIR/eventlog, and after the timed builds the tokenize
and posting-block stages are re-run into ``noop`` sinks to split the
postings phase into tokenize, posting-block and write time.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time

import common
import inputs

NGRAM_PATTERNS = ("ff", "fff")
# 16 rather than the fixture's 64 buckets: 12,000 docs in 64 buckets
# leave under 200 docs per bucket, and the per-bucket work made each
# build take 1.5x as long on a 4-vCPU host
N_BUCKETS = 16


def digest(index: str) -> str:
    """Content digest of the index tables, independent of file names
    and row order (lineage and meta carry timestamps and are left out)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    h = hashlib.sha256()
    for table in ("postings", "term_stats", "doc_meta"):
        t = ds.dataset(
            os.path.join(index, table), format="parquet", partitioning="hive"
        ).to_table()
        t = t.select(sorted(t.column_names))
        t = t.sort_by([(c, "ascending") for c in t.column_names])
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(table.encode() + sink.getvalue().to_pybytes())
    return h.hexdigest()


def disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class BuildTrace:
    """Phase spans around one ``build()`` call, from wrappers on the
    builder's module-level names and on the parquet writer."""

    def __init__(self):
        import tracing

        self.tracer = tracing.Tracer()
        # prefixed to the Spark job groups of untimed work (corpus
        # writes, the warm-up build), so the layer metrics skip it
        self.group_prefix = ""
        self._install()

    def _install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import seekstorm_spark.index.builder as builder

        tr = self.tracer

        def grouped(label):
            from pyspark import SparkContext

            label = self.group_prefix + label
            SparkContext._active_spark_context.setJobGroup(label, label)

        orig_assign = builder.assign_docids

        def assign_docids(*a, **k):
            with tr.span("builder.assign_docids"):
                grouped("builder.assign_docids")
                return orig_assign(*a, **k)

        builder.assign_docids = assign_docids
        orig_parquet = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            label = "write." + os.path.basename(str(path).rstrip("/"))
            with tr.span(label):
                grouped(label)
                return orig_parquet(self, path, *a, **k)

        DataFrameWriter.parquet = parquet
        tr.wrap(DataFrame, "collect", "collect")

    def phases(self, t0: float, t1: float) -> dict[str, float]:
        """Contiguous phase walls of the build that ran in [t0, t1]."""
        spans = [
            s for s in self.tracer.spans
            if "end" in s and s["start"] >= t0 and s["end"] <= t1
        ]

        def first(name):
            got = [s for s in spans if s["name"] == name]
            return got[0] if got else None

        a = first("builder.assign_docids")
        post = first("write.postings")
        dm = first("write.doc_meta")
        ts = first("write.term_stats")
        out = {
            "assign_docids_s": a["end"] - a["start"],
            "postings_s": post["end"] - post["start"],
            # doc_meta write plus the driver collect of its histogram
            "doc_meta_s": ts["start"] - dm["start"],
            "term_stats_s": ts["end"] - ts["start"],
            # lineage write + meta json, up to the end of build()
            "lineage_meta_s": t1 - ts["end"],
        }
        out["phase_sum_s"] = sum(out.values())
        return out


def noop_split(spark, docs) -> dict[str, float]:
    """Re-run tokenize and posting-block construction into ``noop``
    sinks (same arguments the builder passes) to time them alone."""
    from pyspark import SparkContext

    from seekstorm_spark.index.builder import (
        assign_docids,
        build_posting_blocks,
        tokenize_to_term_rows,
    )

    sc = SparkContext._active_spark_context
    numbered = assign_docids(docs.select("text"), order_col=None, n_buckets=N_BUCKETS)
    rows = tokenize_to_term_rows(
        numbered.select("docid", "text"),
        "text",
        fields=["text"],
        frequent_terms=frozenset(inputs.FREQUENT_TERMS),
        ngram_patterns=NGRAM_PATTERNS,
        emit="segments",
    )
    out = {}
    for label, df in (
        ("noop.tokenize", rows),
        ("noop.posting_blocks", build_posting_blocks(rows, N_BUCKETS)),
    ):
        sc.setJobGroup(label, label)
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[label] = time.perf_counter() - t
    sc.setJobGroup("idle", "idle")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--warmup-docs", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    common.apply_env()

    trace = BuildTrace() if args.trace else None
    from pyspark.sql import functions as F

    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.session import get_spark
    from seekstorm_spark.sources.webtext import synth_webtext

    eventlog = os.path.join(args.dir, "eventlog") if args.trace else None
    spark = get_spark(
        "perfbench-build",
        master=f"local[{common.CPUS}]",
        shuffle_partitions=common.shuffle_partitions("build"),
        extra_conf=common.spark_conf("build", eventlog),
    )
    print("READY", flush=True)
    result: dict = {"builds": []}
    try:
        if trace:
            trace.group_prefix = "warmup."
        warm_corpus = os.path.join(args.dir, "warmup-corpus")
        corpus = os.path.join(args.dir, "corpus")
        for path, n, seed in (
            (warm_corpus, args.warmup_docs, args.seed + 1_000_000),
            (corpus, args.docs, args.seed),
        ):
            synth_webtext(spark, n, seed=seed, partitions=16).select(
                "url", "text"
            ).write.mode("overwrite").parquet(path)
        text_bytes = int(
            spark.read.parquet(corpus)
            .agg(F.sum(F.octet_length("text")))
            .first()[0]
        )
        start = None
        while True:
            index = os.path.join(args.dir, f"index-{len(result['builds'])}")
            noise = common.HostNoise()
            t0 = time.perf_counter()
            store = IndexBuilder(
                spark, index, n_buckets=N_BUCKETS,
                frequent_terms=inputs.FREQUENT_TERMS,
            ).build(
                spark.read.parquet(warm_corpus if start is None else corpus),
                text_col="text",
            )
            t1 = time.perf_counter()
            b = {
                "wall_s": t1 - t0,
                "n_docs": int(store.meta["n_docs"]),
                "index": index,
                **noise.read(),
            }
            if trace and start is not None:
                b["phases"] = trace.phases(t0, t1)
            result["builds"].append(b)
            if start is None:
                # the timed window starts after the warm-up build
                b["warmup"] = True
                if trace:
                    trace.group_prefix = ""
                start = time.perf_counter()
            elif time.perf_counter() - start + b["wall_s"] > args.seconds:
                break  # one more build like this one would overrun
        result["text_bytes"] = text_bytes
        if trace:
            result["noop"] = noop_split(spark, spark.read.parquet(corpus))
    finally:
        spark.stop()
    # checked once Spark is gone, so the digests' memory stays out of
    # the build's peak RSS
    for b in result["builds"]:
        index = b.pop("index")
        if not b.get("warmup"):
            b["digest"] = digest(index)
            b["index_bytes"] = disk_bytes(index)
    with open(os.path.join(args.dir, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
