#!/usr/bin/env python
"""Cold-path attribution for the headline operator suite.

Mirrors bench.py's bench_headline exactly (ONE fresh session, the ten
queries in bench order, each run once cold) but splits each query's
wall into plan-construction (queries()[name](spark, d) returning a
DataFrame) vs execution (collect), and dumps per-job durations from
the status tracker so the cold seconds can be attributed (guide §1).

    python scripts/headline_cold_profile.py [--names q1,q2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

NAMES = [
    "bm25_topk_and",
    "bm25_topk_or",
    "bm25_phrase",
    "term_df",
    "dedup_exact_groups",
    "dedup_jaccard_pairs",
    "ann_cosine_topk",
    "text_quality",
    "agg_pricing_summary",
    "agg_events_daily",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--names", default=None,
        help="comma-separated query names (default: the ten headline "
        "queries in bench order)",
    )
    args = ap.parse_args()
    names = args.names.split(",") if args.names else NAMES

    import __spark_entry__ as entrymod
    from seekstorm_spark.session import get_spark

    # bench.py reaches bench_headline with a WARM JVM (the build and
    # WAND phases ran in earlier sessions of the same process): mirror
    # that, or every cold cost of the first query reads as query time
    warm = get_spark(
        "warmup", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    warm.range(1000).selectExpr("sum(id)").collect()
    warm.createDataFrame([(1, "a")], "id long, t string").groupBy(
        "t"
    ).count().collect()
    from seekstorm_spark.index.builder import tokenize_to_doc_lengths

    tokenize_to_doc_lengths(
        warm.range(64).selectExpr("id as docid", "'warm' as text")
    ).count()
    warm.stop()

    spark = get_spark(
        "headline_cold", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    sc = spark.sparkContext
    qs = entrymod.queries()
    out: dict = {}
    t_suite = time.time()
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        t_plan = time.time() - t0
        t0 = time.time()
        df.collect()
        t_exec = time.time() - t0
        st = sc.statusTracker()
        jobs = []
        for jid in st.getJobIdsForGroup(name):
            ji = st.getJobInfo(jid)
            sids = ji.stageIds if ji else []
            stages = []
            for sid in sorted(sids):
                si = st.getStageInfo(sid)
                if si:
                    stages.append(
                        {"stage": sid, "tasks": si.numTasks,
                         "name": si.name.split(" ")[0]}
                    )
            jobs.append({"job": jid, "stages": stages})
        out[name] = {
            "plan_s": round(t_plan, 3),
            "exec_s": round(t_exec, 3),
            "total_s": round(t_plan + t_exec, 3),
            "n_jobs": len(jobs),
            "jobs": jobs,
        }
    out["_suite_total_s"] = round(time.time() - t_suite, 3)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
