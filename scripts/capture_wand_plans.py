#!/usr/bin/env python
"""Capture .explain('formatted') plans for the WAND serving paths
(single-query search + fused search_many batch).

Usage: python scripts/capture_wand_plans.py INDEX OUTDIR SUFFIX

INDEX is any built index whose vocabulary has term00000..term00042
(e.g. ``scripts/build_index.py --input synth:250000``). The session
runs at local[$SPARK_GRAFT_CPUS] (default: every core) with AQE off,
so the captured plans are the static physical plans. Writes
OUTDIR/{wand_single,wand_2term_and,search_many_100}_SUFFIX.txt."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from seekstorm_spark.session import get_spark
from seekstorm_spark.index.store import IndexStore
from seekstorm_spark.query.engine import search, search_many


def main() -> None:
    index, outdir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    os.makedirs(outdir, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = get_spark("plans", master=f"local[{cpus}]", shuffle_partitions=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    store = IndexStore.open(index)
    big_qs = []
    for i in range(100):
        a, b = i % 40, (i * 7 + 3) % 40
        shape = i % 4
        big_qs.append([f"term{a:05d}", f"term{a:05d} term{b:05d}",
                       f"+term{a:05d} +term{b:05d}", f"term{a:05d} -term{b:05d}"][shape])
    for name, df in [
        ("wand_single", search(spark, store, "term00042", top_k=10)),
        ("wand_2term_and", search(spark, store, "term00000 term00010",
                                  top_k=10, default_type="intersection")),
        ("search_many_100", search_many(spark, store, big_qs, top_k=10)),
    ]:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name, suffix)
    spark.stop()


if __name__ == "__main__":
    main()
