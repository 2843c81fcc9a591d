"""The benchmark's REST server launcher.

    python3 perfbench/launcher.py --index DIR [--writable] [--trace DIR]

Starts a serving session on all cores of this host, opens the index
through ``seekstorm_spark.server.make_server`` and prints ``PORT <n>``
once it listens. With ``--trace`` it first wraps the public names
every layer is entered through (see tracing.py), enables Spark's event
log under DIR/eventlog, and on SIGTERM writes DIR/spans.json next to
it before stopping Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import common


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--writable", action="store_true")
    ap.add_argument("--trace", default=None)
    args = ap.parse_args()
    common.apply_env()

    tracer = None
    eventlog = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install_server_wrappers(tracer)
        eventlog = os.path.join(args.trace, "eventlog")

    from seekstorm_spark.server import make_server
    from seekstorm_spark.session import get_spark

    def stop(_sig, _frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench-serve",
        master=f"local[{common.CPUS}]",
        shuffle_partitions=common.shuffle_partitions("serve"),
        extra_conf=common.spark_conf("serve", eventlog),
    )
    timings = {"session_start_s": time.perf_counter() - t0}
    srv = None
    try:
        srv = make_server(
            spark, {"bench": args.index}, port=0, writable=args.writable
        )
        print(f"PORT {srv.server_address[1]} {json.dumps(timings)}", flush=True)
        srv.serve_forever()
    except SystemExit:
        pass
    finally:
        if srv is not None:
            srv.server_close()
        if tracer is not None:
            tracer.dump(os.path.join(args.trace, "spans.json"))
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
