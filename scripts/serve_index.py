#!/usr/bin/env python
"""spark-submit entry point: serve built indexes over HTTP.

    spark-submit --py-files seekstorm_spark.zip scripts/serve_index.py \
        --index products=/data/idx_products --port 8080

Stdlib-only JSON API mirroring the reference server
(`seekstorm_server/src/api_endpoints.rs`); the endpoints are listed in
``seekstorm_spark.server._ROUTES``, and its module docstring gives the
auth and write rules.
"""

from __future__ import annotations

import argparse
import sys

import os as _os

_repo_root = str(__import__("pathlib").Path(__file__).resolve().parent.parent)
sys.path.insert(0, _repo_root)
_os.environ["PYTHONPATH"] = (
    _repo_root + _os.pathsep + _os.environ.get("PYTHONPATH", "")
).rstrip(_os.pathsep)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--index", action="append", default=[],
        help="name=path (repeatable)",
    )
    ap.add_argument(
        "--index-root", default=None,
        help="directory for indexes created via POST /indices",
    )
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--master", default=None, help="local[N] override")
    ap.add_argument(
        "--writable", action="store_true",
        help="enable doc add/commit/delete endpoints",
    )
    ap.add_argument(
        "--admin-key", default=_os.environ.get("SEEKSTORM_ADMIN_KEY"),
        help="master key gating apikey CRUD (or env SEEKSTORM_ADMIN_KEY); "
        "unset = apikey endpoints disabled",
    )
    args = ap.parse_args()

    from seekstorm_spark.server import make_server
    from seekstorm_spark.session import get_spark

    indices = {}
    for spec in args.index:
        name, _, path = spec.partition("=")
        if not path:
            ap.error(f"--index must be name=path, got {spec!r}")
        indices[name] = path
    if not indices and not args.index_root:
        ap.error("need --index and/or --index-root")

    kw = {"master": args.master} if args.master else {}
    spark = get_spark("seekstorm-serve", **kw)
    srv = make_server(
        spark, indices, host=args.host, port=args.port,
        writable=args.writable, index_root=args.index_root,
        admin_key=args.admin_key,
    )
    host, port = srv.server_address[:2]
    print(f"serving {sorted(indices)} on http://{host}:{port}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
