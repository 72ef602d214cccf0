"""The API under test: ``serving.serve`` in its own process with its own SparkSession.

Prints one JSON line with the bound port, serves until its standard input
closes, then stops and writes its spans (one per handler call, with the
Spark work under it) to ``--spans``.

    python3 perfbench/api_server.py --data DIR --scratch DIR --trace 0|1 --spans FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the repo root, as in run.py

from perfbench.common import Scratch, jvm_pid, start_spark, stop_spark  # noqa: E402
from perfbench.trace import Tracer, rss_peak_mb  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    from velib_lakehouse_spark import serving

    scratch = Scratch(root=args.scratch)
    spark = start_spark(scratch, bool(args.trace), "perfbench-api-server")
    tracer = Tracer(bool(args.trace), spark.sparkContext)
    for route, fn in list(serving.ROUTES.items()):
        tracer.wrap(serving.ROUTES, route, f"serving.{fn.__name__}")
    server = serving.serve(spark, args.data)
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    sys.stdin.read()
    server.shutdown()
    server.server_close()
    rss = rss_peak_mb(jvm_pid(spark)) if args.trace else 0.0
    stop_spark(spark)
    tracer.attach_spark(scratch.eventlog)
    with open(args.spans, "w") as f:
        json.dump({"spans": tracer.finish() if args.trace else [], "rss_peak_mb": rss}, f)


if __name__ == "__main__":
    main()
