"""Isolated route-stage bench (guide §1.4): re-runs route_and_write
against an already-written slim checkpoint, fresh sink dir each rep,
and prints each rep's wall, its Spark job count and per-sink walls.

Usage: python tools/bench_route.py --slim DIR [--reps N] [--cores N]
``--cores`` defaults to SPARK_GRAFT_CPUS (else all cores). Env:
ROUTER_WRITE_STRATEGY / ROUTER_SCAN_SPLIT_MB / ROUTER_CONCURRENCY pass
through to the router.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_log_parser_spark.operators.router import route_and_write  # noqa: E402
from s3_log_parser_spark.session import get_spark  # noqa: E402
from s3_log_parser_spark.sources.catalog import Catalog  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--slim", default="/tmp/spark_graft_bench/pipe_c32/slim"
    )
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    args = ap.parse_args()
    if not os.path.isdir(args.slim):
        sys.exit(
            f"bench_route: no slim checkpoint at {args.slim!r}; write one "
            "with run_pipeline (its out_dir/slim) and pass --slim DIR"
        )

    spark = get_spark(app_name="bench-route", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    out = "/tmp/bench_route_out"

    for i in range(args.reps):
        shutil.rmtree(out, ignore_errors=True)
        cat = Catalog(spark, out)
        slim = spark.read.parquet(args.slim)
        sink_t: dict[str, float] = {}
        jobs0 = set(tracker.getJobIdsForGroup())
        t0 = time.perf_counter()
        route_and_write(slim, cat, timings_out=sink_t)
        dt = time.perf_counter() - t0
        jobs = len(set(tracker.getJobIdsForGroup()) - jobs0)
        print(
            f"rep {i}: route {dt:.2f}s  jobs {jobs}  "
            + "  ".join(f"{k}={v:.1f}" for k, v in sink_t.items()),
            flush=True,
        )


if __name__ == "__main__":
    main()
