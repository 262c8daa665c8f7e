"""Benchmark of the transcript pipeline and its operator queries on
``local[4]``.

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

- ``pipeline_fresh``: ``run_pipeline`` over 25k turns, drawn by seed
  from a ``gen_transcripts`` pool, into an empty output dir; one
  operation is one whole run.
- ``query_block``: six ``queries()`` entries, one per operator module,
  over a seeded sample of the repo's sf0.01 test tables; one operation
  is one pass.

A run lands its inputs first (``gen.py`` in a separate process, cached
in ``perfbench/.work`` by seed and size), then times set-up: ``get_spark``
plus the workload's ``warm_up``, which brings it near its steady state
(four whole pipeline runs; three rounds of the query block on four
threads). It then runs operations for ``--seconds`` and checks each
one's output against a reference.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: ``get_spark`` plus warm-up.
- ``wall_s``: median wall of one operation, input to complete result.
  For ``pipeline_fresh``, turns per second is 25,000 / ``wall_s``.

Per-query latency percentiles are not reported: a pass gives six
samples, too few for a percentile that repeats from run to run (with
ten queries a pass, the median query's latency had an interquartile
range of 24 % of its median over nine seeds); the traced run reports
each module's query wall instead.

``--trace 1`` sets up the same way with Spark's event log on, runs the
traced calls of ``tracing.py`` once, and prints the per-layer metrics of
``PER_LAYER``. A layer a workload does not exercise reads 0.
``proc.peak_rss_mb`` is the peak summed RSS of driver Python, driver
JVM and Python workers over the traced calls, read from /proc; it
varies too much from run to run (GC and worker timing) to gate on.
``trace.wall_s`` minus the untraced ``wall_s`` is the tracing overhead;
``trace.residual_s`` is the part of a whole run the prefix self-times
do not cover.

The last line of output is one JSON object: ``correct``, ``attempted``
and ``failed`` operations (a query, or a pipeline run, that raises or
fails its check), and ``metrics``. The exit code is non-zero when a
check fails or the program is missing.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from workloads import QUERY_MODULES, SINKS, WORKLOADS  # noqa: E402

MODULES = list(dict.fromkeys(QUERY_MODULES.values()))
PER_LAYER = (
    ["parsing_arrow.self_s", "parsing_arrow.cpu_s", "parsing_arrow.ok_ratio"]
    + ["encode.self_s"]
    + ["flags.self_s", "flags.shuffle_bytes", "flags.spill_bytes", "flags.task_skew"]
    + ["slim_write.self_s", "slim_write.bytes", "slim_write.files"]
    + ["router.wall_s", "router.cpu_s", "router.shuffle_bytes", "router.rows_read_per_slim_row"]
    + [f"router.{k}.{s}" for k in ("sink_s", "files", "bytes") for s in SINKS]
    + ["trace.wall_s", "trace.residual_s"]
    + ["stream.batches", "stream.add_batch_s", "stream.planning_s", "stream.commit_s", "stream.rows_per_batch"]
    + [f"ops.{m}.{k}" for m in MODULES for k in ("wall_s", "shuffle_bytes")]
    + ["jvm.gc_s", "proc.peak_rss_mb"]
)


def unit(name: str) -> str:
    if name.endswith("_s") or ".sink_s." in name:
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if "ratio" in name or "skew" in name or "per_slim_row" in name:
        return "ratio"
    return "count"


def measure(wl, spark, seconds: float) -> tuple[list[dict], int]:
    """Operations for ``seconds``; returns their records and how many
    raised."""
    recs, raised = [], 0
    t_end = time.perf_counter() + seconds
    for i in itertools.count():
        try:
            recs.append(wl.op(spark, i))
        except Exception as e:  # counted as a failed operation
            print(f"# operation raised {type(e).__name__}: {e}", file=sys.stderr)
            raised += 1
        if time.perf_counter() >= t_end:
            return recs, raised


def end_to_end(wl, spark, seconds: float, setup_s: float):
    recs, raised = measure(wl, spark, seconds)
    failed = raised + wl.check(spark, recs)
    attempted = raised + sum(len(r["steps"]) for r in recs)
    if not recs:
        return {}, attempted, failed
    for r in recs:
        print("# op " + " ".join(f"{x:.2f}" for x in r["steps"]), file=sys.stderr)
    wall = statistics.median(r["wall"] for r in recs)
    metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall, "s")}
    return metrics, attempted, failed


def per_layer(wl, spark, log_dir: str):
    """The traced calls; stops the session to read its event log."""
    import tracing

    spans = tracing.Spans(spark)
    gc0 = tracing.gc_s(spark)
    rss = harness.RssSampler().start()
    if wl.name == "pipeline_fresh":
        m, sinks, streamed = tracing.trace_pipeline(wl, spark, spans)
    else:
        m, rec = tracing.trace_queries(wl, spark, spans)
    m["proc.peak_rss_mb"] = rss.stop()
    m["jvm.gc_s"] = tracing.gc_s(spark) - gc0
    if wl.name == "pipeline_fresh":
        failed = wl.check(spark, [{"sinks": s} for s in sinks])
        if streamed != wl.reference(spark)["stream"]:
            print("# streamed (parse_status, flags) counts differ", file=sys.stderr)
            failed += 1
        attempted = len(sinks) + 1
        m["parsing_arrow.ok_ratio"] = sum(sinks[0]["by_tool"][0].values()) / wl.rows
    else:
        failed = wl.check(spark, [rec])
        attempted = len(rec["steps"])
    harness.stop_spark(spark)
    agg = tracing.layer_metrics(tracing.read_eventlog(log_dir), spans, m.pop("_router_out", None))

    def get(layer: str, key: str):
        return agg.get(layer, {}).get(key, 0)

    if wl.name == "pipeline_fresh":
        # the prefixes ran tracing.REPEAT times each: per-run figures
        n = tracing.REPEAT
        m["parsing_arrow.cpu_s"] = get("parse", "cpu_s") / n + m.pop("parsing_arrow.worker_cpu_s")
        m["flags.shuffle_bytes"] = get("flags", "shuffle_bytes") // n
        m["flags.spill_bytes"] = get("flags", "spill_bytes") // n
        reduce_ms = get("flags", "reduce_ms") or [1]
        m["flags.task_skew"] = max(reduce_ms) / max(1, statistics.median(reduce_ms))
        m["router.cpu_s"] = get("router", "cpu_s")
        m["router.shuffle_bytes"] = get("router", "shuffle_bytes")
        m["router.rows_read_per_slim_row"] = get("router", "records_read") / wl.rows
    else:
        for q, mod in QUERY_MODULES.items():
            k = f"ops.{mod}.shuffle_bytes"
            m[k] = m.get(k, 0) + get("q:" + q, "shuffle_bytes")
    return {k: (m.get(k, 0), unit(k)) for k in PER_LAYER}, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not harness.program_present():
        print("the program (s3_log_parser_spark, __spark_entry__.py) is not "
              "in this checkout", file=sys.stderr)
        return 2
    harness.prepare_env()
    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[a.workload](a.seed)

    extra, log_dir = {}, None
    if a.trace:
        log_dir = os.path.join(harness.WORK, "eventlog", str(os.getpid()))
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = harness.start_spark(f"perfbench-{wl.name}", extra)
    warm = wl.warm_up(spark)
    setup_s = time.perf_counter() - t0
    print(f"# {wl.name}: set-up {setup_s:.2f} s, warm-up "
          + " ".join(f"{w:.2f}" for w in warm), file=sys.stderr)
    if a.trace:
        metrics, attempted, failed = per_layer(wl, spark, log_dir)
    else:
        metrics, attempted, failed = end_to_end(wl, spark, a.seconds, setup_s)
        harness.stop_spark(spark)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
