"""The traced run: per-layer metrics, from spans the benchmark records
around calls into each module's public functions, and from Spark's
event log.

Spans tag their Spark jobs with the job description
``perfbench:<layer>``. The router submits its sink writes from its own
threads, which do not inherit that description, so a job without one
is attributed by the output path in its SQL execution's plan, and
failing that by the span its submission time falls in.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import harness
from workloads import QUERY_MODULES, SINKS, fresh_dir, read_sinks

TAG = "perfbench:"
REPEAT = 2  # runs of each slim-plan prefix; the faster one is its wall


class Spans:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.wall: dict[str, float] = {}

    def run(self, layer: str, fn):
        """Run ``fn`` as span ``layer``; return its result. The span's
        wall seconds are ``self.wall[layer]``."""
        self.sc.setJobDescription(TAG + layer)
        a, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            self.wall[layer] = time.perf_counter() - t0
            self.spans.append((layer, a * 1000, time.time() * 1000))
            self.sc.setJobDescription(None)

    def at(self, ms: float) -> str | None:
        for layer, a, b in self.spans:
            if a <= ms <= b:
                return layer
        return None


def gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _worker_cpu() -> float:
    return harness.cpu_s(harness.python_workers())


def trace_pipeline(wl, spark, spans: Spans) -> tuple[dict, list[dict], dict]:
    """One whole ``run_pipeline``; then cumulative prefixes of the slim
    plan, each materialised to a ``noop`` sink, the slim write and the
    router; then one streaming pass over the same files. Returns the
    metrics, the sink results of both batch runs and the streamed
    counts, for the checks."""
    from s3_log_parser_spark.functions.encode import SLIM_COLUMNS, encode_slim_flat
    from s3_log_parser_spark.functions.parsing_arrow import parse_text_arrow
    from s3_log_parser_spark.operators.enrich import classify_when, enrich_role_tool
    from s3_log_parser_spark.operators.flags import with_flags
    from s3_log_parser_spark.operators.router import route_and_write
    from s3_log_parser_spark.plans.pipeline import run_pipeline
    from s3_log_parser_spark.sources.catalog import Catalog

    # first one whole run, at the place in the session of an untraced
    # run's first timed operation, so that the two walls compare
    out = fresh_dir("trace_run")
    res = spans.run(
        "run_pipeline",
        lambda: run_pipeline(spark, spark.read.parquet(wl.input), out, run_id="trace"),
    )
    checks = [spans.run("check", lambda: read_sinks(spark, res.sink_counts, out))]

    # self time of each layer = the difference of successive prefixes;
    # each prefix runs REPEAT times, keeping the fastest (host noise
    # only ever slows a run). A layer cheaper than the remaining noise
    # (encode, ~0.1 s at this size) can read slightly negative.
    m = {}
    p1 = parse_text_arrow(spark.read.parquet(wl.input), "text", "conv_id")
    p2 = classify_when(encode_slim_flat(p1)).drop("user_agent")
    p3 = with_flags(p2)
    p4 = enrich_role_tool(p3, method="expr").select(*SLIM_COLUMNS)
    best = {}
    for layer, df in (("parse", p1), ("encode", p2), ("flags", p3), ("enrich", p4)):
        cpu0 = _worker_cpu()
        for _ in range(REPEAT):
            spans.run(layer, lambda: _noop(df))
            best[layer] = min(best.get(layer, float("inf")), spans.wall[layer])
        if layer == "parse":
            m["parsing_arrow.worker_cpu_s"] = (_worker_cpu() - cpu0) / REPEAT

    out = fresh_dir("trace_prefix")
    cat = Catalog(spark, out)
    spans.run("slim_write", lambda: cat.write(p4, "slim", mode="overwrite"))
    sink_s: dict[str, float] = {}
    counts = spans.run(
        "router", lambda: route_and_write(cat.read("slim"), cat, timings_out=sink_s)
    )
    checks.append(spans.run("check", lambda: read_sinks(spark, counts, out)))

    w = dict(spans.wall, **best)
    m["parsing_arrow.self_s"] = w["parse"]
    m["encode.self_s"] = (w["encode"] - w["parse"]) + (w["enrich"] - w["flags"])
    m["flags.self_s"] = w["flags"] - w["encode"]
    m["slim_write.self_s"] = w["slim_write"] - w["enrich"]
    m["router.wall_s"] = w["router"]
    m["slim_write.files"], m["slim_write.bytes"] = _files(os.path.join(out, "slim"))
    for s in SINKS:
        m[f"router.sink_s.{s}"] = sink_s[s]
        m[f"router.files.{s}"], m[f"router.bytes.{s}"] = _files(os.path.join(out, s))
    m["trace.wall_s"] = w["run_pipeline"]
    m["trace.residual_s"] = w["run_pipeline"] - (w["slim_write"] + w["router"])
    m["_router_out"] = out
    stream_m, streamed = trace_stream(wl, spark, spans)
    m.update(stream_m)
    return m, checks, streamed


def trace_stream(wl, spark, spans: Spans) -> tuple[dict, dict]:
    """``build_slim_stream`` → ``start_router`` over the landed files,
    one file per micro-batch. Also returns the routed union's
    (parse_status, flags & -2) counts, which must equal the batch
    reference's."""
    from pyspark.sql import functions as F

    from s3_log_parser_spark.streaming.stream import build_slim_stream, start_router

    out, ckpt = fresh_dir("trace_stream"), fresh_dir("trace_stream_ckpt")
    schema = spark.read.parquet(wl.input).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(wl.input)

    def run() -> list[dict]:
        q = start_router(build_slim_stream(stream), out, ckpt, trigger_once=True)
        q.awaitTermination()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    prog = spans.run("stream", run)

    def routed() -> dict:
        cols = ("parse_status", "flags")
        union = (
            spark.read.parquet(os.path.join(out, "by_tool")).select(*cols)
            .unionByName(spark.read.parquet(os.path.join(out, "rejects")).select(*cols))
        )
        rows = union.groupBy("parse_status", F.col("flags").bitwiseAND(-2).alias("f")).count()
        return {f"{r['parse_status']}|{r['f']}": r["count"] for r in rows.collect()}

    streamed = spans.run("check", routed)

    def total(*keys: str) -> float:
        return sum(p["durationMs"].get(k, 0) for p in prog for k in keys) / 1000

    return {
        "stream.batches": len(prog),
        "stream.add_batch_s": total("addBatch"),
        "stream.planning_s": total("queryPlanning"),
        "stream.commit_s": total("walCommit", "commitOffsets"),
        "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in prog),
    }, streamed


def trace_queries(wl, spark, spans: Spans) -> tuple[dict, dict]:
    """One pass of the query block, each query's jobs tagged with its
    name; returns the per-module walls and the pass's record."""

    def tag(q: str) -> None:
        spans.sc.setJobDescription(TAG + "q:" + q)

    rec = spans.run("queries", lambda: wl.op(spark, 0, on_query=tag))
    m = {}
    for q, dt in zip(QUERY_MODULES, rec["steps"]):
        k = f"ops.{QUERY_MODULES[q]}.wall_s"
        m[k] = m.get(k, 0.0) + dt
    return m, rec


def _files(d: str) -> tuple[int, int]:
    n = size = 0
    for base, _, names in os.walk(d):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def read_eventlog(log_dir: str) -> list[dict]:
    (name,) = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    with open(os.path.join(log_dir, name)) as f:
        return [json.loads(line) for line in f]


def layer_metrics(events: list[dict], spans: Spans, router_out: str | None) -> dict:
    """Executor CPU, shuffle, spill, input records and task times per
    layer, from the event log's task-end records."""
    plans, job_layer, stage_job = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = plans.get(e["executionId"], "") + e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            layer = desc[len(TAG):] if desc.startswith(TAG) else None
            plan = plans.get(int(props.get("spark.sql.execution.id", -1)), "")
            if layer is None and router_out and any(
                f"{router_out}/{s}" in plan for s in SINKS
            ):
                layer = "router"
            if layer is None:
                layer = spans.at(e["Submission Time"]) or "other"
            job_layer[e["Job ID"]] = layer
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, e["Job ID"])
    agg: dict[str, dict] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        layer = job_layer.get(stage_job.get(e["Stage ID"]), "other")
        t = e["Task Metrics"]
        a = agg.setdefault(layer, {"cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0, "reduce_ms": []})
        a["cpu_s"] += t["Executor CPU Time"] / 1e9
        a["shuffle_bytes"] += t["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        a["spill_bytes"] += t["Disk Bytes Spilled"]
        a["records_read"] += t["Input Metrics"]["Records Read"]
        if t["Shuffle Read Metrics"]["Total Records Read"] > 0:
            a["reduce_ms"].append(t["Executor Run Time"])
    return agg
