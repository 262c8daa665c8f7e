"""The end-to-end DAG: parse → encode → enrich → flags → route → aggregate.

Distributed trace (SURVEY.md §3.1): scan transcripts (column-pruned to
conv_id, turn_idx, role, tool, text, ts) → one Arrow pass (DFA parse
bank + DJB2, text dropped at the worker) → Catalyst-codegen'd
casts/encodings + UA classify → ONE shuffle (the (ip_hash, key_hash)
window for ST1, narrowest possible rows) → broadcast-join role/tool
dims post-shuffle → slim table write (the checkpoint) → route: one
collected counts cube over the columnar re-read (every sink's counts
table and write layout derive from it on the driver), then N filtered
sink writes of that re-read.

Scale posture: the only wide exchange before the sinks is the ST1
window on high-cardinality hash keys (no skew by construction); the
hot-conversation skew on conv_id never hits a shuffle in this DAG
(conv-keyed work is the *order* surrogate inside the ip/key window,
not a partition key). Sink writes are pruned columnar scans of slim.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encode import SLIM_COLUMNS, encode_slim_flat
from ..functions.hashes import djb2_expr, path_segment_hash
from ..functions.parsing import parse_range, parse_text_sql
from ..functions.parsing_arrow import parse_text_arrow
from ..operators.enrich import classify_when, enrich_role_tool
from ..operators.flags import with_flags
from ..operators.router import Route, default_routes, route_and_write
from ..sources.catalog import Catalog
from .lineage import Manifest


@dataclass
class PipelineResult:
    slim: DataFrame
    sink_counts: dict[str, DataFrame]
    timings: dict[str, float] = field(default_factory=dict)
    lineage: DataFrame | None = None


def parse_encode(transcripts: DataFrame, use_sql_parser: bool = False) -> DataFrame:
    """Parse → encode → UA classify: the prefix that the batch
    (:func:`build_slim`) and streaming (``streaming.stream``) slim
    plans share.

    The parse is the Arrow kernel (one ``mapInArrow`` stage: DFA parse
    bank + DJB2, text dropped at the worker). ``use_sql_parser`` swaps
    in the independent zero-Python reference — ``parse_text_sql`` +
    ``djb2_expr``, projected to the Arrow kernel's flat columns — that
    tests and the benchmark reconcile the production parse against.
    Both feed the same ``encode_slim_flat``.
    """
    if use_sql_parser:
        df = _parse_reference(transcripts)
    else:
        df = parse_text_arrow(transcripts, "text", "conv_id")
    # E7/E8: pattern banks are compile-time constants → CASE WHEN
    # chains (whole-stage codegen)
    return classify_when(encode_slim_flat(df)).drop("user_agent")


def _parse_reference(transcripts: DataFrame) -> DataFrame:
    """``parse_text_sql`` + ``djb2_expr``, projected to the columns
    ``parse_text_arrow`` emits."""
    p = F.col("parsed")
    byte_start, byte_end = parse_range(p["range_header"])
    return parse_text_sql(transcripts, "text").select(
        *[c for c in transcripts.columns if c != "text"],
        "event_ts",
        "parse_status",
        djb2_expr(p["remote_ip"]).alias("ip_hash"),
        djb2_expr(p["key"]).alias("key_hash"),
        path_segment_hash(p["key"]).alias("tool_hash"),
        djb2_expr(F.col("conv_id")).alias("conv_hash"),
        p["http_code"].alias("http_code_raw"),
        "parsed.bytes_sent",
        "parsed.object_size",
        "parsed.total_time_ms",
        byte_start.alias("byte_start"),
        byte_end.alias("byte_end"),
        "parsed.user_agent",
    )


def build_slim(transcripts: DataFrame, use_sql_parser: bool = False) -> DataFrame:
    """The logical plan for transcripts → slim (no writes, no actions):
    :func:`parse_encode`, then the ST1 flags window and the role/tool
    lookups. ``use_sql_parser`` selects the reference parse (see
    :func:`parse_encode`).
    """
    # window BEFORE the role/tool enrich: with_flags' ST1 exchange is
    # the DAG's one wide shuffle, so it should carry the narrowest rows
    # possible — the role/tool dim columns (3 ints/row) are attached on
    # the post-shuffle side instead (column values are unchanged)
    df = with_flags(parse_encode(transcripts, use_sql_parser))
    # r7: the role/tool dims are plan-time constants, so the pipeline
    # uses the CASE-WHEN lookup form — same columns/values as the left
    # broadcast join (parity-pinned in tests), zero BroadcastExchange
    # stages per run
    df = enrich_role_tool(df, method="expr")
    return df.select(*SLIM_COLUMNS)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    routes: list[Route] | None = None,
    verbose: bool = False,
) -> PipelineResult:
    """Execute the full DAG with manifest-gated idempotent resume.

    ``verbose``: additionally write a ``_lineage`` table of
    per-partition (rows, approx bytes) over the slim checkpoint — the
    reference's ``-v`` per-batch counters (src/s3parser.c:56-67) as a
    queryable table instead of stderr noise. One extra pruned pass over
    slim, only when asked for.
    """
    catalog = Catalog(spark, out_dir)
    manifest = Manifest(out_dir, run_id)
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    slim_schema = None  # known when this run writes slim: no inference job
    if not manifest.complete("slim"):
        slim = build_slim(transcripts)
        catalog.write(slim, "slim", mode="overwrite")
        manifest.mark("slim")
        slim_schema = slim.schema
    timings["slim"] = time.perf_counter() - t0

    # route from the columnar checkpoint, not the raw text. (Measured:
    # persisting slim in executor memory across the fan-out LOSES to
    # re-scanning the freshly written parquet here — OS page cache +
    # columnar decode beat MEMORY_AND_DISK's serialize/deserialize. On
    # a real cluster with remote object storage the trade flips; the
    # catalog seam is where a cache policy would slot in.)
    slim = catalog.read("slim", schema=slim_schema)

    t0 = time.perf_counter()
    sink_timings: dict[str, float] = {}
    counts = route_and_write(
        slim,
        catalog,
        routes=routes,
        skip=manifest.complete,
        on_done=manifest.mark,
        timings_out=sink_timings,
    )
    timings["route"] = time.perf_counter() - t0
    for name, dt in sink_timings.items():
        timings[f"route:{name}"] = dt

    lineage = None
    if verbose:
        from .lineage import lineage_summary, with_partition_metrics

        if not manifest.complete("lineage"):
            catalog.write(
                lineage_summary(with_partition_metrics(slim)), "_lineage"
            )
            manifest.mark("lineage")
        lineage = catalog.read("_lineage")

    return PipelineResult(
        slim=slim, sink_counts=counts, timings=timings, lineage=lineage
    )
