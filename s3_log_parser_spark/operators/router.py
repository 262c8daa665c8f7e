"""§2.7 predicate router: one encoded stream → per-sink tables + counts.

Generalizes the extract tool's runtime ``-g p|i|t|n`` group-by selector
(``s3extract.c:39-62,151-164``) into a declarative multi-sink fan-out.
Routes (north_star): by_tool, by_role, by_day, rejects (parse_status !=
'ok' — replaces the reference's silent zeroing), plus the identity
route ``all``.

Shape of the stage: ONE aggregate over slim, collected to the driver,
does all of its bookkeeping — the extract tool's single group-by-and-
count pass (``s3extract.c:273``). It groups by every route's key and
partition columns plus one boolean per route predicate, so it is a few
hundred rows even at 10 M turns. From those rows the driver derives
each sink's counts table (written from a JVM literal plan: one
single-task job, no scan of slim, no shuffle) and each partitioned
sink's exact value count (its write layout). Batch Spark has no
single-pass multi-sink write, so the sinks themselves are N filtered
writes, each a column-pruned re-read of the slim checkpoint, not of
the raw text.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import literal_frame
from ..sources.catalog import Catalog


@dataclass
class Route:
    name: str
    predicate: Callable[[DataFrame], Column]  # row filter
    group_key: tuple[str, ...]  # per-sink aggregate key
    partition_by: tuple[str, ...] = field(default_factory=tuple)


def default_routes() -> list[Route]:
    ok = lambda df: F.col("parse_status") == "ok"  # noqa: E731
    bad = lambda df: F.col("parse_status") != "ok"  # noqa: E731
    return [
        # graft of -g p (by podcast) → by tool (s3extract.c:152-154)
        Route("by_tool", ok, ("tool",), ("tool",)),
        # graft of -g i (by ip) → by role/conv (s3extract.c:155-157)
        Route("by_role", ok, ("role",), ("role",)),
        # -g t (by day, ts/86400) (s3extract.c:158-160)
        Route("by_day", ok, ("day_bucket",), ("day_bucket",)),
        # north_star addition: explicit rejects instead of zeroed rows
        Route("rejects", bad, ("parse_status",), ()),
    ]


def _counts_schema(slim: DataFrame, r: Route) -> T.StructType:
    """Schema of ``{r.name}_counts``: the group key as typed in slim,
    then a LONG ``count`` — all nullable, as a parquet read-back is."""
    return T.StructType(
        [T.StructField(c, slim.schema[c].dataType) for c in r.group_key]
        + [T.StructField("count", T.LongType())]
    )


def route_and_write(
    slim: DataFrame,
    catalog: Catalog,
    routes: list[Route] | None = None,
    mode: str = "overwrite",
    skip: Callable[[str], bool] | None = None,
    on_done: Callable[[str], None] | None = None,
    timings_out: dict[str, float] | None = None,
) -> dict[str, DataFrame]:
    """Fan the slim table out to sinks; return per-sink count frames.

    Jobs: one collected counts cube over the routes still to write,
    then per route its sink write and a literal-plan write of its
    counts table, the routes concurrently. A route that matches no
    rows writes an empty, typed counts table (a count-only route, with
    an empty ``group_key``, writes one row of 0). The returned frames
    are read-backs of the persisted ``{sink}_counts`` tables with their
    known schema, so no schema-inference job runs.

    ``skip``/``on_done`` hook the lineage manifest for idempotent
    resume (plans/lineage.py): a skipped route is neither counted nor
    written. The caller is responsible for having persisted/materialized
    ``slim`` (the pipeline writes the slim table first and routes from
    the columnar re-read — cheaper than caching raw text at 100 TB, and
    it IS the checkpoint).
    """
    import os as _os
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    routes = routes if routes is not None else default_routes()
    todo = [r for r in routes if skip is None or not skip(f"sink:{r.name}")]

    # the stage's one aggregate: counts per (route keys ∪ partition
    # columns, one predicate flag per route). Each predicate is
    # evaluated on slim itself, so it may read any slim column.
    cube = []
    if todo:
        keys = dict.fromkeys(c for r in todo for c in (*r.group_key, *r.partition_by))
        flags = [r.predicate(slim).alias(f"_r{i}") for i, r in enumerate(todo)]
        cube = (
            slim.groupBy(*keys, *flags)
            .agg(F.count("*").alias("_n"))
            .collect()
        )

    def write_one(i: int, r: Route) -> None:
        _t0 = _time.perf_counter()
        mine = [row for row in cube if row[f"_r{i}"]]
        w = slim.filter(r.predicate(slim))
        if r.partition_by:
            # partitioned-write layout control: every task emits one
            # file per partition VALUE it sees (tasks × values files
            # — 234 for an 8-task by_day write), and the driver-side
            # commit of those files is pure constant overhead that
            # eats the speedup on NARROW sessions. Two strategies,
            # auto-picked by session width (ROUTER_WRITE_STRATEGY
            # overrides: salt|coalesce|plain):
            #
            # - "salt": repartition on (partition cols, deterministic
            #   salt) — files ≈ salt_buckets × values regardless of
            #   input width. The canonical 100 TB shape (also what a
            #   cluster writing to an object store with per-file
            #   commit cost wants), and the right call on narrow
            #   local legs where a 300-file commit dwarfs the small
            #   shuffle.
            # - "coalesce": narrow-dependency fan-in, NO shuffle —
            #   on wide local sessions the in-process commit of
            #   tasks × values files is measurably cheaper than
            #   shuffling the whole sink through the exchange
            #   (10.1 s salt vs 4.6 s coalesce(16) for a 10 M-row
            #   by-tool write at 32 cores; 320 local files commit in
            #   ~no time, while the salt path moves ~1.5 GB twice).
            spark = slim.sparkSession
            cores = spark.sparkContext.defaultParallelism
            strategy = _os.environ.get("ROUTER_WRITE_STRATEGY", "auto")
            if strategy == "auto":
                # r7: the width rule alone mis-picks for HIGH-
                # CARDINALITY partition columns — a 116-value by-day
                # sink under coalesce(16) commits tasks × values ≈ 2k
                # files (measured 13.7 s vs 7.0 s / 908 files salted).
                # So pick salt once the route's distinct value count
                # (exact, from the collected cube) exceeds the core
                # count: each shuffle task then holds ~1 value, so
                # files ≈ salt_buckets × values and parallelism is
                # full; few-value sinks keep the shuffle-free coalesce.
                n_vals = len({tuple(row[c] for c in r.partition_by) for row in mine})
                if n_vals > cores:
                    strategy = "salt"
                else:
                    strategy = "coalesce" if cores >= 16 else "salt"
            if strategy == "coalesce":
                w = w.coalesce(max(8, cores // 2))
            elif strategy == "salt":
                nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
                s = max(1, nshuf // 16)
                # deterministic salt (spark_partition_id is retry-
                # dependent: under task/stage retries rows could land
                # in different shuffle outputs) — hash stable row
                # columns
                salt_cols = [c for c in ("conv_id", "turn_idx") if c in w.columns] or [
                    c for c in w.columns if c not in r.partition_by
                ][:2]
                salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(s))
                # EXPLICIT partition count: an unnumbered
                # repartition(cols) is fair game for AQE partition
                # coalescing, which shrinks the exchange to
                # ~advisory-size partitions (24 here) and starves the
                # CPU-bound parquet/zstd encode of write tasks
                # (measured on the 10 M-row by_day sink at 32 cores:
                # 11.7 s unnumbered vs 4.8-5.8 s with the slot-count
                # pinned; file count unchanged)
                w = w.repartition(nshuf, *[F.col(c) for c in r.partition_by], salt)
        catalog.write(w, r.name, mode=mode, partition_by=r.partition_by)
        if r.group_key:
            n = Counter()
            for row in mine:
                n[tuple(row[c] for c in r.group_key)] += row["_n"]
            data = [(*k, v) for k, v in n.items()]
        else:
            data = [(sum(row["_n"] for row in mine),)]
        counts = literal_frame(slim.sparkSession, data, _counts_schema(slim, r))
        catalog.write(counts, f"{r.name}_counts", mode=mode)
        if on_done is not None:
            on_done(f"sink:{r.name}")
        if timings_out is not None:
            # per-sink wall time of this thread's write jobs — sinks
            # run CONCURRENTLY, so these overlap and don't sum to the
            # route stage wall; they localize which sink regressed
            timings_out[r.name] = _time.perf_counter() - _t0

    # sinks are independent jobs — submit concurrently so the Spark
    # scheduler fills cores across their scan/write barriers (threads
    # share the SparkSession; each .write blocks its own thread only).
    # All four in flight: the scheduler interleaves their stages, so
    # scan/commit barriers of one sink are hidden behind compute of the
    # others (oversubscription just queues tasks).
    #
    # Scale-adaptive scan splits for the fan-out (r7, guide §6/§2.2):
    # each sink re-reads the slim checkpoint, and the session default
    # split size (64 MB) can leave routes × splits far below the task
    # slots — a 278 MB slim at 10 M rows yielded ~7 scan tasks per sink
    # on 32 cores (measured route leg 16.0 → 13.1 s with right-sized
    # splits). Derive the split size from the checkpoint's actual bytes
    # so that the four sinks together fill ~2× the slots; clamp to
    # [4 MB, session default] so a big slim (real cluster) keeps the
    # large sequential splits. ROUTER_SCAN_SPLIT_MB overrides.
    conf = slim.sparkSession.conf
    cur_mpb = None
    try:
        cur_mpb = int(conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        pass
    override = _os.environ.get("ROUTER_SCAN_SPLIT_MB")
    new_mpb = None
    if override:
        new_mpb = int(override) << 20
    elif cur_mpb is not None:
        try:
            total = 0
            for uri in slim.inputFiles():
                if uri.startswith("file:"):
                    from urllib.parse import unquote, urlparse

                    total += _os.path.getsize(unquote(urlparse(uri).path))
                else:
                    total = 0
                    break
            if total:
                slots = slim.sparkSession.sparkContext.defaultParallelism
                target_splits = max(1, (2 * slots) // max(1, len(routes)))
                new_mpb = min(cur_mpb, max(4 << 20, total // target_splits))
        except Exception:
            new_mpb = None
    workers = int(_os.environ.get("ROUTER_CONCURRENCY", "4"))
    try:
        if new_mpb is not None:
            conf.set("spark.sql.files.maxPartitionBytes", str(new_mpb))
        with ThreadPoolExecutor(max_workers=max(1, workers)) as ex:
            for f in [ex.submit(write_one, i, r) for i, r in enumerate(todo)]:
                f.result()
    finally:
        if new_mpb is not None and cur_mpb is not None:
            conf.set("spark.sql.files.maxPartitionBytes", str(cur_mpb))
    return {
        r.name: catalog.read(f"{r.name}_counts", schema=_counts_schema(slim, r))
        for r in routes
    }


def routed_union_equals_source(
    slim: DataFrame, catalog: Catalog, routes: list[Route] | None = None
) -> bool:
    """Correctness gate: disjoint-route union == source (set equality
    via exceptAll both directions — FIXTURES.md §5.3). by_tool/by_role/
    by_day overlap (same ok rows three ways); rejects ∪ by_tool == all.
    """
    a = catalog.read("by_tool").unionByName(catalog.read("rejects"))
    a = align_schema(a, slim)
    b = slim.select(*slim.columns)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def align_schema(df: DataFrame, like: DataFrame) -> DataFrame:
    """Reorder + cast columns to match ``like`` — partitioned-parquet
    read-back moves partition columns to the end and re-infers their
    types (e.g. a LONG day_bucket comes back INT), so set-equality
    checks must re-align first."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema.fields]
    )
