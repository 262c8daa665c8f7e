"""The benchmark's workloads: how each lands its inputs, what one
operation is, and how each operation's output is checked.

Both are closed loops with one client: every input is landed before
timing starts, the next operation starts when the previous one has
finished, and outputs are checked after the timed operations.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import harness

# The query_block queries: one ``queries()`` entry for each operator
# module that the query surface leans on most, mapped to that module
# (the per-layer attribution of the traced run).
QUERY_MODULES = {
    "dedup_minhash_lsh_pairs": "dedup",
    "knn_bruteforce_topk": "similarity",
    "bm25_topk_docs": "retrieval",
    "pack_sequences_stats": "sampling",
    "corpus_profile_by_source": "corpus",
    "cube_margin_counts": "aggregate",
}

SINKS = ("by_tool", "by_role", "by_day", "rejects")


def land(kind: str, seed: int, **args) -> str:
    """Inputs for (kind, seed, args), generated once by a separate
    process (``gen.py``) and cached in the checkout."""
    tag = "-".join(
        [kind, f"s{seed}"] + [f"{k}{os.path.basename(str(v))}" for k, v in sorted(args.items())]
    )
    out = os.path.join(harness.WORK, "inputs", tag)
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        cmd = [sys.executable, os.path.join(harness.HERE, "gen.py"), kind, out]
        cmd += ["--seed", str(seed)]
        for k, v in args.items():
            cmd += [f"--{k}", str(v)]
        subprocess.run(cmd, check=True, timeout=600, stdout=subprocess.DEVNULL)
    return out


def fresh_dir(name: str) -> str:
    d = os.path.join(harness.WORK, "out", name)
    shutil.rmtree(d, ignore_errors=True)
    return d


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class PipelineFresh:
    """``run_pipeline`` into an empty output dir, over ``rows`` turns
    drawn by seed from a ``gen_transcripts`` pool (10 % of turns on the
    hot ``conv-0``, 0.5 % malformed, one day partition per 86,400 pool
    turns). One operation is one complete pipeline run."""

    name = "pipeline_fresh"
    pool_rows = 500_000
    rows = 25_000
    files = 4
    # A run's wall on a 4-core host, one JVM: 22.6 (cold), 7.8, 7.0, 5.9,
    # 5.6, 5.6, 4.8, 5.0, 5.1, 4.6 s, and 4.5-4.8 s after that. The JIT
    # settles only by the tenth run, more than the run budget allows;
    # four warm-up runs put the timed ones where the curve flattens.
    warm_ops = 4

    def __init__(self, seed: int):
        pool = land("transcripts", 0, rows=self.pool_rows, files=8)
        self.dir = land("sample", seed, pool=pool, rows=self.rows, files=self.files)
        self.input = os.path.join(self.dir, "input")

    def warm_up(self, spark) -> list[float]:
        """``warm_ops`` whole runs over the measured input."""
        return [self.op(spark, -1 - i)["wall"] for i in range(self.warm_ops)]

    def op(self, spark, i: int) -> dict:
        """One run, into its own output dir. Its sinks are read back by
        ``check``, after the timed runs: reading them between runs
        slowed the next run by ~15 %."""
        from s3_log_parser_spark.plans.pipeline import run_pipeline

        out = fresh_dir(f"pipe{i}")
        t0 = time.perf_counter()
        res = run_pipeline(spark, spark.read.parquet(self.input), out, run_id=f"op{i}")
        wall = time.perf_counter() - t0
        return {"wall": wall, "steps": [wall], "counts": res.sink_counts, "out": out}

    def reference(self, spark) -> dict:
        """Per-sink counts from the pure-Catalyst parse
        (``build_slim(use_sql_parser=True)``), computed once per input
        and cached beside it."""
        path = os.path.join(self.dir, "reference.json")
        if not os.path.exists(path):
            from pyspark.sql import functions as F

            from s3_log_parser_spark.plans.pipeline import build_slim

            ref = build_slim(spark.read.parquet(self.input), use_sql_parser=True)
            flags2 = F.col("flags").bitwiseAND(-2).alias("flags2")
            cube = ref.groupBy("parse_status", "tool", "role", "day_bucket", flags2).count()
            with open(path + ".tmp", "w") as f:
                json.dump([r.asDict() for r in cube.collect()], f)
            os.rename(path + ".tmp", path)
        with open(path) as f:
            return reference_counts(json.load(f))

    def check(self, spark, recs: list[dict]) -> int:
        """Failed operations among ``recs``: runs, or the sinks already
        read back from them (``sinks``)."""
        ref = self.reference(spark)
        failed = 0
        for rec in recs:
            try:
                got = rec.get("sinks") or read_sinks(spark, rec["counts"], rec["out"])
                check_sinks(got, ref)
            except Exception as e:  # a sink that cannot be read back fails too
                print(f"# check failed: {e}", file=sys.stderr)
                failed += 1
        return failed


def reference_counts(cube: list[dict]) -> dict:
    """Expected per-sink counts from the reference cube rows."""
    ref = {s: {} for s in SINKS}
    ref["rows"], ref["stream"] = 0, {}
    for r in cube:
        n = r["count"]
        ref["rows"] += n
        key = f"{r['parse_status']}|{r['flags2']}"
        ref["stream"][key] = ref["stream"].get(key, 0) + n
        if r["parse_status"] == "ok":
            for sink, col in (("by_tool", "tool"), ("by_role", "role"), ("by_day", "day_bucket")):
                k = str(r[col])
                ref[sink][k] = ref[sink].get(k, 0) + n
        else:
            k = r["parse_status"]
            ref["rejects"][k] = ref["rejects"].get(k, 0) + n
    return ref


def read_sinks(spark, sink_counts: dict, out: str) -> dict:
    """Each sink's counts table, and the rows its files hold."""
    got = {}
    for sink in SINKS:
        key = [c for c in sink_counts[sink].columns if c != "count"][0]
        counts = {str(r[key]): r["count"] for r in sink_counts[sink].collect()}
        on_disk = spark.read.parquet(os.path.join(out, sink)).count()
        got[sink] = (counts, on_disk)
    return got


def check_sinks(got: dict, ref: dict) -> None:
    """Reconciliation: rows on disk per sink = its counts table; ok +
    rejects = input; each ok sink totals the ok rows; and every sink's
    counts equal the reference."""
    for sink, (counts, on_disk) in got.items():
        expect(on_disk == sum(counts.values()), f"{sink}: {on_disk} rows on disk")
        expect(counts == ref[sink], f"{sink} counts differ from the reference")
    ok = sum(got["by_tool"][0].values())
    expect(ok + sum(got["rejects"][0].values()) == ref["rows"], "ok + rejects != input")
    for sink in ("by_role", "by_day"):
        expect(sum(got[sink][0].values()) == ok, f"{sink} total != ok rows")


class QueryBlock:
    """``QUERY_MODULES``' queries over a seeded sample of the repo's
    sf0.01 test tables, each run with ``.count()``. One operation is one
    pass over the queries, one query after another."""

    name = "query_block"
    # Warm-up runs the block's queries on CORES threads at once: on a
    # 4-core host a ten-query block took rounds of ~16 and ~6 s, against
    # one-at-a-time passes of ~37, ~15 and ~10 s. The first timed pass
    # ran a median 17 % slower than the second after two rounds (24
    # runs), and 8 % slower after three (22 runs).
    warm_rounds = 3

    def __init__(self, seed: int):
        self.dir = land("tables", seed)
        with open(os.path.join(self.dir, "reference.json")) as f:
            self.oracle = json.load(f)["rows"]

    def warm_up(self, spark) -> list[float]:
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry

        qs = entry.queries()
        walls = []
        for _ in range(self.warm_rounds):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(harness.CORES) as ex:
                list(ex.map(lambda q: qs[q](spark, self.dir).count(), QUERY_MODULES))
            walls.append(time.perf_counter() - t0)
        return walls

    def op(self, spark, i: int, on_query=None) -> dict:
        """One pass; ``on_query(name)`` is called before each query."""
        import __spark_entry__ as entry

        qs = entry.queries()
        steps, rows = [], {}
        for q in QUERY_MODULES:
            if on_query is not None:
                on_query(q)
            t0 = time.perf_counter()
            try:
                rows[q] = qs[q](spark, self.dir).count()
            except Exception as e:  # a failing query is counted, not fatal
                print(f"# {q}: {type(e).__name__}: {e}", file=sys.stderr)
                rows[q] = None
            steps.append(time.perf_counter() - t0)
        return {"wall": sum(steps), "steps": steps, "rows": rows}

    def check(self, spark, recs: list[dict]) -> int:
        """Failed queries among ``recs``: each must return as many rows
        as its DuckDB oracle."""
        failed = 0
        for rec in recs:
            for q, n in rec["rows"].items():
                if n != self.oracle[q]:
                    print(f"# {q}: {n} rows, oracle {self.oracle[q]}", file=sys.stderr)
                    failed += 1
        return failed


WORKLOADS = {w.name: w for w in (PipelineFresh, QueryBlock)}
