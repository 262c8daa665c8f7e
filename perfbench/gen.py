"""The benchmark's generating process: lands a workload's inputs on
disk, with the reference answers that need no Spark.

    python3 perfbench/gen.py transcripts OUT --seed S --rows N --files F
    python3 perfbench/gen.py sample OUT --pool POOL --seed S --rows N --files F
    python3 perfbench/gen.py tables OUT --seed S

``transcripts`` runs ``sources.gen.gen_transcripts`` with the module's
``SEED`` set to ``S`` (in this process only) and writes ``F`` equal
parquet files. It lands one large pool per checkout: a Spark session
costs ~20 s to start and warm, too much to pay for every seed.

``sample`` draws ``N`` of the pool's turns, chosen by seed ``S``, into
``F`` equal parquet files with pyarrow. (Their reference counts need
the program's own parse, so the benchmark computes them, untimed,
after its timed runs.)

``tables`` draws, by seed ``S``, 90 % of the rows of each table the
benchmark queries read from the repo's sf0.01 test data (kept in
``data/sf0.01``), and records each query's DuckDB ``oracle_sql()`` row
count over the files it wrote.

Each writes into ``OUT.tmp`` and rename it to ``OUT`` when complete, so
an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# The tables of the repo's sf0.01 test data (seed 42; see TESTDATA.md)
# that the benchmark queries read, kept in ``data/sf0.01``.
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ("documents", "embeddings", "events")
# A seed draws this share of each table's rows.
SHARE = 0.9


def transcripts(out: str, seed: int, rows: int, files: int) -> None:
    spark = harness.start_spark("perfbench-gen")
    try:
        import s3_log_parser_spark.sources.gen as gen

        gen.SEED = seed
        # round-robin into equal files: the generator's conv_id window
        # leaves AQE-coalesced, uneven partitions otherwise
        gen.gen_transcripts(spark, rows=rows, partitions=files).repartition(
            files
        ).write.parquet(os.path.join(out, "input"))
    finally:
        harness.stop_spark(spark)


def sample(out: str, pool: str, seed: int, rows: int, files: int) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(pool, "input"), coerce_int96_timestamp_unit="us")
    pick = np.sort(np.random.default_rng(seed).choice(src.num_rows, rows, replace=False))
    turns = src.take(pick).replace_schema_metadata(None)
    os.makedirs(os.path.join(out, "input"))
    for k, part in enumerate(np.array_split(np.arange(rows), files)):
        pq.write_table(
            turns.slice(part[0], len(part)),
            os.path.join(out, "input", f"part-{k:05d}.parquet"),
            compression="zstd",
            use_deprecated_int96_timestamps=True,  # as Spark writes them
        )


def tables(out: str, seed: int) -> None:
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from workloads import QUERY_MODULES

    rng = np.random.default_rng(seed)
    for name in TABLES:
        tb = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        pick = rng.choice(tb.num_rows, round(SHARE * tb.num_rows), replace=False)
        pq.write_table(tb.take(np.sort(pick)), os.path.join(out, f"{name}.parquet"))
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracles = entry.oracle_sql()
    counts = {q: len(con.sql(oracles[q]).fetchall()) for q in QUERY_MODULES}
    con.close()
    with open(os.path.join(out, "reference.json"), "w") as f:
        json.dump({"rows": counts}, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["transcripts", "sample", "tables"])
    ap.add_argument("out")
    ap.add_argument("--pool")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--files", type=int, default=0)
    a = ap.parse_args()
    harness.prepare_env()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if a.kind == "transcripts":
        transcripts(tmp, a.seed, a.rows, a.files)
    elif a.kind == "sample":
        sample(tmp, a.pool, a.seed, a.rows, a.files)
    else:
        tables(tmp, a.seed)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
