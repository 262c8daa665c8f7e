"""E1-E9: parsed turn → encoded ("slim") record.

The columnar analog of ``extract_log_entry``
(``/root/reference/src/s3parser.c:373-408``): every derivation here is
a Catalyst expression over the flat typed columns that the parse stage
emits (the four DJB2 hashes arrive already computed). The packed
28-byte struct's compression role is played by Parquet/Iceberg
columnar encoding (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SECONDS_PER_DAY
from .parsing import clamp_http_code


def encode_slim_flat(df: DataFrame) -> DataFrame:
    """Derive the encoded slim columns from the flat typed columns of
    ``parsing_arrow.parse_text_arrow`` (or the reference projection in
    ``plans/pipeline.py``): ``event_ts``, ``http_code_raw``,
    ``bytes_sent``, ``object_size`` and ``total_time_ms``.

    Enrichment (system/platform, role/tool) and flags attach separately
    (operators/enrich.py, operators/flags.py).
    """
    return (
        # E1 epoch (UTC-pinned; reference mktime uses local tz — fixed)
        df.withColumn("ts_unix", F.unix_timestamp(F.col("event_ts")))
        # A2 day bucket: integer day key for byte-parity with
        # s3extract.c:159 (timestamp / 86400)
        .withColumn(
            "day_bucket", (F.col("ts_unix") / SECONDS_PER_DAY).cast("long")
        )
        # E3 KB quantization (floor division by 1024)
        .withColumn("bytes_sent_kb", F.floor(F.col("bytes_sent") / 1024).cast("int"))
        .withColumn(
            "object_size_kb", F.floor(F.col("object_size") / 1024).cast("int")
        )
        # E4 ms passthrough
        .withColumn("download_time_ms", F.col("total_time_ms").cast("int"))
        # P3 domain clamp + E5 narrowing compat
        .withColumn("http_code", clamp_http_code(F.col("http_code_raw")))
        .withColumn(
            "http_code_u8", F.pmod(F.col("http_code"), F.lit(256)).cast("int")
        )
        # E6 completion percent (integer division, 0-guard)
        .withColumn(
            "completion_percent",
            F.when(
                F.col("object_size").isNull() | (F.col("object_size") == 0),
                F.lit(0),
            )
            .otherwise(F.floor(F.col("bytes_sent") * 100 / F.col("object_size")))
            .cast("int"),
        )
    )


SLIM_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "role_id",
    "tool",
    "tool_id",
    "ts",
    "ts_unix",
    "day_bucket",
    "conv_hash",
    "ip_hash",
    "key_hash",
    "tool_hash",
    "bytes_sent_kb",
    "object_size_kb",
    "download_time_ms",
    "http_code",
    "http_code_u8",
    "system_id",
    "os_id",
    "device_id",
    "platform_id",
    "platform_id_u8",
    "completion_percent",
    "flags",
    "parse_status",
]
