"""Arrow-native fused parse — the one production parse, batch and
streaming (``plans.pipeline.parse_encode``).

Why Arrow: a pandas grok UDF allocates ~27 Python string objects per
row; at 32 concurrent workers that saturates the memory bus/allocator
and the parse stage stops scaling (measured: extract-only 29 s on 32
cores vs 19 s on 8 — negative scaling). This kernel keeps every
per-row operation inside Arrow C++ kernels via ``mapInArrow``:

- validity via ONE capture-free RE2 match (pure DFA — a 10-capture
  ``extract_regex`` falls back to RE2's ~9× slower capture engines,
  measured 86% of the old kernel) + positional field extraction with
  plain-char ``split_pattern`` / ``list_element`` C++ kernels, invalid
  rows shape-normalized through a dummy line and masked back to NULL;
- DJB2 via dictionary-encode → hash the (small) dictionary in Python →
  ``take`` back, so Python cost is O(distinct), not O(rows);
- ``strptime`` + explicit UTC-offset arithmetic for the timestamp
  (honoring %z, unlike the reference's local-time mktime — SURVEY P2);
- guarded casts (digit-mask → cast) for the numeric fields.

Its slim rows equal those of the independent reference,
``parsing.parse_text_sql`` + ``hashes.djb2_expr`` (pinned by
tests/test_pipeline.py, tests/test_parsing.py and the fuzz in
tests/test_property_roundtrip.py).
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .parsing import S3_LINE_PATTERN

# capture-free twin of the full line pattern: with zero capture groups
# RE2 stays in its DFA (a single linear scan); with 10 captures it falls
# back to the ~9× slower capture engines. Validity is decided by this
# DFA match, fields by positional splits (see parse_text_arrow).
VALIDITY_PATTERN = re.sub(r"\(\?P<[a-z_]+>", "(?:", S3_LINE_PATTERN)

# canonical well-formed line substituted for invalid rows so the
# positional split kernels see a uniform shape (every extracted field
# is masked back to NULL afterwards via the validity mask)
_DUMMY_LINE = (
    "o b [03/May/2025:20:08:12 +0000] 1.2.3.4 - R REST.GET.OBJECT "
    '/t/k.mp3 "GET /t/k.mp3 HTTP/1.1" 206 - 1 2 3 4 "-" "ua" '
    "- h S c A hh T a f"
)

_OUT_FIELDS = [
    ("event_ts", T.TimestampType()),
    ("parse_status", T.StringType()),
    ("ip_hash", T.LongType()),
    ("key_hash", T.LongType()),
    ("tool_hash", T.LongType()),
    ("conv_hash", T.LongType()),
    ("http_code_raw", T.IntegerType()),
    ("bytes_sent", T.LongType()),
    ("object_size", T.LongType()),
    ("total_time_ms", T.IntegerType()),
    ("byte_start", T.LongType()),
    ("byte_end", T.LongType()),
    ("user_agent", T.StringType()),
]


def parse_text_arrow(
    df: DataFrame, text_col: str = "text", conv_col: str = "conv_id"
) -> DataFrame:
    """fused grok+DJB2+timestamp parse as a mapInArrow transform.

    Appends the typed slim-parse columns to the input columns and DROPS
    ``text_col`` from the output: nothing downstream reads the raw line
    once it's parsed, and NOT re-serializing ~440 B/row back across the
    Arrow socket saves ~4.4 GB of worker→JVM transfer at 10 M rows
    (measured ~1.5 s of the parse stage on local[32]).
    """
    in_schema = df.schema
    out_schema = T.StructType(
        [f for f in in_schema.fields if f.name != text_col]
        + [T.StructField(n, t, True) for n, t in _OUT_FIELDS]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        from .hashes import djb2_numpy

        def dict_hash(arr: pa.Array) -> pa.Array:
            """DJB2 per distinct value; NULL → 5381 (reference NULL guard).

            dictionary-encode → numpy DJB2 over the (deduplicated)
            dictionary's Arrow buffers → take back. Cost is O(distinct
            bytes) of VECTORIZED numpy work — no per-string Python, so
            a high-cardinality column (conv_id/key at real scale, where
            the dictionary approaches batch size) stays cheap instead
            of degenerating to per-row Python.
            """
            d = pc.dictionary_encode(arr)
            lut = pa.array(djb2_numpy(d.dictionary), pa.int64())
            hashed = pc.take(lut, d.indices)
            return pc.fill_null(hashed, 5381)

        def digit_cast(arr: pa.Array, typ: pa.DataType) -> pa.Array:
            ok = pc.match_substring_regex(arr, r"^[0-9]+$")
            masked = pc.if_else(pc.fill_null(ok, False), arr, pa.scalar(None, pa.string()))
            return pc.cast(masked, typ)

        for batch in batches:
            text = batch.column(batch.schema.get_field_index(text_col))
            conv = batch.column(batch.schema.get_field_index(conv_col))

            # validity: one capture-free DFA pass (same regex shape the
            # slower engines would match — ok ≡ "owner capture non-null"
            # of the old extract_regex form, pinned by the parser
            # equality tests against the SQL reference)
            okdfa = pc.fill_null(
                pc.match_substring_regex(text, VALIDITY_PATTERN), False
            )
            # invalid rows get a canonical dummy so every positional
            # split below sees a uniform shape; all their fields are
            # masked back to NULL at the end
            safe = pc.if_else(
                okdfa, pc.fill_null(text, ""), pa.scalar(_DUMMY_LINE)
            )

            # positional extraction via plain-char splits (pure C++
            # kernels, ~2.6× faster than the 10-capture extract_regex):
            # quote segments: 0 head | 1 uri | 2 mid | 3 ref | 4 ' ' |
            # 5 user_agent | 6 tail [| 7 range | 8 ''] — fields we need
            # live in 0/2/5, present in every valid line. Unquoted S3
            # fields cannot contain '"' (URL-encoded in real logs).
            qs = pc.split_pattern(safe, '"')

            def le_s(lst, i):
                # NULL-safe list_element: out-of-range → NULL instead of
                # raising (shape-degenerate rows have short lists)
                return pc.list_element(
                    pc.list_slice(lst, i, i + 1, return_fixed_size_list=True), 0
                )

            head = le_s(qs, 0)
            mid_toks = pc.split_pattern(le_s(qs, 2), " ")

            # head = "owner bucket [ts…] ip requester req_id op key ".
            # The bracketed timestamp may contain ANY number of spaces
            # (grammar: \[[^\]]*\]), so LEFT-positional token indices
            # silently shift on 1-/3-token brackets — the 5 fields after
            # the bracket are \S+ though, so splitting the last 6 spaces
            # from the RIGHT pins ip/key regardless of bracket content:
            # [prefix, ip, requester, req_id, operation, key, ''].
            tail6 = pc.split_pattern(head, " ", max_splits=6, reverse=True)
            prefix3 = pc.split_pattern(le_s(tail6, 0), " ", max_splits=2)
            ts_tok = le_s(prefix3, 2)  # "[…]" incl. internal spaces

            # alignment gate: rows that matched the validity DFA but
            # whose head does not decompose as 2 tokens + bracket +
            # 5 tokens (only possible when the bracket content itself
            # contains a '"', which truncates the quote split) get
            # their fields masked to NULL + bad_time instead of being
            # silently extracted from the wrong tokens (ADVICE r3 #1).
            shape_ok = pc.and_(
                pc.and_(
                    pc.equal(pc.list_value_length(tail6), 7),
                    pc.equal(pc.list_value_length(prefix3), 3),
                ),
                pc.and_(
                    pc.fill_null(pc.starts_with(ts_tok, "["), False),
                    pc.fill_null(pc.ends_with(ts_tok, "]"), False),
                ),
            )
            okf = pc.and_(okdfa, shape_ok)

            def masked(arr, default=None):
                return pc.if_else(okf, arr, pa.scalar(default, arr.type))

            ua = masked(le_s(qs, 5))
            ip = masked(le_s(tail6, 1))
            key = masked(le_s(tail6, 5))

            # timestamp: the bracket must hold exactly "date offset"
            # (the %d/%b/%Y:%H:%M:%S %z shape); any other token count
            # → bad_time, matching the SQL reference's strict format
            # parse instead of extracting from shifted tokens
            ts_parts = pc.split_pattern(ts_tok, " ")
            base = pc.if_else(
                pc.equal(pc.fill_null(pc.list_value_length(ts_parts), 0), 2),
                pc.strptime(
                    # full-consume parse: trailing junk after the
                    # seconds field must fail (slicing to a fixed 21
                    # chars would silently accept "…:12:123")
                    pc.utf8_slice_codeunits(le_s(ts_parts, 0), 1, 1 << 30),
                    format="%d/%b/%Y:%H:%M:%S",
                    unit="us",
                    error_is_null=True,
                ),
                pa.scalar(None, pa.timestamp("us")),
            )
            # offset handling via the (tiny) distinct-offset dictionary;
            # strict "±HHMM]" shape — a malformed offset is bad_time
            # (NULL), not a silent +0000. Domain = java's: ZoneOffset
            # caps at ±18:00 and requires MM ≤ 59, so anything looser
            # here would diverge from the SQL reference (found by the
            # cross-parser fuzz: '-2359' parses under python %z but
            # not java)
            od = pc.dictionary_encode(le_s(ts_parts, 1))

            def off_secs(v):
                if (
                    v is None
                    or len(v) != 6
                    or v[0] not in "+-"
                    or v[5] != "]"
                    # ASCII digits only: str.isdigit() accepts unicode
                    # digits (e.g. U+0660) that python %z / java reject
                    or not all(c in "0123456789" for c in v[1:5])
                ):
                    return None
                hh, mm = int(v[1:3]), int(v[3:5])
                s = hh * 3600 + mm * 60
                if mm > 59 or s > 18 * 3600:
                    return None
                return -s if v[0] == "-" else s

            olut = pa.array(
                [off_secs(v) for v in od.dictionary.to_pylist()], pa.int64()
            )
            osec = pc.take(olut, od.indices)
            event_ts = masked(
                pc.subtract(
                    base,
                    pc.cast(pc.multiply(osec, 1_000_000), pa.duration("us")),
                )
            )

            # shape-degenerate rows still matched the grammar (okdfa),
            # so they classify as bad_time (unparseable timestamp — the
            # SQL reference's verdict), never bad_format
            status = pc.if_else(
                pc.invert(okdfa),
                pa.scalar("bad_format"),
                pc.if_else(
                    pc.is_null(event_ts), pa.scalar("bad_time"), pa.scalar("ok")
                ),
            )

            seg = pc.struct_field(
                pc.extract_regex(pc.fill_null(key, ""), pattern=r"^/?(?P<seg>[^/]*)"),
                "seg",
            )
            # extract_path: NULL/'' key → seed (src/s3parser.c:425-428)
            # optional trailing quoted range = quote segment 7 when
            # present (fixed-size slice keeps row alignment, NULL when
            # the line has no range — and the dummy has none, so invalid
            # rows are NULL for free)
            range_header = pc.list_element(
                pc.list_slice(qs, 7, 8, return_fixed_size_list=True), 0
            )
            rng = pc.extract_regex(
                pc.fill_null(range_header, ""),
                pattern=r"bytes=?(?P<s>[0-9]+)-(?P<e>[0-9]+)",
            )

            cols = {
                "event_ts": event_ts,
                "parse_status": status,
                "ip_hash": dict_hash(ip),
                "key_hash": dict_hash(key),
                "tool_hash": dict_hash(seg),
                "conv_hash": dict_hash(conv),
                "http_code_raw": masked(digit_cast(le_s(mid_toks, 1), pa.int32())),
                "bytes_sent": masked(digit_cast(le_s(mid_toks, 3), pa.int64())),
                "object_size": masked(digit_cast(le_s(mid_toks, 4), pa.int64())),
                "total_time_ms": masked(digit_cast(le_s(mid_toks, 5), pa.int32())),
                "byte_start": masked(pc.cast(pc.struct_field(rng, "s"), pa.int64())),
                "byte_end": masked(pc.cast(pc.struct_field(rng, "e"), pa.int64())),
                "user_agent": ua,
            }
            keep = [
                (fld.name, batch.column(i))
                for i, fld in enumerate(batch.schema)
                if fld.name != text_col
            ]
            arrays = [c for _, c in keep] + [
                pa.chunked_array([c]).combine_chunks()
                if isinstance(c, pa.ChunkedArray)
                else c
                for c in cols.values()
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=[n for n, _ in keep] + list(cols)
            )

    return df.mapInArrow(run, out_schema)
