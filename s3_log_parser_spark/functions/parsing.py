"""P1-P8: grok parse of the turn ``text`` payload.

The reference's heart is a 268-line single-pass positional tokenizer
(``/root/reference/src/s3parser.c:93-360``: space-delimited with
quote-toggling and bracket-depth tracking). The format is regular, so
here it is ONE anchored regex (the "pattern bank"), used two ways:

- ``functions/parsing_arrow.parse_text_arrow`` — the production parse
  of both the batch and the streaming slim plan: a capture-free DFA
  match of this pattern for validity, positional Arrow splits for the
  fields.
- :func:`parse_text_sql` — the independent reference: pure-Catalyst
  ``regexp_extract`` per field from the same pattern, returning the
  full ``parsed`` struct. Tests and the benchmark's reconciliation
  compare the production parse against it; the byte-exact round trip
  (:func:`reassemble_text`) is checked on it.

Typed casts (P4), http-code domain clamp (P3), timestamp parse (P2) and
range split (P5) happen *after* extraction in Catalyst so failures feed
an explicit ``parse_status`` column instead of the reference's silent
zeroing (src/s3parser.c:165-171, 216-218 — SURVEY.md §1.3).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import PARSED_FIELDS, PARSED_RAW_STRUCT

# field-name order must match PARSED_FIELDS / reassembly
_FIELD_PATTERNS: list[tuple[str, str]] = [
    ("owner", r"(?P<owner>\S+)"),
    ("bucket", r"(?P<bucket>\S+)"),
    ("ts_str", r"\[(?P<ts_str>[^\]]*)\]"),
    ("remote_ip", r"(?P<remote_ip>\S+)"),
    ("requester", r"(?P<requester>\S+)"),
    ("req_id", r"(?P<req_id>\S+)"),
    ("operation", r"(?P<operation>\S+)"),
    ("key", r"(?P<key>\S+)"),
    ("request_uri", r'"(?P<request_uri>[^"]*)"'),
    ("http_code", r"(?P<http_code>\d+)"),
    ("error_code", r"(?P<error_code>\S+)"),
    ("bytes_sent", r"(?P<bytes_sent>\S+)"),
    ("object_size", r"(?P<object_size>\S+)"),
    ("total_time_ms", r"(?P<total_time_ms>\S+)"),
    ("turnaround_ms", r"(?P<turnaround_ms>\S+)"),
    ("referrer", r'"(?P<referrer>[^"]*)"'),
    ("user_agent", r'"(?P<user_agent>[^"]*)"'),
    ("version_id", r"(?P<version_id>\S+)"),
    ("host_id", r"(?P<host_id>\S+)"),
    ("sig_version", r"(?P<sig_version>\S+)"),
    ("cipher", r"(?P<cipher>\S+)"),
    ("auth_type", r"(?P<auth_type>\S+)"),
    ("host_header", r"(?P<host_header>\S+)"),
    ("tls_version", r"(?P<tls_version>\S+)"),
    ("access_point_arn", r"(?P<access_point_arn>\S+)"),
    ("acl_required", r"(?P<acl_required>\S+)"),
]

# optional trailing 27th field: quoted Range header, only on 206 rows
# (reference: src/s3parser.c:323-340; generator src/fake_logs.c:94-99)
_RANGE_PATTERN = r' "(?P<range_header>[^"]*)"'

S3_LINE_PATTERN = (
    "^" + " ".join(p for _, p in _FIELD_PATTERNS) + f"(?:{_RANGE_PATTERN})?$"
)

TS_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"  # P2 — src/s3parser.c:161 strptime fmt

_INT_FIELDS = {n for n, t in PARSED_FIELDS if t.typeName() in ("integer", "long")}


def parse_text_sql(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Catalyst-only reference parse: ``regexp_extract`` per field from
    the pattern bank → ``parsed`` struct, ``event_ts``, ``parse_status``.

    ``regexp_extract`` needs numbered groups and returns '' both for a
    group that did not take part and for an empty match, so the
    optional range is wrapped in one more group: the range is present
    iff that outer group (at least the 3 chars ``' ""'``) is non-empty,
    which keeps a matched empty range ``""`` apart from no range.
    """
    fields = " ".join(_plain_groups(p) for _, p in _FIELD_PATTERNS)
    plain = f"^{fields}({_plain_groups(_RANGE_PATTERN)})?$"
    text = F.col(text_col)
    n = len(_FIELD_PATTERNS)  # group i+1 = field i; n+1 = outer range; n+2 = range
    exprs = [
        F.regexp_extract(text, plain, i + 1).alias(name)
        for i, (name, _) in enumerate(_FIELD_PATTERNS)
    ]
    exprs.append(
        F.when(
            F.regexp_extract(text, plain, n + 1) != "",
            F.regexp_extract(text, plain, n + 2),
        ).alias("range_header")
    )
    # regexp_extract also returns '' on a miss — a match probe tells a
    # bad_format line apart
    raw = F.when(text.rlike(plain), F.struct(*exprs)).cast(PARSED_RAW_STRUCT)
    r = F.col("_raw")
    # try_cast: NULL on non-numeric ('-') in BOTH ANSI modes — a plain
    # cast throws CAST_INVALID_INPUT under ANSI
    fields_typed = [
        (r[name].try_cast(typ) if name in _INT_FIELDS else r[name]).alias(name)
        for name, typ in PARSED_FIELDS
    ]
    # try_to_timestamp: NULL on malformed input in BOTH ANSI modes (the
    # bad_time rows would throw CANNOT_PARSE_TIMESTAMP under ANSI)
    ts = F.try_to_timestamp(r["ts_str"], F.lit(TS_FORMAT))
    return (
        df.withColumn("_raw", raw)
        .withColumn("parsed", F.struct(*fields_typed))
        .withColumn("event_ts", ts)
        .withColumn(
            "parse_status",
            F.when(r["owner"].isNull(), F.lit("bad_format"))
            .when(r["ts_str"].isNotNull() & ts.isNull(), F.lit("bad_time"))
            .otherwise(F.lit("ok")),
        )
        .drop("_raw")
    )


def _plain_groups(pattern: str) -> str:
    """named groups → numbered groups, for JVM ``regexp_extract``."""
    return re.sub(r"\(\?P<[^>]+>", "(", pattern)


def clamp_http_code(col: Column | str) -> Column:
    """P3: 200 ≤ code ≤ 599 else 0 (src/s3parser.c:214-223)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.between(200, 599), c).otherwise(F.lit(0)).cast("int")


def parse_range(col: Column | str) -> tuple[Column, Column]:
    """P5 *intended* semantics: '"bytes=0-12345"' → (start, end).

    The reference's sscanf pattern lacks the '=' so real ranges never
    populate (src/s3parser.c:334 vs fake_logs.c:98) — we implement the
    intent and accept both spellings.
    """
    c = F.col(col) if isinstance(col, str) else col
    # regexp_extract returns '' on no-match → try_cast gives NULL in
    # BOTH ANSI modes (plain cast throws CAST_INVALID_INPUT under ANSI)
    start = F.regexp_extract(c, r"bytes=?(\d+)-(\d+)", 1).try_cast("long")
    end = F.regexp_extract(c, r"bytes=?(\d+)-(\d+)", 2).try_cast("long")
    return start, end


def reassemble_text(parsed: Column) -> Column:
    """Rebuild the raw line from the parsed struct — byte-exact inverse
    of the grok bank for parse_status='ok' rows (north_rule round-trip).
    """
    p = parsed
    base = F.concat_ws(
        " ",
        p["owner"],
        p["bucket"],
        F.concat(F.lit("["), p["ts_str"], F.lit("]")),
        p["remote_ip"],
        p["requester"],
        p["req_id"],
        p["operation"],
        p["key"],
        F.concat(F.lit('"'), p["request_uri"], F.lit('"')),
        p["http_code"].cast("string"),
        p["error_code"],
        p["bytes_sent"].cast("string"),
        p["object_size"].cast("string"),
        p["total_time_ms"].cast("string"),
        p["turnaround_ms"].cast("string"),
        F.concat(F.lit('"'), p["referrer"], F.lit('"')),
        F.concat(F.lit('"'), p["user_agent"], F.lit('"')),
        p["version_id"],
        p["host_id"],
        p["sig_version"],
        p["cipher"],
        p["auth_type"],
        p["host_header"],
        p["tls_version"],
        p["access_point_arn"],
        p["acl_required"],
    )
    return F.when(
        p["range_header"].isNotNull(),
        F.concat(base, F.lit(' "'), p["range_header"], F.lit('"')),
    ).otherwise(base)


def contains_pattern(col: Column | str, pattern: str) -> Column:
    """P6 check_pattern (src/s3parser.c:662-680): plain substring, 0/1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.contains(pattern), F.lit(1)).otherwise(F.lit(0))


def json_field(col: Column | str, field: str) -> Column:
    """Null-safe scalar extraction from a JSON-string column (beyond
    the reference, which only WRITES JSON — src/s3extract.c:232-258;
    an analytics engine over event logs also has to READ the
    semi-structured ``props`` payloads they carry).

    ``get_json_object`` is codegen'd JVM-side and returns NULL on
    malformed input or a missing key — never throws, even ANSI-on —
    so the malformed slice of a 100 TB corpus degrades to NULLs the
    caller can count, not a failed stage. For wide extraction of many
    fields prefer ``F.from_json`` with an explicit schema (one parse
    per row instead of one per field); for a single scalar this form
    skips schema plumbing and prunes to the one key.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{field}")
