"""E2 DJB2 kernel parity — the Catalyst and numpy forms agree with the
byte-exact pure-Python oracle (reference semantics
src/s3parser.c:461-477)."""

from pyspark.sql import functions as F

from s3_log_parser_spark.functions.hashes import (
    djb2_expr,
    djb2_py,
    first_path_segment,
    path_segment_hash,
)
from s3_log_parser_spark.schemas import DJB2_SEED, TOOL_NAMES

# golden values computed from the reference algorithm
GOLDEN = {
    "": DJB2_SEED,
    "a": DJB2_SEED * 33 + ord("a"),
    "tech-talk": 2873512322,
}


def test_djb2_py_golden():
    for s, want in GOLDEN.items():
        assert djb2_py(s) == want
    assert djb2_py(None) == DJB2_SEED
    # uint32 wraparound on long input
    assert djb2_py("x" * 100) < 2**32


def test_djb2_spark_forms_match_python(spark):
    vals = TOOL_NAMES + ["", "203.0.113.7", "/show/ep.mp3", "x" * 50]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", djb2_expr(F.col("s")).alias("expr")).collect()
    for r in rows:
        assert r["expr"] == djb2_py(r["s"]), f"expr mismatch for {r['s']!r}"


def test_djb2_null_is_seed(spark):
    df = spark.createDataFrame([(None,)], "s string")
    r = df.select(djb2_expr(F.col("s")).alias("expr")).collect()[0]
    assert r["expr"] == DJB2_SEED


def test_extract_path_semantics(spark):
    # mirrors extract_path (src/s3parser.c:420-451): strip leading /,
    # take until next /, hash; NULL/'' → 5381
    cases = [
        ("/tech-talk/episode-1.mp3", djb2_py("tech-talk")),
        ("tech-talk/episode-1.mp3", djb2_py("tech-talk")),
        ("/solo", djb2_py("solo")),
        ("", DJB2_SEED),
        (None, DJB2_SEED),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "key string")
    got = [
        r[0]
        for r in df.select(path_segment_hash(F.col("key"))).collect()
    ]
    assert got == [c[1] for c in cases]


def test_first_path_segment(spark):
    df = spark.createDataFrame(
        [("/a/b.mp3",), ("a/b",), ("/x",)], "k string"
    )
    got = [r[0] for r in df.select(first_path_segment("k")).collect()]
    assert got == ["a", "a", "x"]


def test_djb2_numpy_parity():
    """the vectorized Arrow-buffer kernel must be byte-exact with the
    pure-Python oracle — incl. unicode, NULL, empty, long strings,
    sliced arrays (non-zero offset) and large_string offsets."""
    import pyarrow as pa

    from s3_log_parser_spark.functions.hashes import djb2_numpy

    vals = [
        "", "a", "tech-talk", "héllo wörld ünïcode", None,
        "x" * 5000, "conv-12345", "/show/ep.mp3",
    ]
    want = [djb2_py(v) for v in vals]
    assert list(djb2_numpy(pa.array(vals, pa.string()))) == want
    assert list(djb2_numpy(pa.array(vals, pa.large_string()))) == want
    sl = pa.array(vals, pa.string()).slice(2, 4)
    assert list(djb2_numpy(sl)) == want[2:6]
    assert list(djb2_numpy(pa.array([], pa.string()))) == []
