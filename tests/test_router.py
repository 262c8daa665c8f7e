"""Router contract: every ``{sink}_counts`` table, derived on the driver
from the one collected counts cube, equals a direct group-count of the
routed rows — whatever columns a route's predicate reads — and one
route stage launches a fixed, small number of Spark jobs."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.aggregate import group_count
from s3_log_parser_spark.operators.router import Route, default_routes, route_and_write
from s3_log_parser_spark.plans.pipeline import build_slim
from s3_log_parser_spark.sources.catalog import Catalog

OK = lambda df: F.col("parse_status") == "ok"  # noqa: E731


@pytest.fixture(scope="module")
def slim(spark, transcripts, tmp_path_factory):
    """A columnar slim checkpoint, which is what the pipeline routes."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("router_slim")))
    cat.write(build_slim(transcripts.limit(2000)), "slim")
    return cat.read("slim")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _route_and_check(spark, slim, routes, out):
    """Route ``slim``; assert each sink's counts against a direct
    group-count and its returned frame's schema against the persisted
    table's inferred one. Returns the returned count frames."""
    cat = Catalog(spark, out)
    got = route_and_write(slim, cat, routes=routes)
    for r in routes:
        persisted = spark.read.parquet(cat.path(f"{r.name}_counts"))
        assert got[r.name].schema == persisted.schema, r.name
        routed = slim.filter(r.predicate(slim))
        want = (
            group_count(routed, *r.group_key)
            if r.group_key
            else routed.agg(F.count("*").alias("count"))
        )
        assert _rows(got[r.name]) == _rows(want), r.name
        assert cat.read(r.name).count() == routed.count(), r.name
    return got


def test_custom_routes_count_only_and_empty(spark, slim, tmp_path):
    routes = [
        # predicate reads a column that no route keys on
        Route("partial", lambda df: F.col("http_code") == 206, ("tool",), ("tool",)),
        Route("n_ok", OK, ()),  # count-only: one row, the total
        Route("none", lambda df: F.col("http_code") == -1, ("tool",)),
    ]
    got = _route_and_check(spark, slim, routes, str(tmp_path / "custom"))
    assert got["partial"].count() > 0
    assert got["n_ok"].collect()[0]["count"] == slim.filter(OK(slim)).count()
    none = got["none"]
    assert none.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in none.schema.fields] == [
        ("tool", "string"),
        ("count", "bigint"),
    ]


def test_all_ok_input_writes_empty_typed_rejects(spark, slim, tmp_path):
    ok_only = slim.filter(OK(slim))
    got = _route_and_check(spark, ok_only, default_routes(), str(tmp_path / "ok"))
    assert got["rejects"].count() == 0
    assert got["rejects"].schema["parse_status"].dataType.simpleString() == "string"
    assert got["by_tool"].agg(F.sum("count")).collect()[0][0] == ok_only.count()


def test_default_routes_job_count(spark, slim, tmp_path):
    """Pins the route stage's Spark jobs on this local[8] session:
    the collected cube (shuffle map + result) 2, three salted
    partitioned sink writes (shuffle map + write) 6, the rejects write
    1 and four literal-plan counts writes 4. A per-sink probe, a
    counts shuffle or an inferred read-back adds jobs and fails this."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    got = route_and_write(slim, Catalog(spark, str(tmp_path / "jobs")))
    assert len(set(tracker.getJobIdsForGroup()) - before) == 13
    assert sorted(got) == ["by_day", "by_role", "by_tool", "rejects"]
