"""Enrichment join semantics (J1-J4): suffix strip, canonicalization,
missing-key tolerance, unknown-origin skip
(caching_lazyfill.go:88-150, 219-265; main.go:331-349, 414-430)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
    compile_enrich,
    flatten_dimensions,
    strip_app_suffixes,
)
from cga_kinesis_to_elasticsearch_spark.schemas import (
    CF_APPS_SCHEMA,
    CF_ORGS_SCHEMA,
    CF_SPACES_SCHEMA,
    RECORD_SCHEMA,
)


@pytest.fixture(scope="module")
def dims(spark):
    apps = spark.createDataFrame(
        [
            ("env1", "AA-1", "shop-venerable", "SP-1", {}),
            ("env1", "aa-2", "api-blue", "sp-1", {}),
            ("env1", "aa-3", "worker-green-blue", "sp-2", {}),  # only last suffix
            ("env1", "aa-4", "plain", "sp-missing", {}),  # space not in dim
            ("env1", "aa-5", "optout", "sp-1", {"F2S_DISABLE_LOGGING": "true"}),
        ],
        CF_APPS_SCHEMA,
    )
    spaces = spark.createDataFrame(
        [
            ("env1", "SP-1", "prod", "OG-1"),
            ("env1", "sp-2", "dev", "og-missing"),  # org not in dim
        ],
        CF_SPACES_SCHEMA,
    )
    orgs = spark.createDataFrame([("env1", "og-1", "acme")], CF_ORGS_SCHEMA)
    return flatten_dimensions(apps, spaces, orgs)


def _rec(app_id, origin="env1"):
    return (
        "s",
        "1",
        "pk",
        dt.datetime(2024, 1, 1),
        None,
        origin,
        5,
        0,
        None,
        None,
        None,
        None,
        {},
        ("m", 1, 0, app_id, "LOG", "APP/0"),
        None,
        None,
        None,
        None,
        None,
    )


def _enrich(stream, dims, allowed_origins):
    join, cols = compile_enrich(allowed_origins)
    return join(stream, dims).withColumns(cols)


def _enrich_one(spark, dims, app_id, origin="env1"):
    df = spark.createDataFrame([_rec(app_id, origin)], RECORD_SCHEMA)
    out = _enrich(df, dims, allowed_origins=["env1", "env2"])
    return out.select(
        "`@cf.app`", "`@cf.app_id`", "`@cf.space`", "`@cf.space_id`",
        "`@cf.org`", "`@cf.org_id`"
    ).collect()[0]


class TestSuffixStrip:
    def test_strip_cases(self, spark):
        df = spark.createDataFrame(
            [("a-venerable",), ("b-blue",), ("c-green",), ("d-green-blue",), ("plain",), ("-blue",)],
            ["n"],
        )
        got = [r.s for r in df.select(strip_app_suffixes(F.col("n")).alias("s")).collect()]
        # first matching suffix in list order, stripped once
        assert got == ["a", "b", "c", "d-green", "plain", ""]


class TestFlattenedDim:
    def test_snowflake_resolution(self, dims):
        rows = {r.guid_lc: r for r in dims.collect()}
        full = rows["aa-1"]
        assert full.app_name == "shop"  # -venerable stripped
        assert full.space_name == "prod"
        assert full.org_name == "acme"
        assert full.org_guid == "OG-1"

    def test_missing_space_tolerated(self, dims):
        r = {x.guid_lc: x for x in dims.collect()}["aa-4"]
        assert r.space_name == "" and r.org_name == "" and r.org_guid == ""
        assert r.space_guid == "sp-missing"  # app's own value survives

    def test_missing_org_tolerated(self, dims):
        r = {x.guid_lc: x for x in dims.collect()}["aa-3"]
        assert r.space_name == "dev"
        assert r.org_guid == "og-missing" and r.org_name == ""

    def test_optout_flag(self, dims):
        r = {x.guid_lc: x for x in dims.collect()}["aa-5"]
        assert r.ignored_app is True


class TestEnrichJoin:
    def test_known_app(self, spark, dims):
        r = _enrich_one(spark, dims, "AA-2")  # mixed case on stream side
        assert r["@cf.app"] == "api"
        assert r["@cf.app_id"] == "AA-2"  # original guid, not canonicalized
        assert r["@cf.space"] == "prod"
        assert r["@cf.space_id"] == "sp-1"
        assert r["@cf.org"] == "acme"
        assert r["@cf.org_id"] == "OG-1"

    def test_unknown_app_empty_strings(self, spark, dims):
        # IgnoreMissingApps=true: record flows, empty-string columns
        r = _enrich_one(spark, dims, "zz-404")
        assert r["@cf.app"] == "" and r["@cf.space"] == "" and r["@cf.org"] == ""
        assert r["@cf.app_id"] == "zz-404"

    def test_unknown_origin_nulls(self, spark, dims):
        # getCFCache error -> enrichment skipped -> columns absent
        r = _enrich_one(spark, dims, "aa-2", origin="envX")
        assert r["@cf.app"] is None and r["@cf.app_id"] is None
        assert r["@cf.org_id"] is None

    def test_broadcast_join_in_plan(self, spark, dims):
        df = spark.createDataFrame([_rec("aa-2")], RECORD_SCHEMA)
        plan = (
            _enrich(df, dims, ["env1"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
