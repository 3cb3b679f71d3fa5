"""Route-switch truth table (main.go:362-412) + identifiability filter
(main.go:414-430)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.routing import (
    compile_identifiable,
    compile_route,
    is_log_message,
)
from cga_kinesis_to_elasticsearch_spark.schemas import RECORD_SCHEMA


def _rec(
    event_type=5,
    source_instance="APP/0",
    source_type="LOG",
    tags=None,
    app_id="guid-1",
    message="hello",
):
    return (
        "shard-0",
        "1",
        "pk",
        __import__("datetime").datetime(2024, 1, 1),
        None,
        "env1",
        event_type,
        0,
        None,
        None,
        None,
        None,
        tags or {},
        (message, 1, 0, app_id, source_type, source_instance),
        None,
        None,
        None,
        None,
        None,
    )


def _log_messages(df):
    return df.filter(is_log_message())


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        _rec(event_type=4),  # 0: dropped by F1
        _rec(source_instance="/var/log/syslog"),  # 1: disabled route
        _rec(source_instance="/var/vcap/sys/log/gorouter/access.log"),  # 2
        _rec(source_instance="/var/vcap/sys/log/director/d.log"),  # 3
        _rec(source_instance="/var/vcap/sys/log/other/x.log"),  # 4
        _rec(tags={"source_id": "gorouter"}),  # 5: kept
        _rec(source_type="APP/PROC/WEB"),  # 6: kept
        _rec(source_type="OTHER"),  # 7: default drop
        # order check: /var/log/ prefix wins over gorouter tag
        _rec(source_instance="/var/log/x", tags={"source_id": "gorouter"}),  # 8
    ]
    return spark.createDataFrame(rows, RECORD_SCHEMA).withColumn(
        "rid", F.col("sequence_number")
    )


class TestRouteSwitch:
    def test_event_type_filter(self, records):
        assert _log_messages(records).count() == 8

    def test_active_routes_only(self, records):
        out = compile_route()(_log_messages(records))
        got = {r.tags.get("source_id", ""): r.index_class for r in out.collect()}
        assert out.count() == 2
        classes = [r.index_class for r in out.collect()]
        assert classes == ["gorouter", "gorouter"]
        patterns = {r.grok_pattern for r in out.collect()}
        assert patterns == {"GENERIC"}

    def test_disabled_routes_resurrected(self, records):
        out = compile_route(enable_disabled_routes=True)(_log_messages(records))
        by_class = {
            r["index_class"]: r["grok_pattern"]
            for r in out.select("index_class", "grok_pattern").collect()
        }
        assert by_class == {
            "linux_logs": "GENERIC",
            "gorouter_access": "ROUTERACCESS",
            "bosh_director": "GENERIC",
            "var_vcap_sys_log": "GENERIC",
            "gorouter": "GENERIC",
        }
        assert out.count() == 7  # everything except event_type=4 and OTHER

    def test_first_match_wins(self, records):
        # row 8 has BOTH /var/log/ prefix and gorouter tag; the switch
        # hits the prefix arm first (drop when disabled)
        out = compile_route()(_log_messages(records))
        kept_ids = {r.rid for r in out.collect()}
        assert "9" not in kept_ids  # sequence numbers are positional

    def test_no_shuffle_in_plan(self, records):
        plan = (
            compile_route()(_log_messages(records))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # narrow ops only


def _identifiable(df, rtr_live=False):
    app_guid, identifiable = compile_identifiable(rtr_live)
    return df.filter(identifiable).select(app_guid.alias("app_guid"))


class TestIdentifiability:
    def test_keeps_app_id(self, spark):
        rows = [_rec(app_id="g1"), _rec(app_id="")]
        df = spark.createDataFrame(rows, RECORD_SCHEMA)
        assert [r.app_guid for r in _identifiable(df).collect()] == ["g1"]

    def test_rtr_app_id_fallback(self, spark):
        # the ROUTERACCESS capture struct, NULL where the pattern missed
        rows = [_rec(app_id=""), _rec(app_id=""), _rec(app_id="", message="x")]
        df = spark.createDataFrame(rows, RECORD_SCHEMA).withColumn(
            "parsed_routeraccess",
            F.when(
                F.col("log_message.message") == "hello",
                F.struct(F.lit("rtr-guid").alias("rtr_app_id")),
            ),
        )
        got = _identifiable(df, rtr_live=True).collect()
        assert [r.app_guid for r in got] == ["rtr-guid", "rtr-guid"]

    def test_null_app_id_dropped(self, spark):
        rows = [_rec(app_id=None)]
        df = spark.createDataFrame(rows, RECORD_SCHEMA)
        assert _identifiable(df).count() == 0
