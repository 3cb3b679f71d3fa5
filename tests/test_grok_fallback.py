"""Dialect-aware grok parsing (grok_parse_auto, SURVEY §2.10): the
shipped library stays on the JVM regexp path; a pattern using a
Python-only regex construct (conditional group ``(?(1)...)`` — rejected
by java.util.regex) transparently takes the Arrow-batched pandas
fallback with the identical struct output shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.grok.compiler import default_grok
from cga_kinesis_to_elasticsearch_spark.grok.spark import (
    grok_parse_auto,
    grok_parse_struct_pandas,
    java_dialect_ok,
)

# group 1 = (=); the conditional then requires digits after '=' and a
# bare word otherwise. Valid Python re, invalid Java.
COND_EXPR = r"^(=)?(?(1)%{INT:num:int}|%{WORD:word})$"


@pytest.fixture(scope="module")
def grok():
    return default_grok()


@pytest.fixture(scope="module")
def lines(spark):
    return spark.createDataFrame(
        [("=42",), ("abc",), ("=x",), ("",)], "line string"
    )


class TestDialectCheck:
    def test_library_patterns_are_java_clean(self, spark, grok):
        for name in ("ROUTERACCESS", "GENERIC", "LINUXMESSAGES"):
            assert java_dialect_ok(spark, grok.compile(name).regex)

    def test_conditional_group_rejected_by_java(self, spark, grok):
        cp = grok.compile(COND_EXPR)
        assert not java_dialect_ok(spark, cp.regex)
        # ...but is a valid Python regex with the semantics we expect
        assert cp.parse_typed("=42") == {"num": 42, "word": None} or (
            cp.parse_typed("=42").get("num") == 42
        )


class TestAutoFallback:
    def test_fallback_values(self, spark, grok, lines):
        out = grok_parse_auto(grok, lines, "line", COND_EXPR, "g")
        rows = {r.line: r.g for r in out.collect()}
        # non-participating string capture -> '' (grok empty-map
        # convention, same as the JVM path); typed '' -> NULL
        assert rows["=42"].num == 42 and rows["=42"].word == ""
        assert rows["abc"].word == "abc" and rows["abc"].num is None
        assert rows["=x"] is None  # '=' demands digits -> no match
        assert rows[""] is None

    def test_fallback_is_python_stage(self, spark, grok, lines):
        out = grok_parse_auto(grok, lines, "line", COND_EXPR, "g")
        assert "mapInPandas" in out._jdf.queryExecution().toString() or (
            "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()
        )

    def test_java_clean_pattern_stays_jvm(self, spark, grok, lines):
        out = grok_parse_auto(grok, lines, "line", "%{WORD:w}", "g")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan

    def test_condition_gates_parse(self, spark, grok, lines):
        out = grok_parse_auto(
            grok, lines, "line", COND_EXPR, "g", condition=F.col("line") != "abc"
        )
        rows = {r.line: r.g for r in out.collect()}
        assert rows["abc"] is None  # gated off despite being parseable
        assert rows["=42"].num == 42

    def test_struct_schema_matches_jvm_path(self, spark, grok, lines):
        py = grok_parse_struct_pandas(grok, lines, "line", "%{WORD:w}", "g")
        from cga_kinesis_to_elasticsearch_spark.grok.spark import grok_parse_many

        jvm = grok_parse_many(grok, lines, "line", [("g", "%{WORD:w}", None)])
        assert py.schema == jvm.schema
