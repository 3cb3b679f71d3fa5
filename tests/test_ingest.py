"""Ingest-pipeline interpreter semantics (operators/ingest.py): each
processor, chain ordering, plan-time validation, and the single-
projection guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
    apply_ingest_pipeline,
    compile_pipeline,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, " Hello World ", "7", "2024-01-02 03:04:05")],
        "id long, msg string, num string, when string",
    )


class TestProcessors:
    def test_full_chain(self, spark):
        out = apply_ingest_pipeline(
            _df(spark),
            [
                {"trim": {"field": "msg"}},
                {"lowercase": {"field": "msg"}},
                {"gsub": {"field": "msg", "pattern": "o", "replacement": "0"}},
                {"split": {"field": "msg", "separator": " "}},
                {"rename": {"field": "num", "target_field": "n"}},
                {"convert": {"field": "n", "type": "int"}},
                {"set": {"field": "ver", "value": 3}},
                {"copy": {"field": "id2", "from": "id"}},
                {
                    "date": {
                        "field": "when",
                        "target_field": "day",
                        "output_format": "yyyy-MM-dd",
                    }
                },
                {"remove": {"field": "when"}},
            ],
        ).collect()[0]
        assert out.msg == ["hell0", "w0rld"]
        assert out.n == 7 and out.ver == 3 and out.id2 == 1
        assert out.day == "2024-01-02"
        assert "when" not in out.asDict()

    def test_processor_order_matters(self, spark):
        # gsub before vs after lowercase — sequential semantics
        df = spark.createDataFrame([("AbA",)], "s string")
        first = apply_ingest_pipeline(
            df,
            [
                {"gsub": {"field": "s", "pattern": "A", "replacement": "x"}},
                {"lowercase": {"field": "s"}},
            ],
        ).collect()[0].s
        second = apply_ingest_pipeline(
            df,
            [
                {"lowercase": {"field": "s"}},
                {"gsub": {"field": "s", "pattern": "A", "replacement": "x"}},
            ],
        ).collect()[0].s
        assert first == "xbx" and second == "aba"

    def test_convert_failure_modes(self, spark):
        df = spark.createDataFrame([("abc",)], "v string")
        # ignore_failure: true -> null (ES on_failure semantics)
        out = apply_ingest_pipeline(
            df,
            [{"convert": {"field": "v", "type": "int", "ignore_failure": True}}],
        ).collect()[0]
        assert out.v is None
        # default: ANSI cast raises at execution
        with pytest.raises(Exception):
            apply_ingest_pipeline(
                df, [{"convert": {"field": "v", "type": "int"}}]
            ).collect()

    def test_plan_time_validation(self, spark):
        df = _df(spark)
        with pytest.raises(ValueError, match="unknown field"):
            apply_ingest_pipeline(df, [{"remove": {"field": "nope"}}])
        with pytest.raises(ValueError, match="unsupported processor"):
            apply_ingest_pipeline(df, [{"painless": {"src": "1+1"}}])
        with pytest.raises(ValueError, match="unsupported type"):
            apply_ingest_pipeline(
                df, [{"convert": {"field": "num", "type": "ip"}}]
            )
        # rename consumes the old name: later reference must fail
        with pytest.raises(ValueError, match="unknown field"):
            apply_ingest_pipeline(
                df,
                [
                    {"rename": {"field": "num", "target_field": "n"}},
                    {"trim": {"field": "num"}},
                ],
            )

    def test_compiles_to_single_projection(self, spark):
        # 8 processors, ONE Project over the scan — no per-processor
        # passes (the scale guarantee in the module docstring)
        out = apply_ingest_pipeline(
            _df(spark),
            [
                {"trim": {"field": "msg"}},
                {"lowercase": {"field": "msg"}},
                {"set": {"field": "a", "value": 1}},
                {"set": {"field": "b", "value": 2}},
                {"copy": {"field": "c", "from": "id"}},
                {"rename": {"field": "num", "target_field": "n"}},
                {"gsub": {"field": "msg", "pattern": "l", "replacement": ""}},
                {"uppercase": {"field": "msg"}},
            ],
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Project") == 1


class TestIngestInPipeline:
    def test_ingest_pipeline_as_post_stage(self, spark):
        """An ES-style ingest processor list is a document stage over
        the parity pipeline's output (a stream passes it as a
        before_write stage) — the Spark analogue of attaching
        ?pipeline=... to the bulk request."""
        from functools import partial

        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )
        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
            flatten_dimensions,
        )
        from cga_kinesis_to_elasticsearch_spark.pipeline import (
            PipelineConfig,
            run_pipeline,
        )
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
            ALLOWED_ORIGINS,
            synthesize_cf_dimensions,
            synthesize_envelopes,
        )

        records = synthesize_envelopes(spark, "/root/testdata/sf0.001")
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark))
        processors = [
            {"set": {"field": "ingest_ver", "value": "p1"}},
            {"copy": {"field": "idx_copy", "from": "es_index"}},
            {"uppercase": {"field": "idx_copy"}},
        ]
        stage = partial(apply_ingest_pipeline, processors=processors)
        docs = stage(
            run_pipeline(
                records,
                dim,
                PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            )
        )
        rows = docs.select("es_index", "idx_copy", "ingest_ver").collect()
        assert rows
        for r in rows:
            assert r.ingest_ver == "p1"
            assert r.idx_copy == r.es_index.upper()


class TestNewProcessors:
    def test_rename_validation_like_es(self, spark):
        df = _df(spark)
        with pytest.raises(ValueError, match="equals field"):
            apply_ingest_pipeline(
                df, [{"rename": {"field": "num", "target_field": "num"}}]
            )
        with pytest.raises(ValueError, match="already exists"):
            apply_ingest_pipeline(
                df, [{"rename": {"field": "num", "target_field": "msg"}}]
            )

    def test_json_processor(self, spark):
        df = spark.createDataFrame(
            [(1, '{"a": 2, "b": "x"}')], "id long, payload string"
        )
        [r] = apply_ingest_pipeline(
            df,
            [
                {
                    "json": {
                        "field": "payload",
                        "target_field": "obj",
                        "schema": "struct<a:long,b:string>",
                    }
                }
            ],
        ).collect()
        assert r.obj.a == 2 and r.obj.b == "x"
        # add_to_root expands fields to top level
        [r2] = apply_ingest_pipeline(
            df,
            [
                {
                    "json": {
                        "field": "payload",
                        "schema": "struct<a:long,b:string>",
                        "add_to_root": True,
                    }
                },
                {"remove": {"field": "payload"}},
            ],
        ).collect()
        assert r2.a == 2 and r2.b == "x" and set(r2.asDict()) == {"id", "a", "b"}
        # default schema: map<string,string>
        [r3] = apply_ingest_pipeline(
            df, [{"json": {"field": "payload"}}]
        ).collect()
        assert r3.payload["a"] == "2"

    def test_dot_expander(self, spark):
        df = spark.createDataFrame(
            [(1, "prod", "eu", "z")],
            ["id", "cf.env", "cf.region", "other"],
        )
        [r] = apply_ingest_pipeline(
            df, [{"dot_expander": {"field": "cf"}}]
        ).collect()
        assert r.cf.env == "prod" and r.cf.region == "eu"
        assert set(r.asDict()) == {"id", "other", "cf"}
        with pytest.raises(ValueError, match="no dotted fields"):
            apply_ingest_pipeline(df, [{"dot_expander": {"field": "nope"}}])
        # wildcard form expands every dotted prefix
        [r2] = apply_ingest_pipeline(
            df, [{"dot_expander": {"field": "*"}}]
        ).collect()
        assert r2.cf.env == "prod"

    def test_grok_processor_first_match_wins(self, spark):
        df = spark.createDataFrame(
            [
                (1, "GET /a 200"),
                (2, "level=warn msg=slow"),
                (3, "???"),
            ],
            "id long, line string",
        )
        out = apply_ingest_pipeline(
            df,
            [
                {
                    "grok": {
                        "field": "line",
                        "patterns": [
                            "%{WORD:verb} %{URIPATH:path} %{INT:status:int}",
                            "level=%{WORD:level} msg=%{WORD:what}",
                        ],
                    }
                },
                {"uppercase": {"field": "verb"}},
            ],
        )
        rows = {r.id: r for r in out.collect()}
        assert rows[1].verb == "GET" and rows[1].status == 200
        assert rows[1].level is None
        assert rows[2].level == "warn" and rows[2].what == "slow"
        assert rows[2].verb is None
        # non-match: NULL captures (match-or-empty, F5), row kept
        assert rows[3].verb is None and rows[3].level is None

    def test_grok_pattern_definitions_and_failure_tolerance(self, spark):
        df = spark.createDataFrame(
            [(1, "k=42"), (2, "garbage")], "id long, line string"
        )
        out = apply_ingest_pipeline(
            df,
            [
                {
                    "grok": {
                        "field": "line",
                        "patterns": ["%{KV}"],
                        "pattern_definitions": {"KV": r"k=%{INT:kv_val}"},
                    }
                },
                # downstream processors tolerate the NULL capture rows
                {"convert": {"field": "kv_val", "type": "long",
                             "ignore_failure": True}},
            ],
        )
        rows = {r.id: r.kv_val for r in out.collect()}
        assert rows == {1: 42, 2: None}

    def test_grok_validation(self, spark):
        df = _df(spark)
        with pytest.raises(ValueError, match="patterns"):
            apply_ingest_pipeline(df, [{"grok": {"field": "msg"}}])
        with pytest.raises(ValueError, match="unknown field"):
            apply_ingest_pipeline(
                df, [{"grok": {"field": "nope", "patterns": ["%{INT:x}"]}}]
            )
        with pytest.raises(ValueError, match="apply_ingest_pipeline"):
            compile_pipeline(
                ["msg"], [{"grok": {"field": "msg", "patterns": ["%{INT:x}"]}}]
            )


class TestDissectKv:
    def test_dissect_fixed_delimiters(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )

        df = spark.createDataFrame(
            [(1, "10.0.0.1 GET /x 200"), (2, "garbage"),
             (3, "1.2.3.4 POST /a/b 503")],
            "id long, log string",
        )
        out = apply_ingest_pipeline(df, [
            {"dissect": {"field": "log",
                         "pattern": "%{client} %{?m} %{path} %{status}"}},
        ]).orderBy("id").collect()
        assert (out[0].client, out[0].path, out[0].status) == (
            "10.0.0.1", "/x", "200")
        # %{?m} skipped -> no column
        assert "m" not in out[0].asDict()
        # non-match -> NULL captures, like the grok contract
        assert out[1].client is None and out[1].status is None
        assert out[2].path == "/a/b"
        import pytest as _pt

        with _pt.raises(ValueError, match="duplicate key"):
            apply_ingest_pipeline(df, [
                {"dissect": {"field": "log",
                             "pattern": "%{a} %{a}"}}])
        with _pt.raises(ValueError, match="no keys"):
            apply_ingest_pipeline(df, [
                {"dissect": {"field": "log", "pattern": "%{?x} y"}}])

    def test_kv_include_keys(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )

        df = spark.createDataFrame(
            [(1, "a=1&b=two"), (2, "b=x&z=9"), (3, None)],
            "id long, qs string",
        )
        out = apply_ingest_pipeline(df, [
            {"kv": {"field": "qs", "field_split": "&",
                    "value_split": "=",
                    "include_keys": ["a", "b"],
                    "target_field": "q"}},
        ]).orderBy("id").collect()
        got = [(r["q.a"], r["q.b"]) for r in out]
        assert got == [("1", "two"), (None, "x"), (None, None)]

        # ES kv splits key/value at the FIRST value_split occurrence:
        # 'a=x=y' must yield value 'x=y', not 'y'.
        nested = apply_ingest_pipeline(
            spark.createDataFrame([(1, "a=x=y&b=2")], "id long, qs string"),
            [{"kv": {"field": "qs", "field_split": "&",
                     "value_split": "=", "include_keys": ["a", "b"]}}],
        ).collect()[0]
        assert (nested["a"], nested["b"]) == ("x=y", "2")
        import pytest as _pt

        with _pt.raises(ValueError, match="include_keys"):
            apply_ingest_pipeline(df, [
                {"kv": {"field": "qs", "field_split": "&",
                        "value_split": "="}}])


class TestRound5Processors:
    def test_user_agent(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )

        df = spark.createDataFrame(
            [(1, "Mozilla/5.0 AppleWebKit Chrome/120.0 Safari/537"),
             (2, "curl/8.1.2"),
             (3, "weird-client/1.0")],
            "id long, ua string",
        )
        out = apply_ingest_pipeline(df, [
            {"user_agent": {"field": "ua", "target_field": "agent"}},
        ]).orderBy("id").collect()
        got = [(r["agent.name"], r["agent.major"], r["agent.is_bot"])
               for r in out]
        assert got == [("chrome", 120, False), ("curl", 8, True),
                       ("other", None, False)]

    def test_fingerprint_and_urldecode(self, spark):
        import hashlib
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )

        df = spark.createDataFrame(
            [(1, "a%20b", "x")], "id long, q string, s string")
        out = apply_ingest_pipeline(df, [
            {"urldecode": {"field": "q", "target_field": "qd"}},
            {"fingerprint": {"fields": ["s", "id"], "method": "MD5",
                             "target_field": "fp"}},
        ]).collect()[0]
        assert out.qd == "a b"
        assert out.fp == hashlib.md5(b"x|1").hexdigest()

    def test_script_processor_subset(self, spark):
        import pytest as _pt
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            apply_ingest_pipeline,
        )

        df = spark.createDataFrame(
            [(1, 10.0, 3.0)], "id long, a double, b double")
        out = apply_ingest_pipeline(df, [
            {"script": {"target_field": "ratio", "script": {
                "source": "doc['a'].value / doc['b'].value + 1"}}},
        ]).collect()[0]
        assert abs(out.ratio - (10.0 / 3.0 + 1)) < 1e-12
        # ES ctx is sequential: a script reads the value the EARLIER
        # processor produced (apply_ingest_pipeline stages a
        # projection before each script to bind it)
        seq = apply_ingest_pipeline(df, [
            {"set": {"field": "c", "value": 2}},
            {"script": {"target_field": "r", "script": {
                "source": "doc['c'].value * 2"}}},
        ]).collect()[0]
        assert seq.r == 4
        # the single-projection compiler CANNOT honor that ordering —
        # it must reject rather than read the pre-modification value
        from cga_kinesis_to_elasticsearch_spark.operators.ingest import (
            compile_pipeline,
        )
        with _pt.raises(ValueError, match="modified"):
            compile_pipeline(["id", "a", "b"], [
                {"uppercase": {"field": "b"}},
                {"script": {"target_field": "r", "script": {
                    "source": "doc['b'].value"}}},
            ])
        with _pt.raises(ValueError, match="not a field"):
            compile_pipeline(["id", "a", "b"], [
                {"script": {"target_field": "r", "script": {
                    "source": "doc['zzz'].value"}}},
            ])
        with _pt.raises(ValueError, match="unsupported script"):
            apply_ingest_pipeline(df, [
                {"script": {"target_field": "r", "script": {
                    "source": "if (true) { ctx.r = 1; }"}}},
            ])
