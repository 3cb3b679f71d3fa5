"""Data-quality expectations (operators/expectations.py): metric
arithmetic, pass/fail thresholds, FK orphan detection, and the
one-scan plan shape for row-level constraints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators import expectations as E


@pytest.fixture(scope="module")
def tbl(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0, 100),
            (2, "b", 20.0, 100),
            (3, None, 30.0, 200),
            (4, "a", -5.0, 999),  # out of range; orphan FK
            (4, "c", 40.0, 200),  # duplicate id; value outside set
        ],
        "id long, cat string, val double, fk long",
    )


@pytest.fixture(scope="module")
def ref(spark):
    return spark.createDataFrame([(100,), (200,)], "k long")


def _run(df, specs):
    return {
        r["expectation"]: (r["metric"], r["passed"])
        for r in E.check_expectations(df, specs).collect()
    }


class TestExpectations:
    def test_metrics_and_pass_fail(self, tbl, ref):
        got = _run(
            tbl,
            [
                E.not_null("cat"),
                E.not_null("id"),
                E.unique("id"),
                E.in_set("cat", ["a", "b"], threshold=0.6),
                E.in_range("val", 0, 100),
                E.foreign_key("fk", ref, "k", threshold=0.9),
            ],
        )
        assert got["not_null(cat)"] == (0.8, False)
        assert got["not_null(id)"] == (1.0, True)
        assert got["unique(id)"] == (0.8, False)  # 4 distinct / 5 rows
        assert got["in_set(cat)"] == (0.6, True)  # a, b, a of 5
        assert got["in_range(val)"] == (0.8, False)  # -5 fails
        assert got["foreign_key(fk)"] == (0.8, False)  # 999 orphaned

    def test_matches_regex(self, spark):
        df = spark.createDataFrame(
            [("x-1",), ("y-2",), ("zz",)], "s string"
        )
        got = _run(df, [E.matches("s", r"^[a-z]-\d$", threshold=0.5)])
        assert got["matches(s)"] == (round(2 / 3, 6), True)

    def test_empty_table_vacuously_passes(self, spark):
        df = spark.createDataFrame([], "id long")
        got = _run(df, [E.not_null("id")])
        assert got["not_null(id)"] == (1.0, True)

    def test_row_constraints_share_one_scan(self, tbl):
        out = E.check_expectations(
            tbl, [E.not_null("cat"), E.in_range("val", 0, 100), E.unique("id")]
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # a union-per-expectation implementation would scan once per
        # constraint; the explode form scans once
        assert plan.count("Scan ExistingRDD") <= 2  # base + nothing extra


class TestStreamingDQHook:
    def test_per_batch_dq_report_appended(self, spark, sf_dir, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
            flatten_dimensions,
        )
        from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
            ALLOWED_ORIGINS,
            synthesize_cf_dimensions,
            synthesize_envelopes,
        )
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            read_raw_record_stream,
            write_raw_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
            drain,
            run_stream,
        )

        records = synthesize_envelopes(spark, sf_dir)
        src = tmp_path / "raw"
        write_raw_records(records, str(src))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        sink = ParquetIndexSink(tmp_path / "sink")
        dq = tmp_path / "dq"
        specs = [
            E.not_null("doc_id"),
            E.not_null("es_index"),
            E.matches("es_index", r"^gorouter-\d{4}"),
        ]

        def write_report(d, touched, batch_id):
            # one hive-partition dir per batch_id, overwritten in place:
            # an at-least-once replay rewrites its own partition instead
            # of appending duplicate rows
            E.check_expectations(d, specs).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{dq}/batch_id={int(batch_id)}")

        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(write_report,),
        )
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        report = spark.read.parquet(str(dq))
        rows = report.collect()
        assert len(rows) >= 3  # >= one batch x three expectations
        assert {r["expectation"] for r in rows} == {
            "not_null(doc_id)",
            "not_null(es_index)",
            "matches(es_index)",
        }
        # documents always carry ids and day-indexed routing
        assert all(r["passed"] for r in rows if "not_null" in r["expectation"])
        assert {"batch_id"} <= set(report.columns)
