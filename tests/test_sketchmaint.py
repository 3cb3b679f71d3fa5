"""Incremental sketch maintenance (sinks/sketchmaint.py): merge-only
updates equal full recompute, replay idempotence (HLL set semantics),
untouched-day isolation, and the streaming-job hook end to end."""

from __future__ import annotations

from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
    read_day_sketches,
    refresh_day_sketches,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "event_date string, uid string")


def _estimates(spark, root):
    return {
        r.day: r.distinct_est
        for r in read_day_sketches(spark, root, "event_date").collect()
    }


class TestRefreshDaySketches:
    def test_two_batches_equal_full_distinct(self, spark, tmp_path):
        root = tmp_path / "sk"
        b1 = _batch(
            spark,
            [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-01-02", "a")],
        )
        b2 = _batch(
            spark,
            [("2024-01-01", "b"), ("2024-01-01", "c"), ("2024-01-02", "d")],
        )
        assert refresh_day_sketches(spark, b1, root, "event_date", "uid") == 2
        assert refresh_day_sketches(spark, b2, root, "event_date", "uid") == 2
        # day1 {a,b,c}=3, day2 {a,d}=2 — merged WITHOUT fact rescans
        assert _estimates(spark, root) == {"2024-01-01": 3, "2024-01-02": 2}

    def test_replay_idempotent(self, spark, tmp_path):
        root = tmp_path / "sk"
        b = _batch(spark, [("2024-01-01", "a"), ("2024-01-01", "b")])
        refresh_day_sketches(spark, b, root, "event_date", "uid")
        first = _estimates(spark, root)
        # at-least-once replay: same records re-merged -> same sketch
        refresh_day_sketches(spark, b, root, "event_date", "uid")
        assert _estimates(spark, root) == first == {"2024-01-01": 2}

    def test_untouched_day_survives(self, spark, tmp_path):
        root = tmp_path / "sk"
        refresh_day_sketches(
            spark,
            _batch(spark, [("2024-01-01", "a")]),
            root,
            "event_date",
            "uid",
        )
        refresh_day_sketches(
            spark,
            _batch(spark, [("2024-01-02", "z")]),
            root,
            "event_date",
            "uid",
        )
        assert _estimates(spark, root) == {"2024-01-01": 1, "2024-01-02": 1}

    def test_null_keys_ignored(self, spark, tmp_path):
        root = tmp_path / "sk"
        refresh_day_sketches(
            spark,
            _batch(spark, [("2024-01-01", "a"), ("2024-01-01", None)]),
            root,
            "event_date",
            "uid",
        )
        assert _estimates(spark, root) == {"2024-01-01": 1}

    def test_compose_with_range_distinct(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.operators.sketches import (
            hll_range_distinct,
        )

        root = tmp_path / "sk"
        refresh_day_sketches(
            spark,
            _batch(
                spark,
                [
                    ("2024-01-01", "a"),
                    ("2024-01-02", "b"),
                    ("2024-01-03", "a"),
                ],
            ),
            root,
            "event_date",
            "uid",
        )
        stored = read_day_sketches(spark, root, "event_date")
        got = hll_range_distinct(stored, "2024-01-01", "2024-01-02").first()
        assert got.distinct_est == 2


class TestStreamingSketchHook:
    def test_stream_maintains_per_index_app_sketches(
        self, spark, sf_dir, tmp_path
    ):
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
        sketches = tmp_path / "sketches"
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(
                lambda d, touched, batch_id: refresh_day_sketches(
                    d.sparkSession,
                    d,
                    str(sketches),
                    day_col="es_index",
                    key_col="@cf.app_id",
                ),
            ),
        )
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        docs = spark.read.parquet(str(tmp_path / "sink" / "data"))
        app = F.col("`@cf.app_id`")
        expected = {
            r.es_index: r.n
            for r in docs.where(app.isNotNull())
            .groupBy("es_index")
            .agg(F.countDistinct(app).alias("n"))
            .collect()
        }
        got = {
            r.day: r.distinct_est
            for r in read_day_sketches(spark, sketches, "es_index").collect()
        }
        assert got == expected and len(got) > 0
