"""Incremental rollup maintenance (sinks/rollup.py): per-day refresh
equals full recompute, idempotence under replay, and untouched-day
isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.rollup import (
    refresh_rollup,
    touched_days,
)


def _agg(day_slice):
    return day_slice.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


def _write_facts(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_date string, event_type string, value double"
    )
    df.write.mode("append").partitionBy("event_date").parquet(str(path))
    return df


def _rollup_as_dict(spark, path):
    # partition-column type inference reads the day as DateType;
    # normalize to the string form the facts were written with
    out = spark.read.parquet(str(path)).withColumn(
        "event_date", F.col("event_date").cast("string")
    )
    return {
        (r.event_date, r.event_type): (r.n, r.total) for r in out.collect()
    }


class TestRefreshRollup:
    def test_refresh_matches_full_recompute(self, spark, tmp_path):
        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        batch = _write_facts(
            spark,
            facts,
            [
                ("2024-01-01", "view", 1.0),
                ("2024-01-01", "view", 2.0),
                ("2024-01-02", "click", 5.0),
            ],
        )
        days = touched_days(batch, "event_date")
        assert days == ["2024-01-01", "2024-01-02"]
        assert refresh_rollup(spark, facts, rollup, days, _agg) == 2
        got = _rollup_as_dict(spark, rollup)
        assert got[("2024-01-01", "view")] == (2, 3.0)
        assert got[("2024-01-02", "click")] == (1, 5.0)

    def test_incremental_batch_refreshes_only_touched_day(
        self, spark, tmp_path
    ):
        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        b1 = _write_facts(
            spark, facts, [("2024-01-01", "view", 1.0), ("2024-01-02", "view", 1.0)]
        )
        refresh_rollup(spark, facts, rollup, touched_days(b1, "event_date"), _agg)
        # second batch only touches day 2; day 1's rollup must survive
        b2 = _write_facts(spark, facts, [("2024-01-02", "view", 4.0)])
        assert refresh_rollup(
            spark, facts, rollup, touched_days(b2, "event_date"), _agg
        ) == 1
        got = _rollup_as_dict(spark, rollup)
        assert got[("2024-01-01", "view")] == (1, 1.0)
        # recomputed from the day's full slice (old + new rows)
        assert got[("2024-01-02", "view")] == (2, 5.0)

    def test_replay_idempotent(self, spark, tmp_path):
        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        b = _write_facts(spark, facts, [("2024-01-03", "error", 2.0)])
        days = touched_days(b, "event_date")
        refresh_rollup(spark, facts, rollup, days, _agg)
        first = _rollup_as_dict(spark, rollup)
        # re-running the same refresh (at-least-once delivery) is a no-op
        refresh_rollup(spark, facts, rollup, days, _agg)
        assert _rollup_as_dict(spark, rollup) == first

    def test_missing_day_skipped(self, spark, tmp_path):
        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        _write_facts(spark, facts, [("2024-01-01", "view", 1.0)])
        n = refresh_rollup(
            spark, facts, rollup, ["2024-01-01", "2099-12-31"], _agg
        )
        assert n == 1


class TestStreamingRollupHook:
    def test_stream_maintains_rollup_per_touched_index(
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
        rollup = tmp_path / "rollup"

        def agg(day_slice):
            return day_slice.groupBy("index_class").agg(
                F.count("*").alias("n")
            )

        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(
                lambda d, touched, batch_id: refresh_rollup(
                    d.sparkSession,
                    sink.root / "data",
                    str(rollup),
                    touched,
                    agg,
                    date_col="es_index",
                ),
            ),
        )
        query, _ = run_stream(
            spark, read_raw_record_stream(spark, str(src)), lambda s: dim,
            sink, cfg,
        )
        drain(query)
        # rollup rows equal a full recompute over the sink contents
        docs = spark.read.parquet(str(tmp_path / "sink" / "data"))
        expected = {
            (r.es_index, r.index_class): r.n
            for r in docs.groupBy("es_index", "index_class")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {
            (r.es_index, r.index_class): r.n
            for r in spark.read.parquet(str(rollup)).collect()
        }
        assert got == expected and len(got) > 0
