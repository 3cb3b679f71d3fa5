"""Persistent cross-batch dedup index (sinks/dedupindex.py)."""

from __future__ import annotations

from cga_kinesis_to_elasticsearch_spark.sinks.dedupindex import (
    dedup_against_index,
    read_index,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


class TestDedupIndex:
    def test_first_batch_keeps_first_per_hash(self, spark, tmp_path):
        root = tmp_path / "idx"
        out = dedup_against_index(
            spark,
            _batch(spark, [(1, "a"), (2, "a"), (3, "b")]),
            root,
            "text",
            "id",
        )
        assert sorted(r.id for r in out.collect()) == [1, 3]
        assert read_index(spark, root).count() == 2

    def test_second_batch_drops_already_seen(self, spark, tmp_path):
        root = tmp_path / "idx"
        dedup_against_index(
            spark, _batch(spark, [(1, "a"), (2, "b")]), root, "text", "id"
        )
        out = dedup_against_index(
            spark,
            _batch(spark, [(10, "a"), (11, "c"), (12, "b")]),
            root,
            "text",
            "id",
        )
        assert sorted(r.id for r in out.collect()) == [11]
        assert read_index(spark, root).count() == 3

    def test_replay_idempotent(self, spark, tmp_path):
        root = tmp_path / "idx"
        b = _batch(spark, [(5, "x"), (6, "y"), (7, "x")])
        first = sorted(
            r.id
            for r in dedup_against_index(spark, b, root, "text", "id").collect()
        )
        # at-least-once replay of the SAME batch: survivors identical,
        # not dropped as duplicates of themselves
        replay = sorted(
            r.id
            for r in dedup_against_index(spark, b, root, "text", "id").collect()
        )
        assert first == replay == [5, 6]
        # index did not grow on replay
        assert read_index(spark, root).count() == 2

    def test_index_is_bucket_partitioned(self, spark, tmp_path):
        root = tmp_path / "idx"
        dedup_against_index(
            spark,
            _batch(spark, [(i, f"doc {i}") for i in range(20)]),
            root,
            "text",
            "id",
        )
        buckets = [p.name for p in root.iterdir() if p.name.startswith("bucket=")]
        assert len(buckets) > 1  # hash-prefix partitioned for pruning


class TestStreamingDedupHook:
    def test_cross_batch_content_dedup_in_stream(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

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
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            before_write=(
                lambda d: dedup_against_index(
                    d.sparkSession,
                    d,
                    str(tmp_path / "didx"),
                    "parsed_generic.log_event",
                    "doc_id",
                ),
            ),
        )
        query, m = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        docs = spark.read.parquet(str(tmp_path / "sink" / "data"))
        # exactly one surviving doc per distinct parsed content
        contents = docs.select(
            F.col("parsed_generic.log_event").alias("c")
        )
        assert contents.count() == contents.distinct().count()
        assert m.sent_count == contents.count() > 0


class TestNullContent:
    def test_null_text_rows_pass_through_unindexed(self, spark, tmp_path):
        root = tmp_path / "idx"
        b = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "id long, text string"
        )
        out = dedup_against_index(spark, b, root, "text", "id")
        # NULL-content rows are not dedupable: both survive, unindexed
        assert sorted(r.id for r in out.collect()) == [1, 2, 3]
        assert read_index(spark, root).count() == 1
