"""Persistent cross-batch near-dup index (sinks/neardupindex.py):
within-batch greedy semantics, cross-batch suppression through the
stored index, and replay idempotence under at-least-once delivery."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cga_kinesis_to_elasticsearch_spark.sinks.neardupindex import (
    neardup_against_index,
    read_neardup_index,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


class TestNearDupIndex:
    def test_within_batch_keep_first(self, spark, tmp_path):
        batch = _docs(
            spark,
            [
                (1, BASE),
                (2, BASE.replace("today", "tomorrow")),  # near-dup of 1
                (9, "entirely different text about parquet row group statistics"),
            ],
        )
        out = neardup_against_index(spark, batch, tmp_path, "text", "doc_id")
        assert _ids(out) == [1, 9]

    def test_cross_batch_suppression(self, spark, tmp_path):
        b1 = _docs(spark, [(1, BASE)])
        b2 = _docs(
            spark,
            [
                (5, BASE.replace("today", "tonight")),  # near-dup of stored 1
                (6, "unrelated content mentioning bloom filters and sketches"),
            ],
        )
        s1 = neardup_against_index(spark, b1, tmp_path, "text", "doc_id")
        assert _ids(s1) == [1]
        s2 = neardup_against_index(spark, b2, tmp_path, "text", "doc_id")
        assert _ids(s2) == [6]

    def test_replay_reproduces_original_survivors(self, spark, tmp_path):
        b1 = _docs(spark, [(1, BASE), (2, BASE.replace("quick", "swift"))])
        first = _ids(neardup_against_index(spark, b1, tmp_path, "text", "doc_id"))
        replay = _ids(neardup_against_index(spark, b1, tmp_path, "text", "doc_id"))
        assert first == replay == [1]

    def test_index_stores_only_survivor_bands(self, spark, tmp_path):
        b1 = _docs(spark, [(1, BASE), (2, BASE.replace("quick", "swift"))])
        neardup_against_index(spark, b1, tmp_path, "text", "doc_id")
        idx = read_neardup_index(spark, tmp_path)
        assert {r.first_id for r in idx.collect()} == {1}

    def test_bands_never_store_text(self, spark, tmp_path):
        b1 = _docs(spark, [(1, BASE)])
        neardup_against_index(spark, b1, tmp_path, "text", "doc_id")
        idx = read_neardup_index(spark, tmp_path)
        assert set(idx.columns) == {"band_id", "band_key", "first_id"}


class TestStreamingNearDupHook:
    def test_neardup_hook_runs_in_stream(self, spark, sf_dir, tmp_path):
        """The stream with the near-dup hook lands at most one survivor
        per LSH band key (greedy bucket rule), across all batches."""
        from cga_kinesis_to_elasticsearch_spark.operators.dedup import (
            lsh_band_keys,
            minhash_signatures,
        )
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
                lambda d: neardup_against_index(
                    d.sparkSession,
                    d,
                    str(tmp_path / "ndidx"),
                    "parsed_generic.log_event",
                    "doc_id",
                    n_hashes=4,
                    band_size=2,
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
        landed = docs.select(
            F.col("doc_id").alias("doc_id"),
            F.col("parsed_generic.log_event").alias("text"),
        )
        assert landed.count() > 0
        sig = minhash_signatures(landed, "text", "doc_id", n_hashes=4)
        bands = lsh_band_keys(sig, 4, 2)
        per_band = bands.groupBy("band_id", "band_key").count()
        assert per_band.filter("count > 1").count() == 0


class TestNullHandling:
    def test_null_text_rows_pass_through_unindexed(self, spark, tmp_path):
        b = _docs(spark, [(1, BASE), (2, None), (3, None)])
        out = neardup_against_index(spark, b, tmp_path, "text", "doc_id")
        assert _ids(out) == [1, 2, 3]
        assert {r.first_id for r in read_neardup_index(spark, tmp_path).collect()} == {1}

    def test_bloom_build_ignores_null_keys(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.bloom import build_bloom

        keys = spark.createDataFrame([(1,), (None,), (2,)], "k long")
        words = build_bloom(keys, "k", k_probes=2, hex_chars=3)
        assert sum(bin(w).count("1") for w in words[0]) == 2
