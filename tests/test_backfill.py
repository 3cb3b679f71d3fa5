"""Backfill / reprocessing job (sinks/backfill.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
    flatten_dimensions,
)
from cga_kinesis_to_elasticsearch_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from cga_kinesis_to_elasticsearch_spark.sinks.backfill import backfill
from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
from cga_kinesis_to_elasticsearch_spark.sinks.dedupindex import (
    dedup_against_index,
)
from cga_kinesis_to_elasticsearch_spark.sinks.neardupindex import (
    neardup_against_index,
)
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


class TestBackfill:
    def test_reprocess_replaces_and_adds_partitions(
        self, spark, sf_dir, tmp_path
    ):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "sink" / "data"

        # initial state: enabled-only routes (the reference's config)
        cfg_v1 = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
        run_pipeline(records, dim, cfg_v1).drop(
            "log_message", "arrival_ts"
        ).write.partitionBy("es_index").parquet(str(root))
        v1_partitions = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }

        # "pipeline fix": resurrect the disabled routes, reprocess all
        cfg_v2 = PipelineConfig(
            allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=True
        )
        stats = backfill(
            spark, records, dim, root, StreamConfig(pipeline=cfg_v2)
        )

        expected = run_pipeline(records, dim, cfg_v2).drop(
            "log_message", "arrival_ts"
        )
        got = spark.read.parquet(str(root))
        assert stats.docs_written == expected.count() == got.count()
        assert stats.partitions_replaced == len(v1_partitions)
        assert stats.partitions_added > 0  # new gorouter_access/bosh days
        # recomputed content matches the direct pipeline output
        assert (
            got.select(F.sha1(F.concat_ws("|", "doc_id", "es_index")).alias("k"))
            .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("k")))))
            .first()[0]
            == expected.select(
                F.sha1(F.concat_ws("|", "doc_id", "es_index")).alias("k")
            )
            .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("k")))))
            .first()[0]
        )
        # no staging/temp debris left behind
        assert not any(p.name.startswith(".tmp-") for p in root.iterdir())

    def test_untouched_partitions_survive(self, spark, sf_dir, tmp_path):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "data"
        cfg = PipelineConfig(
            allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=True
        )
        run_pipeline(records, dim, cfg).drop(
            "log_message", "arrival_ts"
        ).write.partitionBy("es_index").parquet(str(root))
        all_parts = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }
        # backfill only a slice of days: other partitions stay intact
        some_day = records.select(
            F.date_format("arrival_ts", "yyyy-MM-dd").alias("d")
        ).first()[0]
        slice_records = records.filter(
            F.date_format("arrival_ts", "yyyy-MM-dd") == some_day
        )
        stats = backfill(
            spark, slice_records, dim, root, StreamConfig(pipeline=cfg)
        )
        assert stats.partitions_added == 0
        assert 0 < stats.partitions_replaced < len(all_parts)
        after = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }
        assert after == all_parts


class TestBackfillBeforeWriteStages:
    def test_stream_suppressed_duplicates_stay_suppressed(
        self, spark, sf_dir, tmp_path
    ):
        """A deployment streaming with the exact and near-dup index
        stages backfills with the same stages: every document the stream
        suppressed stays out of the rewritten partitions."""
        base = synthesize_envelopes(spark, sf_dir)
        seq = F.col("sequence_number")
        # a tenth of the records again under a new sequence number (exact
        # duplicates) and another tenth with a token appended (near
        # duplicates)
        pick = F.crc32(seq) % 10
        exact = base.filter(pick == 0).withColumn(
            "sequence_number", F.concat(F.lit("dup-"), seq)
        )
        near = base.filter(pick == 5).select(
            *[c for c in base.columns if c not in ("sequence_number", "log_message")],
            F.concat(F.lit("near-"), seq).alias("sequence_number"),
            F.col("log_message").withField(
                "message", F.concat("log_message.message", F.lit(" again"))
            ).alias("log_message"),
        )
        records = base.unionByName(exact).unionByName(near)
        src = tmp_path / "raw"
        write_raw_records(records, str(src))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        cfg = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
        text = "parsed_generic.log_event"
        stages = (
            lambda d: dedup_against_index(
                d.sparkSession, d, str(tmp_path / "didx"), text, "doc_id"
            ),
            # single-hash bands: templated log lines collide often
            lambda d: neardup_against_index(
                d.sparkSession,
                d,
                str(tmp_path / "ndidx"),
                text,
                "doc_id",
                n_hashes=4,
                band_size=1,
            ),
        )
        sink = ParquetIndexSink(tmp_path / "sink")
        stream_cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=cfg,
            before_write=stages,
        )
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            stream_cfg,
        )
        drain(query)
        root = tmp_path / "sink" / "data"

        def landed_ids():
            return sorted(
                r.doc_id
                for r in spark.read.parquet(str(root)).select("doc_id").collect()
            )

        streamed = landed_ids()
        all_docs = run_pipeline(records, dim, cfg)
        # both stages suppressed something in the stream
        n_distinct = all_docs.select(text).distinct().count()
        assert 0 < len(streamed) < n_distinct < all_docs.count()

        stats = backfill(spark, records, dim, root, stream_cfg)
        assert landed_ids() == streamed
        assert stats.docs_written == len(streamed)
