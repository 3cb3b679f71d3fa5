"""EngineConfig env-var surface (main.go:537-569 parity) and the
observe()-based streaming counters."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.config import EngineConfig


BASE_ENV = {
    "APP_NAME": "k2es",
    "STREAM_NAME": "firehose",
    "ES_URL": "http://es:9200",
}


class TestEngineConfig:
    def test_required_vars(self):
        for missing in BASE_ENV:
            env = {k: v for k, v in BASE_ENV.items() if k != missing}
            with pytest.raises(KeyError, match=missing):
                EngineConfig.from_env(env)

    def test_defaults_match_reference(self):
        cfg = EngineConfig.from_env(BASE_ENV)
        assert cfg.days_to_keep == 3  # main.go:553
        assert cfg.batch_workers == 6  # main.go:554
        assert cfg.metrics_listen == ":8080"  # main.go:551
        assert cfg.trigger_seconds == 15  # main.go:189
        assert cfg.allowed_origins == []

    def test_full_env(self):
        cfg = EngineConfig.from_env(
            {
                **BASE_ENV,
                "DAYS_TO_KEEP": "30",
                "ALLOWED_ORIGINS": "env1,env2",
                "CHECKPOINT_LOCATION": "/ck",
                "ES_AWS_REGION": "ap-southeast-2",
            }
        )
        assert cfg.days_to_keep == 30
        assert cfg.allowed_origins == ["env1", "env2"]
        assert cfg.checkpoint_location == "/ck"
        sc = cfg.stream_config()
        assert sc.checkpoint_location == "/ck"
        assert sc.days_to_keep == 30
        assert sc.pipeline.allowed_origins == ["env1", "env2"]


class TestObservedCounters:
    def test_records_in_via_listener(self, spark, sf_dir, tmp_path):
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
            ObservedCounters,
            StreamConfig,
            drain,
            run_stream,
        )

        records = synthesize_envelopes(spark, sf_dir)
        n_records = records.count()
        write_raw_records(records, str(tmp_path / "raw"))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark))
        listener = ObservedCounters.install(spark)
        try:
            query, _ = run_stream(
                spark,
                read_raw_record_stream(spark, str(tmp_path / "raw")),
                lambda s: dim,
                ParquetIndexSink(tmp_path / "sink"),
                StreamConfig(
                    checkpoint_location=str(tmp_path / "ck"),
                    available_now=True,
                    pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
                ),
                observe_records=True,
            )
            drain(query)
            # listener delivery is async; give it a moment
            deadline = time.time() + 20
            while time.time() < deadline and listener.records_in < n_records:
                time.sleep(0.5)
            assert listener.records_in == n_records
        finally:
            listener.uninstall()


class TestSigV4Selection:
    def test_aws_endpoint_selects_sigv4_https(self):
        from cga_kinesis_to_elasticsearch_spark.config import EngineConfig

        cfg = EngineConfig(
            es_url="https://search-foo.ap-southeast-2.es.amazonaws.com",
            es_access_key="AK",
            es_secret_key="SK",
        )
        assert cfg.es_use_sigv4 and cfg.es_scheme == "https"
        opts = cfg.es_connector_options()
        assert opts["es.net.http.auth.user"] == "AK"

    def test_plain_endpoint_stays_http(self):
        from cga_kinesis_to_elasticsearch_spark.config import EngineConfig

        cfg = EngineConfig(es_url="http://localhost:9200")
        assert not cfg.es_use_sigv4 and cfg.es_scheme == "http"
        assert "es.net.http.auth.user" not in cfg.es_connector_options()
        assert cfg.es_connector_options()["es.batch.size.entries"] == "1000"


class TestKinesisSourceOptions:
    def test_stream_and_region(self):
        from cga_kinesis_to_elasticsearch_spark.config import EngineConfig

        cfg = EngineConfig(stream="firehose", aws_region="ap-southeast-2")
        opts = cfg.kinesis_source_options()
        assert opts["streamName"] == "firehose"
        assert opts["region"] == "ap-southeast-2"
        assert opts["endpointUrl"].endswith(
            "kinesis.ap-southeast-2.amazonaws.com"
        )
        # first-run position only; resume comes from checkpointLocation
        assert opts["startingPosition"] == "LATEST"
        # credentials ride the SDK default chain, never options
        assert not any("ccess" in k or "ecret" in k for k in opts)

    def test_region_optional(self):
        from cga_kinesis_to_elasticsearch_spark.config import EngineConfig

        opts = EngineConfig(stream="s").kinesis_source_options()
        assert "region" not in opts and "endpointUrl" not in opts

    def test_from_env_reads_aws_region(self):
        from cga_kinesis_to_elasticsearch_spark.config import EngineConfig

        cfg = EngineConfig.from_env(
            {
                "APP_NAME": "a",
                "STREAM_NAME": "s",
                "ES_URL": "http://localhost:9200",
                "AWS_REGION": "us-east-1",
            }
        )
        assert cfg.aws_region == "us-east-1"
