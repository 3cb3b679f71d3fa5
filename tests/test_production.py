"""One-switch production assembly (streaming/production.py) and the
Prometheus /metrics endpoint (streaming/metrics_http.py, K5).

No live AWS/ES exists here, so the production pieces are verified the
way the SURVEY anticipates: option maps and HTTP requests are asserted
directly (captured opener), and the full wiring runs end to end with
the file source + parquet sink stand-ins injected — which emit/accept
the same schemas, so the assembled plan is the production plan.
"""

from __future__ import annotations

import json
import urllib.request

import pyspark.sql.functions as F
import pytest

from cga_kinesis_to_elasticsearch_spark.config import EngineConfig
from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
    flatten_dimensions,
)
from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
    ALLOWED_ORIGINS,
    synthesize_cf_dimensions,
    synthesize_envelopes,
)
from cga_kinesis_to_elasticsearch_spark.sources.protowire import (
    encode_protobuf_records,
)
from cga_kinesis_to_elasticsearch_spark.sources.records import (
    read_raw_record_stream,
)
from cga_kinesis_to_elasticsearch_spark.streaming.job import drain
from cga_kinesis_to_elasticsearch_spark.streaming.production import (
    EsHadoopSink,
    run_production_stream,
)


def _cfg(**over) -> EngineConfig:
    base = dict(
        app_name="cga-test",
        stream="cga-log-stream",
        es_url="search-logs.ap-southeast-2.es.amazonaws.com",
        es_access_key="AKIATEST",
        es_secret_key="secret",
        aws_region="ap-southeast-2",
        allowed_origins=["env1", "env2"],
        days_to_keep=3,
    )
    base.update(over)
    return EngineConfig(**base)


class _FakeOpener:
    """Captures (method, url, body) and returns canned responses."""

    def __init__(self, cat_indices=()):
        self.calls: list[tuple[str, str, dict | None]] = []
        self._cat = list(cat_indices)

    def __call__(self, req: urllib.request.Request):
        body = json.loads(req.data) if req.data else None
        self.calls.append((req.get_method(), req.full_url, body))

        class _Resp:
            def __init__(self, payload: bytes):
                self._p = payload

            def read(self) -> bytes:
                return self._p

        if "_cat/indices" in req.full_url:
            return _Resp(
                json.dumps([{"index": n} for n in self._cat]).encode()
            )
        return _Resp(b"{}")


class TestAssembledOptionMaps:
    def test_kinesis_source_options(self):
        cfg = _cfg()
        opts = cfg.kinesis_source_options()
        assert opts["streamName"] == "cga-log-stream"
        assert opts["startingPosition"] == "LATEST"
        assert opts["region"] == "ap-southeast-2"
        assert (
            opts["endpointUrl"]
            == "https://kinesis.ap-southeast-2.amazonaws.com"
        )

    def test_es_sink_options_sigv4(self):
        cfg = _cfg()
        assert cfg.es_use_sigv4 and cfg.es_scheme == "https"
        opts = EsHadoopSink(cfg).write_options()
        assert opts["es.nodes"] == cfg.es_url
        assert opts["es.resource.write"] == "{es_index}"
        assert opts["es.mapping.id"] == "doc_id"
        assert opts["es.input.json"] == "true"
        assert opts["es.net.http.auth.user"] == "AKIATEST"

    def test_plain_http_for_non_aws(self):
        cfg = _cfg(es_url="es.internal:9200")
        assert not cfg.es_use_sigv4 and cfg.es_scheme == "http"
        assert "es.net.http.auth.user" not in EsHadoopSink(cfg).write_options()


class TestEsHadoopSinkHttp:
    def test_ensure_indices_puts_mapping_once(self):
        opener = _FakeOpener()
        sink = EsHadoopSink(_cfg(es_url="es.internal:9200"), opener=opener)
        sink.ensure_indices(["gorouter-2024-01-01", "gorouter-2024-01-02"])
        sink.ensure_indices(["gorouter-2024-01-01"])  # memoized
        puts = [c for c in opener.calls if c[0] == "PUT"]
        assert [u.rsplit("/", 1)[1] for _, u, _ in puts] == [
            "gorouter-2024-01-01",
            "gorouter-2024-01-02",
        ]
        # the dynamic mapping body (main.go:306-320)
        assert puts[0][2]["mappings"]["_doc"]["dynamic"] is True

    def test_drop_expired_deletes_only_old_dated_indices(self):
        import datetime as dt

        opener = _FakeOpener(
            cat_indices=[
                "gorouter-2024-01-01",
                "gorouter-2024-01-05",
                ".kibana",  # kept by name (main.go:227)
                "stray-index",  # undated: dropped (main.go:232-239)
                "app-1.2.3-blue",  # last-10 not a date: dropped too
            ]
        )
        sink = EsHadoopSink(_cfg(es_url="es.internal:9200"), opener=opener)
        dropped = sink.drop_expired(
            days_to_keep=3, today=dt.date(2024, 1, 6)
        )
        assert dropped == [
            "gorouter-2024-01-01",
            "stray-index",
            "app-1.2.3-blue",
        ]
        deletes = [u for m, u, _ in opener.calls if m == "DELETE"]
        assert deletes == [
            "http://es.internal:9200/gorouter-2024-01-01",
            "http://es.internal:9200/stray-index",
            "http://es.internal:9200/app-1.2.3-blue",
        ]


class TestEsHadoopSinkInStream:
    def test_stream_batch_reaches_connector(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """run_stream passes its sink the file fan-out hint; the
        es-hadoop sink must take it, so a micro-batch reaches the
        connector's save (stubbed here, with the HTTP opener)."""
        from pyspark.sql.readwriter import DataFrameWriter

        from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            write_raw_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
            run_stream,
        )

        saved: list[int] = []

        def fake_save(writer, *args, **kwargs):
            saved.append(writer._df.count())

        monkeypatch.setattr(DataFrameWriter, "save", fake_save)
        src = tmp_path / "raw"
        write_raw_records(synthesize_envelopes(spark, sf_dir), str(src))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark))
        opener = _FakeOpener()
        sink = EsHadoopSink(
            _cfg(es_url="es.internal:9200"),
            error_root=tmp_path / "errors",
            opener=opener,
        )
        query, m = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            StreamConfig(
                checkpoint_location=str(tmp_path / "ck"),
                available_now=True,
                pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            ),
        )
        drain(query)
        assert m.sent_count > 0
        assert sum(saved) == m.sent_count
        assert any(method == "PUT" for method, _, _ in opener.calls)


class TestEsHadoopSinkPoison:
    def test_replayed_batch_keeps_one_poison_copy(self, spark, tmp_path, in_batch):
        """The es-hadoop sink's poison bucket is the parquet sink's keyed
        writer: the replay of a batch replaces its own poison rows."""
        from pyspark.sql.types import IntegerType

        sink = EsHadoopSink(
            _cfg(es_url="es.internal:9200"),
            error_root=tmp_path / "errors",
            opener=_FakeOpener(),
        )
        poison = spark.range(5).select(F.col("id").cast("string").alias("shard_id"))
        in_batch("q1", 0)
        sink.write_errors(poison, 0)
        sink.write_errors(poison, 0)  # the replay of batch 0
        errs = spark.read.parquet(str(tmp_path / "errors"))
        assert errs.count() == 5
        assert errs.schema["batch_id"].dataType == IntegerType()


class TestProductionWiring:
    def test_end_to_end_with_standins_and_metrics_endpoint(
        self, spark, sf_dir, tmp_path
    ):
        """The assembled job — protobuf decode, pipeline, retention
        cadence, /metrics server — runs end to end with the file
        source and parquet sink injected, and the Prometheus endpoint
        serves live counters while the stream is up."""
        records = synthesize_envelopes(spark, sf_dir)
        raw_dir = tmp_path / "raw"
        encode_protobuf_records(records).repartition("shard_id").write.mode(
            "append"
        ).parquet(str(raw_dir))
        dim_path = tmp_path / "dim"
        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
            flatten_dimensions,
        )

        flatten_dimensions(*synthesize_cf_dimensions(spark)).write.parquet(
            str(dim_path)
        )

        cfg = _cfg(
            checkpoint_location=str(tmp_path / "ck"),
            metrics_listen="127.0.0.1:0",
            allowed_origins=list(ALLOWED_ORIGINS),
        )
        sink = ParquetIndexSink(tmp_path / "sink")
        handle = run_production_stream(
            spark,
            cfg,
            raw_stream=read_raw_record_stream(spark, str(raw_dir)),
            sink=sink,
            dim_path=str(dim_path),
            available_now=True,
        )
        try:
            drain(handle.query)
            assert handle.metrics.sent_count > 0
            docs = sink.read_index(spark)
            assert docs.count() == handle.metrics.sent_count
            # enrichment came from the dim_path snapshot
            assert docs.filter(F.col("`@cf.app`").isNotNull()).count() > 0
            # K5: scrape the live endpoint
            body = (
                urllib.request.urlopen(handle.metrics.http_server.url)
                .read()
                .decode()
            )
            assert (
                f"app_kinesis_to_es_sent_count {handle.metrics.sent_count}"
                in body
            )
            assert "app_kinesis_to_es_errors_count" in body
        finally:
            handle.stop()
        # stopped server refuses connections
        with pytest.raises(Exception):
            urllib.request.urlopen(handle.metrics.http_server.url, timeout=1)

    def test_retention_cadence_matches_daily_loop(self):
        from cga_kinesis_to_elasticsearch_spark.streaming.production import (
            retention_cadence,
        )

        # 15 s triggers -> once per 5760 batches == once per 24 h
        assert retention_cadence(15) == 5760
        # degenerate configs still run retention, never div-by-zero
        assert retention_cadence(0) == 86400
        assert retention_cadence(10**6) == 1


class TestStreamJobScript:
    """``scripts/stream_job.py``, the spark-submit entry: its deployment
    branch is one call to ``run_production_stream`` (stubbed here, with
    the session, so nothing runs on Spark)."""

    ENV = {
        "APP_NAME": "k2es",
        "STREAM_NAME": "firehose",
        "ES_URL": "http://es:9200",
        "DIM_PATH": "/dims/cf",
    }

    def _main(self, monkeypatch, run_production_stream) -> int:
        import importlib.util
        import sys
        from pathlib import Path

        from cga_kinesis_to_elasticsearch_spark import session
        from cga_kinesis_to_elasticsearch_spark.streaming import production

        for k, v in self.ENV.items():
            monkeypatch.setenv(k, v)
        monkeypatch.setattr(sys, "argv", ["stream_job.py"])
        monkeypatch.setattr(sys, "path", list(sys.path))
        monkeypatch.setattr(session, "get_spark", lambda name: ("spark", name))
        monkeypatch.setattr(
            production, "run_production_stream", run_production_stream
        )
        script = Path(__file__).resolve().parent.parent / "scripts" / "stream_job.py"
        spec = importlib.util.spec_from_file_location("stream_job", script)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.main()

    def test_deployment_runs_the_production_stream(self, monkeypatch):
        calls = []

        class _Query:
            def awaitTermination(self):
                pass

        def fake(spark, cfg, **kw):
            calls.append((spark, cfg, kw))
            return type("Handle", (), {"query": _Query()})()

        assert self._main(monkeypatch, fake) == 0
        want = EngineConfig.from_env()
        assert calls == [(("spark", want.app_name), want, {"dim_path": "/dims/cf"})]

    def test_kinesis_source_error_exits_2(self, monkeypatch, capsys):
        def fake(spark, cfg, **kw):
            raise RuntimeError(
                "[DATA_SOURCE_NOT_FOUND] Failed to find the data source: kinesis."
            )

        assert self._main(monkeypatch, fake) == 2
        err = capsys.readouterr().err
        assert "--packages <spark-sql-kinesis>" in err
        assert "Failed to find the data source: kinesis" in err
