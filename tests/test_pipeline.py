"""End-to-end batch pipeline over synthesized envelopes (SURVEY §3.1,
§5 item 2): decode -> F1 -> F2 -> grok -> J1-J4 -> computed columns."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
from cga_kinesis_to_elasticsearch_spark.pipeline import (
    PipelineConfig,
    compile_pipeline,
    run_pipeline,
)
from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
    ALLOWED_ORIGINS,
    synthesize_cf_dimensions,
    synthesize_envelopes,
)


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return synthesize_envelopes(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def dim(spark):
    return flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()


@pytest.fixture(scope="module")
def docs(spark, records, dim):
    return run_pipeline(
        records, dim, PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
    ).cache()


@pytest.fixture(scope="module")
def docs_all_routes(spark, records, dim):
    return run_pipeline(
        records,
        dim,
        PipelineConfig(allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=True),
    ).cache()


class TestParityPipeline:
    def test_only_active_routes_and_identifiable(self, records, docs):
        total = records.count()
        # arms 5,6,7 of 10 are routable AND carry app_id
        assert docs.count() == total * 3 // 10
        assert set(r.index_class for r in docs.select("index_class").distinct().collect()) == {
            "gorouter"
        }

    def test_es_index_day_partitioned(self, docs):
        row = docs.select("es_index", "event_date").first()
        assert row.es_index == f"gorouter-{row.event_date}"

    def test_timestamp_millis(self, docs):
        r = docs.select("timestamp", "arrival_ts").first()
        assert r.timestamp == int(r.arrival_ts.timestamp() * 1000)

    def test_enrichment_applied(self, docs):
        known = docs.filter(
            (F.col("origin_known") if "origin_known" in docs.columns else F.col("`@cf.env`").isin(ALLOWED_ORIGINS))
            & (F.col("`@cf.app`") != "")
        )
        r = known.select("`@cf.app`", "`@cf.space`", "`@cf.org`").first()
        assert r["@cf.app"].startswith("app-")
        assert "-blue" not in r["@cf.app"] and "-venerable" not in r["@cf.app"]

    def test_unknown_origin_not_enriched(self, docs):
        unknown = docs.filter(~F.col("`@cf.env`").isin(ALLOWED_ORIGINS))
        assert unknown.count() > 0
        assert unknown.filter(F.col("`@cf.app`").isNotNull()).count() == 0

    def test_unknown_app_guid_tolerated(self, docs):
        # guids 40..49 are not in the dim: empty strings, record kept (J3)
        empties = docs.filter(
            F.col("`@cf.env`").isin(ALLOWED_ORIGINS) & (F.col("`@cf.app`") == "")
        )
        assert empties.count() > 0

    def test_doc_id_deterministic(self, docs):
        a = sorted(r.doc_id for r in docs.select("doc_id").collect())
        b = sorted(r.doc_id for r in docs.select("doc_id").collect())
        assert a == b and len(set(a)) == len(a)

    def test_generic_parse_populates_log_event(self, docs):
        r = docs.select("parsed_generic").first()
        assert r.parsed_generic.log_event.startswith("evt=")

    def test_no_shuffle_on_hot_path(self, docs):
        plan = docs._jdf.queryExecution().executedPlan().toString()
        # Only the dim side may exchange (broadcast); fact side must not.
        assert "Exchange hashpartitioning" not in plan
        assert "BroadcastHashJoin" in plan


class TestDisabledRoutesResurrected:
    def test_routeraccess_rich_parse(self, docs_all_routes):
        ra = docs_all_routes.filter(F.col("index_class") == "gorouter_access")
        assert ra.count() > 0
        r = ra.select("parsed_routeraccess").first().parsed_routeraccess
        assert r.rtr_verb == "GET"
        assert r.rtr_status in (200, 300, 400, 500, 600)
        assert isinstance(r.rtr_response_time_sec, float)
        assert r.rtr_app_id.startswith("00000000-")

    def test_rtr_app_id_identifies(self, docs_all_routes):
        # arm 2 rows have empty envelope app_id; only rtr_app_id keeps them
        ra = docs_all_routes.filter(F.col("index_class") == "gorouter_access")
        assert ra.filter(F.col("log_message.app_id") == "").count() == ra.count()

    def test_identifiable_classes_present(self, docs_all_routes):
        # linux_logs / var_vcap_sys_log rows carry no app identity, so
        # F3 (main.go:414-430) drops them even when the route is live
        classes = {
            r.index_class
            for r in docs_all_routes.select("index_class").distinct().collect()
        }
        assert classes == {"gorouter", "gorouter_access", "bosh_director"}


class TestPostStages:
    def test_post_stage_enriches_documents(self, spark, records, dim):
        from cga_kinesis_to_elasticsearch_spark.operators.useragent import (
            with_ua_class,
        )

        def ua_stage(df):
            # the richest route's UA capture feeds the classifier; rows
            # routed elsewhere carry NULL struct -> NULL ua -> 'other'
            return with_ua_class(
                df.withColumn(
                    "ua", F.col("parsed_routeraccess.rtr_http_user_agent")
                ),
                "ua",
            )

        docs = ua_stage(
            run_pipeline(
                records,
                dim,
                PipelineConfig(
                    allowed_origins=ALLOWED_ORIGINS,
                    enable_disabled_routes=True,
                ),
            )
        )
        assert {"ua_family", "ua_major", "ua_is_bot"} <= set(docs.columns)
        fams = {r["ua_family"] for r in docs.select("ua_family").distinct().collect()}
        # fixture UA string is the literal "UA" -> classifies as other
        assert fams == {"other"}

    def test_default_documents_have_no_stage_columns(self, docs):
        # the parity contract: with no stage applied, the document
        # schema is untouched
        assert "ua_family" not in docs.columns


class TestCompiledPipeline:
    @pytest.mark.parametrize("all_routes", [False, True])
    def test_one_compile_serves_many_batches(
        self, spark, records, dim, all_routes, monkeypatch
    ):
        """A stream compiles the pipeline once and applies it to every
        micro-batch: each apply must equal a fresh run_pipeline, with
        the same Column objects (ROUTERACCESS's 22 aliased captures
        included) reused across batches, and issue only the DataFrame
        ops (a fresh build takes ~2,000 py4j round trips)."""
        cfg = PipelineConfig(
            allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=all_routes
        )
        compiled = compile_pipeline(cfg)
        half = F.pmod(F.xxhash64("sequence_number"), F.lit(2))
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()

        def counting(command, *args, **kwargs):
            # this thread's calls only: py4j's finalizer thread sends
            # the releases ("m" commands) of JavaObjects freed at any
            # earlier time, 0 to ~1,700 of them within one apply
            if threading.get_ident() == me:
                sent.append(command)
            return send(command, *args, **kwargs)

        for k in range(2):
            batch = records.filter(half == k)
            sent = []
            monkeypatch.setattr(client, "send_command", counting)
            got = compiled(batch, dim)
            monkeypatch.undo()
            assert len(sent) <= 400, len(sent)
            want = run_pipeline(batch, dim, cfg)
            assert got.count() > 0
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0
            if all_routes:
                assert got.filter(F.col("parsed_routeraccess").isNotNull()).count() > 0
