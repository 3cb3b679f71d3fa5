"""Streaming parity (SURVEY §5 item 4): batch-vs-stream equality,
poison-record bucketing (T2), replay idempotence via deterministic
doc ids (T1), and sink retention (P4)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig, run_pipeline
from cga_kinesis_to_elasticsearch_spark.sinks.bulk import (
    ParquetIndexSink,
    to_bulk_actions,
)
from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
    ALLOWED_ORIGINS,
    synthesize_cf_dimensions,
    synthesize_envelopes,
)
from cga_kinesis_to_elasticsearch_spark.sources.records import (
    decode_records,
    encode_records,
    read_raw_record_stream,
    write_raw_records,
)
from cga_kinesis_to_elasticsearch_spark.streaming.job import (
    StreamConfig,
    drain,
    run_stream,
)

N_POISON = 7


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return synthesize_envelopes(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def dim(spark):
    return flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()


@pytest.fixture(scope="module")
def fixture_dir(spark, records, tmp_path_factory):
    """Raw-record stream fixture: the synthesized envelopes plus
    N_POISON corrupt payloads."""
    d = tmp_path_factory.mktemp("rawstream")
    write_raw_records(records, str(d))
    _poison(spark, N_POISON).coalesce(1).write.mode("append").parquet(str(d))
    return str(d)


def _poison(spark, n, prefix="poison-"):
    """``n`` raw records whose payload decodes as neither protobuf nor
    JSON."""
    return spark.range(n).select(
        F.lit("shard-x").alias("shard_id"),
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias(
            "sequence_number"
        ),
        F.lit("pk").alias("partition_key"),
        F.lit(dt.datetime(2024, 1, 1)).cast("timestamp").alias("arrival_ts"),
        F.lit(b"\x00\x01 not protobuf, not json").alias("data"),
    )


@pytest.fixture(scope="module")
def streamed(spark, dim, fixture_dir, tmp_path_factory):
    """Run the stream to completion once; share sink+metrics."""
    sink_dir = tmp_path_factory.mktemp("sink")
    ck = tmp_path_factory.mktemp("ck")
    sink = ParquetIndexSink(sink_dir)
    cfg = StreamConfig(
        checkpoint_location=str(ck),
        available_now=True,
        pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
    )
    query, metrics = run_stream(
        spark,
        read_raw_record_stream(spark, fixture_dir),
        lambda s: dim,
        sink,
        cfg,
    )
    drain(query)
    return sink, metrics, cfg, str(ck), fixture_dir


def _count_docs(docs):
    docs.count()
    return docs


def _count_written(docs, touched, batch_id):
    docs.count()


def _group_jobs(spark, group):
    """(job id, description) of every job in ``group`` the status store
    still holds."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            d = job.description()
            out.append((job.jobId(), d.get() if d.isDefined() else None))
    return out


class TestJobGroups:
    def test_every_batch_job_carries_the_stream_job_group(
        self, spark, dim, fixture_dir, tmp_path
    ):
        # the stream runs each batch under its run id's job group; the
        # poison count runs on a pool thread and must inherit it, or
        # cancelling the query cannot reach it and it goes unattributed
        tracker = spark.sparkContext.statusTracker()
        ungrouped_before = set(tracker.getJobIdsForGroup())
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            before_write=(_count_docs,),
            after_write=(_count_written,),
        )
        query, metrics = run_stream(
            spark,
            read_raw_record_stream(spark, fixture_dir),
            lambda s: dim,
            ParquetIndexSink(tmp_path / "sink"),
            cfg,
        )
        drain(query)
        # the status store fills from the listener bus asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert metrics.errors_count == N_POISON  # the poison count ran
        assert tracker.getJobIdsForGroup(str(query.runId))
        # only ids beyond the snapshot: old jobs may be evicted meanwhile
        assert set(tracker.getJobIdsForGroup()) - ungrouped_before == set()
        # ... and every job is named after the runner stage that ran it,
        # the pool thread's poison count included
        stages = {
            "count",
            "write",
            "poison",
            "errors",
            "before_write:_count_docs",
            "after_write:_count_written",
        }
        described = {d for _, d in _group_jobs(spark, str(query.runId))}
        assert described == stages


class TestStableBatchPlan:
    def test_no_codegen_and_at_most_nine_jobs_per_batch(
        self, spark, records, dim, tmp_path
    ):
        """Every micro-batch applies one compiled plan: once the first
        batch has compiled its classes, a batch with poison rows
        compiles no new Janino class (an integer batch-id literal in
        the poison write used to compile 2 per batch), and a batch of
        one index runs at most 9 jobs. A batch over several indices
        keeps the sink's salted shuffle, one writing task per index
        rather than one task for all: its write runs 2 jobs."""
        src = tmp_path / "raw"
        day = F.dayofmonth("arrival_ts")
        # the default routes send every document to gorouter-<day>: the
        # first three batches hold one index each, the last ~27
        for k, part in enumerate([day == 1, day == 2, day == 3, day > 3]):
            # one append of 4 files per batch (maxFilesPerTrigger = 4),
            # each batch with its own records and poison rows
            poison = _poison(spark, 5, prefix=f"poison-{k}-")
            encode_records(records.filter(part)).unionByName(poison).repartition(
                4
            ).write.mode("append").parquet(str(src))
        # a batch's last step is its poison write: read the compile
        # counter there, once per batch
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiled: list[int] = []

        class EndOfBatch(ParquetIndexSink):
            def write_errors(self, poison, batch_id):
                super().write_errors(poison, batch_id)
                compiled.append(codegen.METRIC_COMPILATION_TIME().getCount())

        # a materialized dimension snapshot, so the first batch does not
        # also run the dimension's own jobs
        dim.count()
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
        )
        sink = EndOfBatch(tmp_path / "sink")
        query, metrics = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        assert metrics.errors_count == 20
        assert len(sink.indices()) > 3
        assert len(compiled) == 4
        assert compiled[2] == compiled[0], compiled
        # every batch ends with its poison write
        batches: list[list[str]] = [[]]
        for _, described in sorted(_group_jobs(spark, str(query.runId))):
            batches[-1].append(described)
            if described == "errors":
                batches.append([])
        assert batches.pop() == [] and len(batches) == 4, batches
        assert all(len(b) <= 9 and b.count("write") == 1 for b in batches[:3]), batches
        assert batches[3].count("write") == 2, batches


class TestRoundTrip:
    def test_encode_decode_lossless(self, spark, records):
        back = decode_records(encode_records(records))
        assert back.filter(F.col("decode_error")).count() == 0
        orig = records.select("sequence_number", "origin", "log_message.message")
        got = back.select("sequence_number", "origin", "log_message.message")
        assert orig.exceptAll(got).count() == 0
        assert got.exceptAll(orig).count() == 0


class TestBatchStreamEquality:
    def test_same_docs(self, spark, records, dim, streamed):
        sink, _, cfg, _, _ = streamed
        batch = run_pipeline(records, dim, cfg.pipeline).drop(
            "log_message", "arrival_ts"
        )
        stream_docs = sink.read_index(spark).select(
            *[F.col(f"`{c}`") for c in batch.columns]
        )
        a = batch.toPandas().sort_values("doc_id").reset_index(drop=True)
        b = stream_docs.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert len(a) > 0
        import pandas.testing as pdt

        pdt.assert_frame_equal(a, b, check_like=True)

    def test_counters(self, records, dim, streamed, spark):
        sink, metrics, cfg, _, _ = streamed
        expected = run_pipeline(records, dim, cfg.pipeline).count()
        assert metrics.sent_count == expected
        assert metrics.errors_count == N_POISON
        text = metrics.prometheus_text()
        assert f"sent_count {expected}" in text
        assert f"errors_count {N_POISON}" in text


class TestPoisonBucket:
    def test_errors_preserved_with_raw_bytes(self, spark, streamed):
        sink, _, _, _, _ = streamed
        errs = sink.read_errors(spark)
        assert errs.count() == N_POISON
        row = errs.select("shard_id", "data").first()
        assert row.shard_id == "shard-x"
        assert bytes(row.data).startswith(b"\x00\x01")


class TestReplayIdempotence:
    def test_restart_same_checkpoint_no_new_docs(
        self, spark, dim, streamed
    ):
        sink, metrics, cfg, ck, fixture_dir = streamed
        before = sink.read_index(spark).count()
        sent_before = metrics.sent_count
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, fixture_dir),
            lambda s: dim,
            sink,
            StreamConfig(
                checkpoint_location=ck,
                available_now=True,
                pipeline=cfg.pipeline,
            ),
            metrics,
        )
        drain(query)
        assert metrics.sent_count == sent_before  # offsets committed
        assert sink.read_index(spark).count() == before

    def test_reprocess_fresh_checkpoint_dedups_by_doc_id(
        self, spark, dim, streamed, tmp_path
    ):
        """At-least-once replay writes duplicate rows; read-back dedup
        by deterministic doc_id restores exactly-once (T1)."""
        sink, _, cfg, _, fixture_dir = streamed
        before = sink.read_index(spark).count()
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, fixture_dir),
            lambda s: dim,
            sink,
            StreamConfig(
                checkpoint_location=str(tmp_path / "ck2"),
                available_now=True,
                pipeline=cfg.pipeline,
            ),
        )
        drain(query)
        raw = spark.read.parquet(str(sink.root / "data"))
        assert raw.count() == 2 * before  # duplicates on disk...
        assert sink.read_index(spark).count() == before  # ...hidden by _id


class TestSinkLayoutAndRetention:
    def test_day_partitioned_indices_with_mappings(self, streamed):
        sink, _, _, _, _ = streamed
        idx = sink.indices()
        assert idx and all(i.startswith("gorouter-") for i in idx)
        for i in idx:
            assert (sink.root / "_mappings" / f"{i}.json").exists()

    def test_bulk_actions_shape(self, spark, streamed):
        sink, _, _, _, _ = streamed
        actions = to_bulk_actions(sink.read_index(spark))
        assert set(actions.columns) == {"_index", "_id", "_source"}
        row = actions.first()
        assert row._index.startswith("gorouter-")
        # enriched rows carry the @cf.* columns in the JSON body;
        # unknown-origin rows omit them (ignoreNullFields, J3/J4)
        enriched = actions.filter(F.col("_source").contains('"@cf.app"'))
        assert enriched.count() > 0

    def test_retention_drops_old_indices(self, spark, streamed):
        sink, _, _, _, _ = streamed
        idx = sink.indices()
        newest = max(i[-10:] for i in idx)
        dropped = sink.drop_expired(
            days_to_keep=0, today=dt.date.fromisoformat(newest)
        )
        assert set(dropped) == {i for i in idx if i[-10:] < newest}
        assert sink.indices() == [i for i in idx if i[-10:] >= newest]
        for i in dropped:
            assert not (sink.root / "_mappings" / f"{i}.json").exists()


class TestAdaptiveWriteSalt:
    """ParquetIndexSink.write sizes its per-index file fan-out from the
    caller-supplied max per-index row count (r10: a 30-index micro-batch
    under the fixed 8-way salt wrote ~8 tiny files per index)."""

    def _docs(self, spark, n_rows, n_idx):
        from pyspark.sql import functions as F

        return (
            spark.range(n_rows)
            .select(
                F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
                F.concat(
                    F.lit("logs-2030-01-"),
                    F.lpad((F.col("id") % n_idx + 1).cast("string"), 2, "0"),
                ).alias("es_index"),
                F.col("id").alias("payload"),
            )
        )

    def _files_per_index(self, root):
        out = {}
        for d in (root / "data").iterdir():
            if d.is_dir() and d.name.startswith("es_index="):
                out[d.name] = len(list(d.glob("*.parquet")))
        return out

    def test_small_batch_writes_one_file_per_index(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

        sink = ParquetIndexSink(tmp_path / "s1")
        docs = self._docs(spark, 3000, 10)
        sink.write(docs, max_rows_per_index=300)
        fpi = self._files_per_index(tmp_path / "s1")
        assert len(fpi) == 10
        assert all(n == 1 for n in fpi.values()), fpi
        # content identical to the read-back contract
        assert sink.read_index(spark).count() == 3000

    def test_large_batch_keeps_capped_fanout(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

        sink = ParquetIndexSink(tmp_path / "s2")
        docs = self._docs(spark, 2000, 2)
        # pretend the batch is production-size: cap (8) binds.
        # Fan-out is AT MOST the salt (same-index salt groups can hash
        # into one task and share a file) but must stay multi-file.
        sink.write(docs, max_rows_per_index=10_000_000)
        fpi = self._files_per_index(tmp_path / "s2")
        assert all(1 < n <= ParquetIndexSink.WRITE_SALT for n in fpi.values()), fpi

    def test_default_behavior_unchanged(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

        sink = ParquetIndexSink(tmp_path / "s3")
        sink.write(self._docs(spark, 2000, 2))  # no hint -> old 8-way salt
        fpi = self._files_per_index(tmp_path / "s3")
        assert all(1 < n <= ParquetIndexSink.WRITE_SALT for n in fpi.values()), fpi


class TestResumeWithNewData:
    def test_restart_processes_only_new_files(
        self, spark, dim, streamed, tmp_path
    ):
        """S2: after a restart with the same checkpoint, only
        newly-arrived files are read; already-committed offsets are
        skipped (the AFTER_SEQUENCE_NUMBER resume, consumer.go:149-169)."""
        import pyspark.sql.functions as F

        sink, metrics, cfg, ck, fixture_dir = streamed
        before_docs = sink.read_index(spark).count()
        sent_before = metrics.sent_count
        # new arrivals: clone a small slice of records with fresh
        # sequence numbers (fresh doc ids)
        new = (
            spark.read.parquet(fixture_dir)
            .filter(F.col("sequence_number").rlike("^[0-9]+$"))
            .limit(40)
            .withColumn(
                "sequence_number",
                F.concat(F.lit("resume-"), F.col("sequence_number")),
            )
        )
        new.coalesce(1).write.mode("append").parquet(fixture_dir)
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            read_raw_record_stream,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
            drain,
            run_stream,
        )

        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, fixture_dir),
            lambda s: dim,
            sink,
            StreamConfig(
                checkpoint_location=ck, available_now=True, pipeline=cfg.pipeline
            ),
            metrics,
        )
        drain(query)
        newly_sent = metrics.sent_count - sent_before
        assert 0 < newly_sent <= 40  # only the new records, not a replay
        assert sink.read_index(spark).count() == before_docs + newly_sent


def _park_and_fix(spark, payloads, dim, tmp_path, **stream):
    """Stream ``payloads`` (raw records) with a junk prefix on every
    payload, so each row lands in the error bucket; then "fix" the
    bucket by stripping the prefix. Returns (sink, the stream's
    StreamConfig)."""
    from cga_kinesis_to_elasticsearch_spark.sources.records import (
        read_raw_record_stream,
    )

    d = tmp_path / "raw"
    n = payloads.count()
    payloads.withColumn(
        "data", F.concat(F.lit(b"\x00junk"), F.col("data"))
    ).coalesce(1).write.mode("append").parquet(str(d))
    sink = ParquetIndexSink(tmp_path / "sink")
    cfg = StreamConfig(
        checkpoint_location=str(tmp_path / "ck"),
        available_now=True,
        pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
        **stream,
    )
    query, metrics = run_stream(
        spark, read_raw_record_stream(spark, str(d)), lambda s: dim, sink, cfg
    )
    drain(query)
    assert metrics.errors_count == n
    assert metrics.sent_count == 0
    # "fix" the payloads in the bucket: strip the junk prefix
    errs = spark.read.parquet(str(sink.root / "_errors"))
    fixed = errs.withColumn("data", F.expr("substring(data, 6, 10000000)"))
    fixed_pd = fixed.toPandas()  # materialize BEFORE clobbering source
    import shutil

    shutil.rmtree(sink.root / "_errors")
    spark.createDataFrame(fixed_pd, fixed.schema).write.mode(
        "overwrite"
    ).partitionBy("batch_id").parquet(str(sink.root / "_errors"))
    return sink, cfg


class TestErrorReplay:
    def test_fixed_payloads_replay_into_index(
        self, spark, records, dim, tmp_path
    ):
        """Poison rows whose payloads later turn out valid are indexed
        by replay_errors."""
        from cga_kinesis_to_elasticsearch_spark.streaming.replay import (
            replay_errors,
        )

        # 30 valid payloads, mangled so they fail decode on first pass
        sink, cfg = _park_and_fix(
            spark, encode_records(records.limit(30)), dim, tmp_path
        )
        out = replay_errors(spark, sink, dim, cfg)
        assert out["still_poison"] == 0
        # 30 raw records -> only the routable+identifiable subset indexes
        assert out["replayed"] == sink.read_index(spark).count()
        assert out["replayed"] > 0

    def test_protobuf_payloads_replay_with_the_stream_decoder(
        self, spark, records, dim, tmp_path
    ):
        """A protobuf stream's bucket replays through the stream's own
        decoder, not a JSON one."""
        from cga_kinesis_to_elasticsearch_spark.sources.protowire import (
            decode_protobuf_records,
            encode_protobuf_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.replay import (
            replay_errors,
        )

        sink, cfg = _park_and_fix(
            spark,
            encode_protobuf_records(records.limit(30)),
            dim,
            tmp_path,
            decoder=decode_protobuf_records,
        )
        out = replay_errors(spark, sink, dim, cfg)
        assert out["still_poison"] == 0
        assert out["replayed"] == sink.read_index(spark).count()
        assert out["replayed"] > 0

    def test_replay_runs_before_write(self, spark, records, dim, tmp_path):
        """Replayed documents pass the stream's cross-batch exact-dedup
        stage: content the dedup index already holds stays out."""
        from cga_kinesis_to_elasticsearch_spark.sinks.dedupindex import (
            dedup_against_index,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.replay import (
            replay_errors,
        )

        text = "parsed_generic.log_event"
        index = str(tmp_path / "didx")

        def exact_dedup(d):
            return dedup_against_index(d.sparkSession, d, index, text, "doc_id")

        parked = records.limit(60)
        sink, cfg = _park_and_fix(
            spark,
            encode_records(parked),
            dim,
            tmp_path,
            before_write=(exact_dedup,),
        )
        # earlier records, under other ids, that carried a third of the
        # parked content
        docs = run_pipeline(parked, dim, cfg.pipeline)
        prior = docs.filter(F.crc32("doc_id") % 3 == 0).withColumn(
            "doc_id", F.concat(F.lit("prior-"), "doc_id")
        )
        exact_dedup(prior)  # registers the prior content
        seen = {r[0] for r in prior.select(text).collect()} - {None}
        out = replay_errors(spark, sink, dim, cfg)
        landed = [r[0] for r in sink.read_index(spark).select(text).collect()]
        assert seen and landed
        assert seen.isdisjoint(landed)
        assert out["replayed"] == len(landed)
        assert out["still_poison"] == 0
