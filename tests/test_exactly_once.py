"""Exactly-once at write (sinks/bulk.py, sinks/_swap.write_keyed): a
micro-batch commits under ``<query id>.<batch id>``, so a replayed
batch replaces its own files, and ``read_index`` scans a single-stream
index as is, deduplicating only indices that other writers touched."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig, run_pipeline
from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
    ALLOWED_ORIGINS,
    synthesize_cf_dimensions,
    synthesize_envelopes,
)

IDX_A, IDX_B = "logs-2030-01-01", "logs-2030-01-02"


def _docs(spark, n, prefix="d"):
    """``n`` docs split over IDX_A (even ids) and IDX_B (odd ids)."""
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, IDX_A).otherwise(IDX_B).alias("es_index"),
        F.col("id").alias("user_id"),
        F.concat(F.lit("msg "), F.col("id")).alias("message"),
    )


def _raw_ids(spark, sink):
    return Counter(
        r[0] for r in spark.read.parquet(str(sink.root / "data")).select("doc_id").collect()
    )


def _read_ids(spark, sink):
    return Counter(r[0] for r in sink.read_index(spark).select("doc_id").collect())


def _plan(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _scans_under_exchanges(lines: list[str]) -> list[str]:
    """The FileScan lines of every subtree rooted at an Exchange."""
    out = []
    for i, line in enumerate(lines):
        if "Exchange" not in line:
            continue
        depth = line.index("+-")
        for below in lines[i + 1:]:
            if len(below) - len(below.lstrip(" :|")) <= depth:
                break
            if "FileScan" in below:
                out.append(below)
    return out


class TestKeyedCommit:
    def test_replayed_batch_replaces_its_own_files(self, spark, tmp_path, in_batch):
        sink = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        sink.write(_docs(spark, 40))
        in_batch("q1", 1)
        sink.write(_docs(spark, 40, prefix="e"))
        # the replay of batch 0 routes only half of its docs (a replay
        # may stage less): the first attempt's files go from BOTH dirs
        in_batch("q1", 0)
        sink.write(_docs(spark, 40).filter(F.col("es_index") == IDX_A))
        ids = _raw_ids(spark, sink)
        assert set(ids.values()) == {1}
        assert sum(k.startswith("d") for k in ids) == 20
        assert sum(k.startswith("e") for k in ids) == 40
        assert not any(p.name.startswith(".tmp-") for p in (sink.root / "data").iterdir())

    def test_outside_a_stream_write_appends(self, spark, tmp_path):
        sink = ParquetIndexSink(tmp_path / "s")
        sink.write(_docs(spark, 10))
        sink.write(_docs(spark, 10))
        assert set(_raw_ids(spark, sink).values()) == {2}
        assert set(_read_ids(spark, sink).values()) == {1}

    def test_poison_bucket_replay_safe(self, spark, tmp_path, in_batch):
        sink = ParquetIndexSink(tmp_path / "s")
        poison = spark.range(5).select(F.col("id").cast("string").alias("shard_id"))
        in_batch("q1", 0)
        sink.write_errors(poison, 0)
        sink.write_errors(poison, 0)  # the replay of batch 0
        assert sink.read_errors(spark).count() == 5
        # batch 0 of a fresh checkpoint adds to the old batch 0
        in_batch("q2", 0)
        sink.write_errors(poison, 0)
        assert sink.read_errors(spark).filter("batch_id = 0").count() == 10


class TestReadRule:
    def test_single_stream_read_is_a_bare_scan(
        self, spark, tmp_path, in_batch, count_jobs
    ):
        sink = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        sink.write(_docs(spark, 40))
        in_batch("q1", 1)
        sink.write(_docs(spark, 40, prefix="e"))
        in_batch(None, None)
        df, _ = count_jobs(lambda: sink.read_index(spark))
        assert not any("Exchange" in line for line in _plan(df))
        assert set(_read_ids(spark, sink).values()) == {1}
        # an unchanged listing reuses the inferred schema: no job
        df2, n_jobs = count_jobs(lambda: sink.read_index(spark))
        assert n_jobs == 0
        assert df2.schema == df.schema

    def test_changed_listing_infers_again(self, spark, tmp_path, in_batch, count_jobs):
        sink = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        sink.write(_docs(spark, 10))
        in_batch("q1", 1)
        sink.read_index(spark)
        sink.write(_docs(spark, 10, prefix="e").withColumn("extra", F.lit(1)))
        df, n_jobs = count_jobs(lambda: sink.read_index(spark))
        assert n_jobs >= 1  # the footer-inference job
        assert df.count() == 20

    def test_fresh_checkpoint_dedups_only_its_index(self, spark, tmp_path, in_batch):
        sink = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        sink.write(_docs(spark, 40))
        # a second checkpoint (new query id) re-sends IDX_B's docs
        in_batch("q2", 0)
        sink.write(_docs(spark, 40).filter(F.col("es_index") == IDX_B))
        in_batch(None, None)
        assert sum(_raw_ids(spark, sink).values()) == 60
        df = sink.read_index(spark)
        scans = _scans_under_exchanges(_plan(df))
        assert len(scans) == 1
        part_filters = scans[0].split("PartitionFilters: [")[1].split("]")[0]
        assert f"= {IDX_B})" in part_filters and "NOT " not in part_filters
        assert set(_read_ids(spark, sink).values()) == {1}
        assert len(_read_ids(spark, sink)) == 40
        assert sink.read_index(spark, pattern="01$").count() == 20

    def test_cat_indices_counts_each_doc_once(self, spark, tmp_path, in_batch):
        sink = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        sink.write(_docs(spark, 40))
        in_batch("q2", 0)
        sink.write(_docs(spark, 40))
        in_batch(None, None)
        got = {r["index"]: r["doc_count"] for r in sink.cat_indices(spark).collect()}
        assert got == {IDX_A: 20, IDX_B: 20}


class TestOtherWritersStayDuplicateFree:
    """Each writer other than the stream leaves its indices read back
    with every doc_id once."""

    @pytest.fixture
    def sink(self, spark, tmp_path, in_batch):
        s = ParquetIndexSink(tmp_path / "s")
        in_batch("q1", 0)
        s.write(_docs(spark, 40))
        in_batch(None, None)
        return s

    def _once(self, spark, sink, n):
        ids = _read_ids(spark, sink)
        assert set(ids.values()) == {1} and len(ids) == n

    def test_compact_index(self, spark, sink):
        from cga_kinesis_to_elasticsearch_spark.sinks.compact import compact_index

        sink.write(_docs(spark, 40))  # an unkeyed duplicate append
        compact_index(spark, sink.root / "data", min_files=1)
        self._once(spark, sink, 40)

    def test_forget(self, spark, sink):
        from cga_kinesis_to_elasticsearch_spark.sinks.forget import forget

        forget(spark, sink.root / "data", F.col("user_id") == 0)
        self._once(spark, sink, 39)

    def test_update_by_query(self, spark, sink):
        from cga_kinesis_to_elasticsearch_spark.sinks.byquery import update_by_query

        update_by_query(
            spark,
            sink.root / "data",
            {"query": {"term": {"user_id": 1}}},
            [{"set": {"field": "message", "value": "updated"}}],
        )
        self._once(spark, sink, 40)
        assert sink.read_index(spark).filter("message = 'updated'").count() == 1


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return synthesize_envelopes(spark, sf_dir).limit(300).cache()


@pytest.fixture(scope="module")
def dim(spark):
    return flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()


CFG = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)


class TestPipelineWriters:
    def test_backfill(self, spark, tmp_path, in_batch, records, dim):
        from cga_kinesis_to_elasticsearch_spark.sinks.backfill import backfill

        sink = ParquetIndexSink(tmp_path / "s")
        docs = run_pipeline(records, dim, CFG).drop("log_message", "arrival_ts")
        in_batch("q1", 0)
        sink.write(docs)
        in_batch(None, None)
        n = docs.count()
        backfill(spark, records, dim, sink.root / "data", CFG)
        ids = _read_ids(spark, sink)
        assert set(ids.values()) == {1} and len(ids) == n

    def test_replay_errors(self, spark, tmp_path, in_batch, records, dim):
        from cga_kinesis_to_elasticsearch_spark.sources.records import encode_records
        from cga_kinesis_to_elasticsearch_spark.streaming.replay import replay_errors

        sink = ParquetIndexSink(tmp_path / "s")
        docs = run_pipeline(records, dim, CFG).drop("log_message", "arrival_ts")
        in_batch("q1", 0)
        sink.write(docs)
        # records that both indexed and errored: the replay re-sends
        # them outside the stream
        sink.write_errors(encode_records(records), 0)
        in_batch(None, None)
        out = replay_errors(spark, sink, dim, CFG)
        n = docs.count()
        assert out["replayed"] == n
        assert sum(_raw_ids(spark, sink).values()) == 2 * n
        ids = _read_ids(spark, sink)
        assert set(ids.values()) == {1} and len(ids) == n


class TestCrashAndReplay:
    def test_batch_failing_after_its_write_is_replayed_once(
        self, spark, tmp_path, records, dim
    ):
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            read_raw_record_stream,
            write_raw_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
            drain,
            run_stream,
        )

        raw = tmp_path / "raw"
        write_raw_records(records, str(raw))
        sink = ParquetIndexSink(tmp_path / "s")
        attempts = Counter()

        def crash_once(docs, touched, batch_id):
            # after the write, before the offset commit
            attempts[batch_id] += 1
            if batch_id == 0 and attempts[batch_id] == 1:
                raise RuntimeError("crash after write")

        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=CFG,
            after_write=(crash_once,),
        )
        query, _ = run_stream(spark, read_raw_record_stream(spark, str(raw)), lambda s: dim, sink, cfg)
        with pytest.raises(Exception, match="crash after write"):
            drain(query)
        assert sum(_raw_ids(spark, sink).values()) > 0  # batch 0 was written
        query, _ = run_stream(spark, read_raw_record_stream(spark, str(raw)), lambda s: dim, sink, cfg)
        drain(query)
        assert attempts[0] == 2
        ids = _raw_ids(spark, sink)
        expected = run_pipeline(records, dim, CFG).count()
        assert set(ids.values()) == {1} and len(ids) == expected
