"""Keyed upsert sink (sinks/upsert.py): latest-wins merge semantics,
tombstone persistence, replay/out-of-order safety, bucket-local
rewrites, and crash recovery via the swap protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.upsert import (
    apply_upserts,
    read_upsert_table,
)

_SCHEMA = "k string, seq long, v string, is_del boolean"


def _b(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _state(spark, root):
    return {
        r["k"]: (r["seq"], r["v"])
        for r in read_upsert_table(spark, root).collect()
    }


class TestUpsertSemantics:
    def test_latest_wins_and_insert(self, spark, tmp_path):
        root = tmp_path / "t"
        apply_upserts(
            spark,
            _b(spark, [("a", 1, "a1", False), ("b", 1, "b1", False)]),
            root, "k", "seq", delete_col="is_del",
        )
        apply_upserts(
            spark,
            _b(spark, [("a", 2, "a2", False), ("c", 1, "c1", False)]),
            root, "k", "seq", delete_col="is_del",
        )
        assert _state(spark, root) == {
            "a": (2, "a2"), "b": (1, "b1"), "c": (1, "c1"),
        }

    def test_stats_live_rows_from_observed_write(self, spark, tmp_path):
        root = tmp_path / "t"
        stats = apply_upserts(
            spark,
            _b(spark, [("a", 1, "a1", False), ("b", 1, "b1", False),
                       ("c", 1, "c1", True)]),
            root, "k", "seq", delete_col="is_del",
        )
        # live rows exclude the winning tombstone, which IS stored
        assert stats.rows_in_touched == 2
        stats = apply_upserts(
            spark, _b(spark, [("a", 2, "a2", True)]), root, "k", "seq",
            delete_col="is_del",
        )
        # a's bucket rewritten: a now dead, whoever shares its bucket live
        assert stats.buckets_touched == len(stats.touched)
        assert 0 <= stats.rows_in_touched <= 2

    def test_out_of_order_batch_cannot_regress(self, spark, tmp_path):
        root = tmp_path / "t"
        apply_upserts(
            spark, _b(spark, [("a", 5, "new", False)]), root, "k", "seq",
            delete_col="is_del",
        )
        # a LATE batch carrying an older version must lose
        apply_upserts(
            spark, _b(spark, [("a", 2, "old", False)]), root, "k", "seq",
            delete_col="is_del",
        )
        assert _state(spark, root) == {"a": (5, "new")}

    def test_replay_idempotent(self, spark, tmp_path):
        root = tmp_path / "t"
        batch = _b(spark, [("a", 1, "a1", False), ("b", 2, "b2", False)])
        apply_upserts(spark, batch, root, "k", "seq", delete_col="is_del")
        before = _state(spark, root)
        apply_upserts(spark, batch, root, "k", "seq", delete_col="is_del")
        assert _state(spark, root) == before

    def test_tombstone_deletes_and_blocks_resurrection(self, spark, tmp_path):
        root = tmp_path / "t"
        apply_upserts(
            spark, _b(spark, [("a", 1, "a1", False)]), root, "k", "seq",
            delete_col="is_del",
        )
        apply_upserts(
            spark, _b(spark, [("a", 9, None, True)]), root, "k", "seq",
            delete_col="is_del",
        )
        assert "a" not in _state(spark, root)
        # replaying an OLD pre-delete version must NOT resurrect the key
        apply_upserts(
            spark, _b(spark, [("a", 1, "a1", False)]), root, "k", "seq",
            delete_col="is_del",
        )
        assert "a" not in _state(spark, root)
        # a genuinely newer upsert revives it
        apply_upserts(
            spark, _b(spark, [("a", 10, "back", False)]), root, "k", "seq",
            delete_col="is_del",
        )
        assert _state(spark, root) == {"a": (10, "back")}

    def test_reserved_columns_rejected(self, spark, tmp_path):
        df = spark.createDataFrame([("a", 1, 0)], "k string, seq long, bucket int")
        with pytest.raises(ValueError):
            apply_upserts(spark, df, tmp_path / "t", "k", "seq")


class TestLocalityAndRecovery:
    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        root = tmp_path / "t"
        big = _b(
            spark,
            [(f"k{i}", 1, f"v{i}", False) for i in range(200)],
        )
        apply_upserts(spark, big, root, "k", "seq", n_buckets=16,
                      delete_col="is_del")
        import os

        mtimes = {
            p.name: os.path.getmtime(p) for p in root.glob("bucket=*")
        }
        assert len(mtimes) > 4  # keys spread over several buckets
        stats = apply_upserts(
            spark, _b(spark, [("k0", 2, "v0b", False)]), root, "k", "seq",
            n_buckets=16, delete_col="is_del",
        )
        assert stats.buckets_touched == 1
        after = {p.name: os.path.getmtime(p) for p in root.glob("bucket=*")}
        changed = {n for n in mtimes if after[n] != mtimes[n]}
        assert len(changed) == 1
        assert _state(spark, root)["k0"] == (2, "v0b")

    def test_interrupted_swap_recovers(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks._swap import part_paths

        root = tmp_path / "t"
        apply_upserts(
            spark, _b(spark, [("a", 1, "a1", False)]), root, "k", "seq",
            n_buckets=1, delete_col="is_del",
        )
        final, _, old = part_paths(root, "bucket=0")
        final.rename(old)  # crash between swap steps 2 and 3
        apply_upserts(
            spark, _b(spark, [("b", 1, "b1", False)]), root, "k", "seq",
            n_buckets=1, delete_col="is_del",
        )
        assert _state(spark, root) == {"a": (1, "a1"), "b": (1, "b1")}


class TestStreamingUpsertHook:
    def test_stream_maintains_latest_doc_per_app(self, spark, sf_dir, tmp_path):
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
        state = tmp_path / "state"
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(
                lambda d, touched, batch_id: apply_upserts(
                    d.sparkSession,
                    d,
                    str(state),
                    key_col="@cf.app_id",
                    seq_col="timestamp",
                    tiebreak_col="doc_id",
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
        # expected: the max-(timestamp, doc_id) document per app key
        from pyspark.sql import Window

        w = Window.partitionBy(app).orderBy(
            F.col("timestamp").desc(), F.col("doc_id").desc()
        )
        want = {
            (r["k"], r["doc_id"])
            for r in docs.filter(app.isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(app.alias("k"), "doc_id")
            .collect()
        }
        got = {
            (r["k"], r["doc_id"])
            for r in read_upsert_table(spark, state)
            .select(F.col("`@cf.app_id`").alias("k"), "doc_id")
            .collect()
        }
        assert got == want and len(got) > 1
