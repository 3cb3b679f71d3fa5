"""Misra-Gries heavy hitters (operators/heavyhitters.py) and the
streaming maintainer (sinks/hhmaint.py): the frequency guarantee, the
merge bound, and crash-safe incremental refresh."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.heavyhitters import (
    exact_counts,
    mg_merge,
    mg_prune,
)
from cga_kinesis_to_elasticsearch_spark.sinks.hhmaint import (
    read_heavy_hitters,
    refresh_heavy_hitters,
)

# a skewed stream: key i appears ~ (31-i)^2 times
_KEYS = [str(i) for i in range(31) for _ in range((31 - i) ** 2)]


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


class TestMisraGries:
    def test_guarantee_all_heavy_keys_present(self, spark):
        k = 8
        summary = exact_counts(_df(spark, _KEYS), "k", k)
        rows = {r["key"]: (r["cnt"], r["deficit"]) for r in summary.collect()}
        assert len(rows) <= k
        true = Counter(_KEYS)
        n = len(_KEYS)
        for key, cnt in true.items():
            if cnt > n / (k + 1):
                assert key in rows, f"heavy key {key} (true {cnt}) missing"
        # every stored counter underestimates, within the deficit
        for key, (cnt, deficit) in rows.items():
            assert cnt <= true[key] <= cnt + deficit

    def test_merge_equals_one_shot_guarantee(self, spark):
        k = 8
        half = len(_KEYS) // 2
        a = exact_counts(_df(spark, _KEYS[:half]), "k", k)
        b = exact_counts(_df(spark, _KEYS[half:]), "k", k)
        merged = {
            r["key"]: (r["cnt"], r["deficit"])
            for r in mg_merge(a, b, k).collect()
        }
        true = Counter(_KEYS)
        n = len(_KEYS)
        # the merged guarantee is weaker (deficits add) but still must
        # bracket every surviving counter and keep the heaviest key
        top = max(true, key=lambda x: true[x])
        assert top in merged
        for key, (cnt, deficit) in merged.items():
            assert cnt <= true[key] <= cnt + deficit

    def test_prune_noop_when_under_k(self, spark):
        counts = exact_counts(_df(spark, ["a", "a", "b"]), "k")
        out = {r["key"]: r["cnt"] for r in mg_prune(counts, 5).collect()}
        assert out == {"a": 2, "b": 1}

    def test_null_keys_dropped(self, spark):
        df = spark.createDataFrame([("a",), (None,), ("a",)], "k string")
        out = {r["key"]: r["cnt"] for r in exact_counts(df, "k").collect()}
        assert out == {"a": 2}


class TestMaintainer:
    def test_incremental_equals_batch_merge(self, spark, tmp_path):
        root = tmp_path / "hh"
        k = 8
        half = len(_KEYS) // 2
        refresh_heavy_hitters(spark, _df(spark, _KEYS[:half]), root, "k", k)
        refresh_heavy_hitters(spark, _df(spark, _KEYS[half:]), root, "k", k)
        stored = {
            r["key"]: (r["cnt"], r["deficit"])
            for r in read_heavy_hitters(spark, root).collect()
        }
        a = exact_counts(_df(spark, _KEYS[:half]), "k", k)
        b = exact_counts(_df(spark, _KEYS[half:]), "k", k)
        want = {
            r["key"]: (r["cnt"], r["deficit"])
            for r in mg_merge(a, b, k).collect()
        }
        assert stored == want

    def test_interrupted_swap_recovers(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks._swap import part_paths

        root = tmp_path / "hh"
        refresh_heavy_hitters(spark, _df(spark, ["a"] * 5), root, "k", 4)
        final, tmp, old = part_paths(root, "summary")
        # simulate a crash between steps 2 and 3: final renamed away
        final.rename(old)
        assert not final.exists()
        refresh_heavy_hitters(spark, _df(spark, ["b"] * 3), root, "k", 4)
        stored = {
            r["key"]: r["cnt"]
            for r in read_heavy_hitters(spark, root).collect()
        }
        # the pre-crash summary was recovered before merging the batch
        assert stored == {"a": 5, "b": 3}


class TestStreamingHHHook:
    def test_stream_maintains_heavy_hitter_summary(
        self, spark, sf_dir, tmp_path
    ):
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
        hh = tmp_path / "hh"
        # the fixture's app keys are near-uniform, so a small k would
        # CORRECTLY prune everything (no key exceeds N/(k+1)); use
        # k > distinct apps so the summary degenerates to exact counts
        # and the whole maintainer path is value-checkable
        k = 64
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(
                lambda d, touched, batch_id: refresh_heavy_hitters(
                    d.sparkSession, d, str(hh), key_col="@cf.app_id", k=k
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
        true = {
            r.key: r.n
            for r in docs.where(app.isNotNull())
            .groupBy(app.cast("string").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        stored = {
            r.key: (r.cnt, r.deficit)
            for r in read_heavy_hitters(spark, hh).collect()
        }
        assert 0 < len(stored) <= k
        n_total = sum(true.values())
        for key, n in true.items():
            if n > n_total / (k + 1):
                assert key in stored
        for key, (cnt, deficit) in stored.items():
            assert cnt <= true[key] <= cnt + deficit
        # with k above the key cardinality no prune ever fires: the
        # maintained summary must BE the exact counts
        assert {key: cnt for key, (cnt, _) in stored.items()} == true
