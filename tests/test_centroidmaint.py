"""Streaming centroid maintenance (sinks/centroidmaint.py):
assignment-consistent mini-batch k-means with exact running means and
crash-safe state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.centroidmaint import (
    init_centroids,
    read_centroid_state,
    refresh_centroids,
)


def _cens(spark, rows):
    return spark.createDataFrame(
        rows, "cell_id int, centroid array<double>"
    )


def _batch(spark, vecs):
    return spark.createDataFrame(
        [(v,) for v in vecs], "embedding array<double>"
    )


class TestCentroidMaintenance:
    def test_running_mean_over_batches(self, spark, tmp_path):
        root = tmp_path / "c"
        init_centroids(spark, _cens(spark, [(0, [1.0, 0.0])]), root)
        refresh_centroids(spark, _batch(spark, [[2.0, 0.0], [4.0, 0.0]]), root)
        refresh_centroids(spark, _batch(spark, [[6.0, 0.0]]), root)
        st = read_centroid_state(spark, root).first()
        assert st["n"] == 3
        # running mean over everything absorbed: (2+4+6)/3
        assert st["centroid"][0] == pytest.approx(4.0, abs=1e-9)

    def test_assignment_splits_clusters(self, spark, tmp_path):
        root = tmp_path / "c"
        init_centroids(
            spark, _cens(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]), root
        )
        refresh_centroids(
            spark,
            _batch(
                spark,
                [[0.9, 0.1], [0.8, 0.2], [0.1, 0.9], [0.05, 0.95]],
            ),
            root,
        )
        st = {
            r["cell_id"]: (r["centroid"], r["n"])
            for r in read_centroid_state(spark, root).collect()
        }
        assert st[0][1] == 2 and st[1][1] == 2
        assert st[0][0][0] == pytest.approx(0.85, abs=1e-9)  # x-heavy mean
        assert st[1][0][1] == pytest.approx(0.925, abs=1e-9)  # y-heavy mean

    def test_untouched_cell_keeps_centroid(self, spark, tmp_path):
        root = tmp_path / "c"
        init_centroids(
            spark, _cens(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]), root
        )
        refresh_centroids(spark, _batch(spark, [[1.0, 0.0]]), root)
        st = {
            r["cell_id"]: (r["centroid"], r["n"])
            for r in read_centroid_state(spark, root).collect()
        }
        assert st[1] == ([0.0, 1.0], 0)

    def test_interrupted_swap_recovers(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks._swap import part_paths

        root = tmp_path / "c"
        init_centroids(spark, _cens(spark, [(0, [1.0, 0.0])]), root)
        refresh_centroids(spark, _batch(spark, [[3.0, 0.0]]), root)
        final, _, old = part_paths(root, "centroids")
        final.rename(old)  # crash between swap steps 2 and 3
        refresh_centroids(spark, _batch(spark, [[5.0, 0.0]]), root)
        st = read_centroid_state(spark, root).first()
        assert st["n"] == 2
        assert st["centroid"][0] == pytest.approx(4.0, abs=1e-9)


class TestZeroVector:
    def test_zero_vector_is_dropped_not_fatal(self, spark, tmp_path):
        # an all-zero embedding has no cosine direction: under ANSI
        # mode a plain division failed the whole batch
        root = tmp_path / "c"
        init_centroids(
            spark, _cens(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]), root
        )
        absorbed = refresh_centroids(
            spark, _batch(spark, [[0.0, 0.0], [2.0, 0.0], [0.0, 4.0]]), root
        )
        st = {
            r["cell_id"]: (r["centroid"], r["n"])
            for r in read_centroid_state(spark, root).collect()
        }
        assert absorbed == 2
        assert st[0] == ([2.0, 0.0], 1) and st[1] == ([0.0, 4.0], 1)
