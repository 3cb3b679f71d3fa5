"""Streaming centroid maintenance: mini-batch k-means for the
persisted ANN index.

`similarity.kmeans_train` trains centroids in batch; `sinks/annindex`
serves from a persisted centroid snapshot. This maintainer keeps that
snapshot FRESH as data streams in, without ever rescanning history:
per batch, assign the batch's vectors to their nearest stored
centroid (the exact query-time cosine assignment, so serving and
maintenance can never drift) and fold them into each centroid's
running mean — the web-scale mini-batch k-means recipe (Sculley '10),
with counts persisted so the running mean is exact over everything
ever absorbed.

State: ``(cell_id INT, centroid ARRAY<DOUBLE>, n LONG)`` — k rows —
under the crash-safe swap protocol (_swap.py). Work per batch is one
batch scan + a k x dim partial-sum shuffle. Additive-update caveat:
an at-least-once replay re-absorbs the batch (same as rollup
counters); centroids drift only fractionally (a replayed batch moves
a mean by at most its weight share), unlike counters which double.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast

from ..operators.similarity import _as_double, _probe_cells
from ._swap import part_paths, recover_and_sweep, write_swapped

__all__ = ["init_centroids", "refresh_centroids", "read_centroid_state"]

_PART = "centroids"


def init_centroids(
    spark: SparkSession, centroids: DataFrame, root: str | Path
) -> None:
    """Seed the store with ``(cell_id, centroid)`` rows (n = 0) — e.g.
    a kmeans_train result or the annindex centroid snapshot."""
    root = Path(root)
    root.mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root)
    seeded = centroids.select(
        F.col("cell_id").cast("int"),
        _as_double(F.col("centroid")).alias("centroid"),
        F.lit(0).cast("long").alias("n"),
    )
    write_swapped(seeded.coalesce(1), root, _PART)


def read_centroid_state(spark: SparkSession, root: str | Path) -> DataFrame:
    final, _, _ = part_paths(Path(root), _PART)
    return spark.read.parquet(str(final))


def refresh_centroids(
    spark: SparkSession,
    batch: DataFrame,
    root: str | Path,
    vec_col: str = "embedding",
) -> int:
    """Absorb ``batch`` into the stored centroids; returns rows
    absorbed. Assignment uses the SAME cosine argmax expression the
    IVF index probes with."""
    root = Path(root)
    recover_and_sweep(root)
    state = read_centroid_state(spark, root)
    cen_row = state.select(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cell_id"), F.col("centroid").alias("cv"))
            )
        ).alias("__cens")
    )
    v = batch.select(_as_double(F.col(vec_col)).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    # a zero-norm vector's similarity is NULL everywhere: no cell
    top = F.element_at(_probe_cells(F.col("__v"), 1), 1)
    assigned = (
        v.crossJoin(broadcast(cen_row))
        .select("__v", top["cell_id"].alias("cell_id"), top["sim"].alias("sim"))
        .filter(F.col("sim").isNotNull())
    )
    sums = (
        assigned.select("cell_id", F.posexplode("__v").alias("pos", "val"))
        .groupBy("cell_id", "pos")
        .agg(F.sum("val").alias("s"), F.count("val").alias("c"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("bsum"),
            F.max("c").alias("bn"),
        )
        # <= k rows; persist so the absorbed-count read and the merge
        # below share ONE batch scan (recomputing the lineage would
        # re-run the whole batch pipeline a second time)
        .persist()
    )
    # absorbed = what the state actually folded in (rows assigned to a
    # cell), not a recount of the raw batch — the two can differ when
    # assignment yields NULL (e.g. zero-norm vectors), which the merge
    # path drops
    absorbed = sum(r["bn"] for r in sums.select("bn").collect())
    merged = (
        state.join(sums, "cell_id", "left")
        .select(
            "cell_id",
            F.when(F.col("bn").isNull(), F.col("centroid"))
            .otherwise(
                # exact running mean: (old_mean * n + batch_sum) / (n + bn)
                F.zip_with(
                    F.col("centroid"),
                    F.col("bsum"),
                    lambda c, s: (c * F.col("n") + s)
                    / (F.col("n") + F.col("bn")),
                )
            )
            .alias("centroid"),
            (F.col("n") + F.coalesce(F.col("bn"), F.lit(0))).alias("n"),
        )
    )
    try:
        write_swapped(merged.coalesce(1), root, _PART)
    finally:
        sums.unpersist(blocking=False)
    return absorbed
