"""Incremental per-day sketch maintenance from micro-batches.

`sinks/rollup.py` keeps classic aggregates fresh by RECOMPUTING each
touched day from its stored fact slice, because COUNT DISTINCT and
friends don't merge. Sketches do merge — so this maintainer needs no
fact rescans at all: per batch, build the batch's per-day HLL sketch
and `hll_union` it into the stored day sketch. Work per batch is
O(|batch| + touched days), and the stored state per day is a
kilobyte-scale blob regardless of fact cardinality.

Replay safety is *stronger* than the additive-counter rollup: HLL
insertion has set semantics, so an at-least-once replay of the same
records merges to the identical sketch — no dedup or transactional
guard needed. (This is the engine's answer to the reference's
monotonic-counter drift on restart, main.go:41-47 + the 60 s
checkpoint replay window, postgres.go:61.)

Layout: one `<day_col>=<day>` partition directory per day under
``sketch_root``, holding a single row ``(sketch BINARY,
distinct_est LONG)``. Updates follow the deterministic-name swap
protocol in `_swap.py`; unlike rollup (which can recompute a lost day
from the fact slice) the sketch store is the ONLY copy of accumulated
state, so every refresh first runs `recover_and_sweep` to restore a
day whose swap was interrupted and to reclaim orphaned temp dirs.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._swap import recover_and_sweep, write_swapped

__all__ = ["refresh_day_sketches", "read_day_sketches"]


def refresh_day_sketches(
    spark: SparkSession,
    batch: DataFrame,
    sketch_root: str | Path,
    day_col: str,
    key_col: str,
    lgk: int = 14,
) -> int:
    """Merge ``batch``'s per-day key sketches into the stored per-day
    sketches. ``day_col`` is used as-is (the streaming job passes the
    sink's ``es_index`` partition value). Returns days refreshed."""
    root = Path(sketch_root)
    root.mkdir(parents=True, exist_ok=True)
    # A day whose previous swap was interrupted gets its accumulated
    # sketch restored BEFORE we union the batch into it — without this,
    # a crash in the rename window would silently reset that day to
    # only the current batch's keys.
    recover_and_sweep(root)
    # backtick-quote names: doc columns like `@cf.app_id` contain dots
    # that unquoted resolution would parse as struct access
    key, day = F.col(f"`{key_col}`"), F.col(f"`{day_col}`")
    new_rows = (
        batch.where(key.isNotNull() & day.isNotNull())
        .groupBy(day.cast("string").alias("day"))
        .agg(F.hll_sketch_agg(key, F.lit(lgk)).alias("sketch"))
        .collect()
    )
    refreshed = 0
    for r in new_rows:
        part = f"{day_col}={r['day']}"
        final = root / part
        blobs = [(bytes(r["sketch"]),)]
        if final.exists():
            blobs += [
                (bytes(x["sketch"]),)
                for x in spark.read.parquet(str(final)).select("sketch").collect()
            ]
        merged = (
            spark.createDataFrame(blobs, "sketch binary")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
            .select(
                "sketch",
                F.hll_sketch_estimate("sketch").cast("long").alias("distinct_est"),
            )
            .coalesce(1)
        )
        write_swapped(merged, root, part)
        refreshed += 1
    return refreshed


def read_day_sketches(
    spark: SparkSession, sketch_root: str | Path, day_col: str = "day"
) -> DataFrame:
    """Stored sketch table as ``(day STRING, sketch BINARY,
    distinct_est LONG)`` — directly consumable by
    ``operators.sketches.hll_range_distinct``."""
    df = spark.read.parquet(str(sketch_root))
    # backtick-quote for symmetry with the writer: a dotted day_col
    # would otherwise mis-resolve as struct access on read
    return df.select(
        F.col(f"`{day_col}`").cast("string").alias("day"),
        "sketch",
        "distinct_est",
    )
