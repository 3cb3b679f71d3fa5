"""Incremental heavy-hitters maintenance from micro-batches.

Companion to sinks/sketchmaint.py: where that keeps per-day DISTINCT
counts fresh via mergeable HLL sketches, this keeps the TOP-K FREQUENT
keys fresh via a mergeable Misra-Gries summary
(operators/heavyhitters.py) — "which apps/routes dominate the stream"
without ever rescanning facts. Per batch: exact batch counts (one
map-side-combined aggregation) pruned to k entries, merged into the
stored k-entry summary, written back atomically. Work per batch is
O(|batch| + k); stored state is k rows total regardless of history.

Unlike HLL union (set semantics), Misra-Gries merge ADDS counters, so
an at-least-once replay of a batch double-counts it — the same
additive-replay caveat as the counter rollup (sinks/rollup.py). The
maintainer therefore follows the same crash-safety protocol (_swap.py:
deterministic temp/old names, recover-then-refresh) so a crash can
never lose the accumulated summary, and exposes the summary's
``deficit`` so consumers see the undercount bound.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.heavyhitters import exact_counts, mg_merge
from ._swap import part_paths, recover_and_sweep, write_swapped

__all__ = ["refresh_heavy_hitters", "read_heavy_hitters"]

_PART = "summary"


def refresh_heavy_hitters(
    spark: SparkSession,
    batch: DataFrame,
    hh_root: str | Path,
    key_col: str,
    k: int = 100,
) -> int:
    """Merge ``batch``'s key frequencies into the stored k-entry
    summary under ``hh_root``. Returns the stored entry count."""
    root = Path(hh_root)
    root.mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root)
    # backtick-quote: doc columns like `@cf.app_id` contain dots
    batch_summary = exact_counts(
        batch.select(F.col(f"`{key_col}`").alias("key")), "key", k
    )
    final, _, _ = part_paths(root, _PART)
    if final.exists():
        merged = mg_merge(spark.read.parquet(str(final)), batch_summary, k)
    else:
        merged = batch_summary
    write_swapped(merged.coalesce(1), root, _PART)
    return spark.read.parquet(str(final)).count()


def read_heavy_hitters(
    spark: SparkSession, hh_root: str | Path
) -> DataFrame:
    """Stored summary as ``(key STRING, cnt LONG, deficit LONG)``:
    every key with true frequency > N/(k+1) is present; true counts lie
    in [cnt, cnt + deficit]."""
    final, _, _ = part_paths(Path(hh_root), _PART)
    return spark.read.parquet(str(final))
