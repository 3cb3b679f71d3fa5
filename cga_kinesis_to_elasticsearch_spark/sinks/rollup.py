"""Incremental continuous-aggregate maintenance: keep a day-partitioned
rollup table (the "hypertable continuous aggregate" pattern) up to date
from micro-batches, by recomputing ONLY the days each batch touches and
atomically replacing those partition directories.

Why not re-aggregate the whole fact table per batch: at 100 TB the
rollup input is unbounded, but any micro-batch touches a handful of
days (arrival-time routing, SURVEY T4 — late data lands in the arrival
day by design, so a batch's day set is small and recent). Per-day
recompute bounds work by |batch| + |rollup rows of touched days|, not
by table size.

Why recompute-then-swap instead of read-modify-write merge: parquet
has no MERGE; additive merging of stored partials is fragile for
non-additive aggregates (distinct counts, averages-of-averages). The
engine instead keeps the day's raw slice as the source of truth (the
bulk sink already day-partitions it) and recomputes the day's rollup
from it — idempotent, replay-safe (at-least-once batches re-produce
identical rollups), and crash-safe via the same write-to-temp-then-swap
used by compaction. Each day's recompute is one distributed
aggregation job over one partition directory (partition pruning makes
the scan touch only that day).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._swap import recover_and_sweep, write_swapped

__all__ = ["touched_days", "refresh_rollup"]


def touched_days(batch: DataFrame, date_col: str) -> list[str]:
    """The distinct day partitions a micro-batch touches — a tiny
    driver-side list (bounded by the batch's time spread, not its row
    count; the distinct is map-side combined)."""
    return sorted(
        r[0]
        for r in batch.select(F.col(date_col).cast("string")).distinct().collect()
    )


def refresh_rollup(
    spark: SparkSession,
    fact_path: str | Path,
    rollup_path: str | Path,
    days: list[str],
    aggregate: Callable[[DataFrame], DataFrame],
    date_col: str = "event_date",
) -> int:
    """Recompute the rollup for ``days`` from the day-partitioned fact
    table at ``fact_path`` and atomically swap each day's partition
    directory under ``rollup_path``. Returns the number of refreshed
    partitions.

    ``aggregate`` maps the day's fact slice to its rollup rows (it must
    not include ``date_col``; the partition directory carries it).
    ``date_col`` is any partition key — the streaming job passes the
    sink's ``es_index`` (= class-YYYY-MM-DD), giving one rollup per
    index partition.
    """
    fact_root = Path(fact_path)
    rollup_root = Path(rollup_path)
    rollup_root.mkdir(parents=True, exist_ok=True)
    # Reclaim orphaned .tmp-*/.old-* dirs from any interrupted swap
    # (the recompute below overwrites recovered days touched by this
    # batch; untouched recovered days keep their last durable rollup).
    recover_and_sweep(rollup_root)
    refreshed = 0
    for day in days:
        part = fact_root / f"{date_col}={day}"
        if not part.exists():
            continue
        out = aggregate(spark.read.parquet(str(part)))
        write_swapped(out, rollup_root, part.name)
        refreshed += 1
    return refreshed
