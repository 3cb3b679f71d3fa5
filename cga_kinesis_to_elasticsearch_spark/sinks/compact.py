"""Small-file compaction for the day-partitioned sink (maintenance
job, the write-side analogue of SURVEY §2.7 P4 retention).

A streaming sink appending every 15 s produces one file per partition
per micro-batch (main.go:189's flush cadence -> ~5 760 files per index
per day). Small files are the classic large-scale parquet failure
mode: scan planning, footer reads and open() calls dominate the read
path. This job rewrites each affected partition directory into
ceil(bytes / target_file_bytes) files.

Scale posture: the *inventory* (listing partition dirs, choosing
targets) is driver-side metadata work over directory names; every
*rewrite* is a distributed read -> coalesce -> write job, one per
partition, so data never funnels through the driver and partitions can
be compacted in any order or in parallel across jobs. Rewrites are
atomic per partition (write to a sibling temp dir, then swap) so
concurrent readers never see a partial partition; like retention, it
runs outside the stream (T7).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession, functions as F

from ._swap import recover_and_sweep, write_swapped

__all__ = ["CompactionStats", "compact_index"]


@dataclass
class CompactionStats:
    partitions_examined: int = 0
    partitions_compacted: int = 0
    files_before: int = 0
    files_after: int = 0
    bytes_rewritten: int = 0


def _data_files(part_dir: Path) -> list[Path]:
    return [
        p
        for p in part_dir.iterdir()
        if p.is_file() and p.suffix == ".parquet" and not p.name.startswith((".", "_"))
    ]


def compact_index(
    spark: SparkSession,
    data_root: str | Path,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    partition_prefix: str = "es_index=",
    cluster_by: tuple = (),
) -> CompactionStats:
    """Compact every ``<data_root>/<partition_prefix>*/`` directory that
    holds more than ``min_files`` data files AND more files than the
    byte-optimal count for ``target_file_bytes``.

    ``cluster_by`` sorts rows within each rewritten file (e.g.
    ``("@cf.app_id", "timestamp")``): parquet min/max column statistics
    then become selective, so later point/range reads skip whole row
    groups — the compaction pass is the one place this clustering is
    free, since the data is being rewritten anyway. Streaming appends
    arrive in arrival order and are NOT clustered; the guarantee is
    per-file after compaction, which is what stat-based skipping needs.
    Entries may be column names or Column expressions — pass
    ``operators.zorder.zorder_key(...)`` to cluster on a Morton key so
    BOTH dimensions skip, where a lexicographic sort serves only its
    leading column.

    Returns per-run stats. Idempotent: a second run over a compacted
    root is a no-op (clustering does not change file counts).
    """
    root = Path(data_root)
    stats = CompactionStats()
    if not root.exists():
        return stats
    # Restore any partition whose previous compaction swap was
    # interrupted (here the swapped-out dir holds the ONLY copy of the
    # fact data) and reclaim orphaned temp dirs.
    recover_and_sweep(root)
    for part_dir in sorted(root.iterdir()):
        if not part_dir.is_dir() or not part_dir.name.startswith(partition_prefix):
            continue
        files = _data_files(part_dir)
        stats.partitions_examined += 1
        stats.files_before += len(files)
        total = sum(f.stat().st_size for f in files)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= max(min_files, n_target):
            stats.files_after += len(files)
            continue
        # distributed rewrite into a sibling temp dir, then the
        # deterministic-name atomic swap (_swap.py protocol)
        df = spark.read.parquet(str(part_dir)).coalesce(n_target)
        if cluster_by:
            df = df.sortWithinPartitions(
                *[
                    F.col(f"`{c}`") if isinstance(c, str) else c
                    for c in cluster_by
                ]
            )
        write_swapped(df, root, part_dir.name)
        stats.partitions_compacted += 1
        stats.files_after += len(_data_files(part_dir))
        stats.bytes_rewritten += total
    return stats
