"""Backfill / reprocessing job: run the SAME batch pipeline the stream
executes (pipeline.run_pipeline — batch/stream parity by construction)
over a historical record set and atomically replace the sink's
affected index partitions with the recomputed documents.

This is the "we fixed the pipeline, reprocess last month" operation
the reference cannot express (its only path is replaying Kinesis
through the live consumer): because every transformation here is a
pure DataFrame function, reprocessing is just the pipeline applied to
stored raw records, written partition-atomically.

Shape chosen for scale:

1. the stream's ``before_write`` stages (the cross-batch dedup
   filters) run through the stream's own stage runner, then ONE
   distributed job writes the documents partitioned-by-index into a
   staging directory (same no-shuffle fan-out as the live sink write);
2. each staged ``es_index=...`` partition is promoted into the sink
   via the `_swap.py` deterministic-name protocol — readers see the
   old or the new partition, never a mix, and a crash at any rename
   is repaired by the next maintenance run;
3. partitions the backfill did not touch are never read or written.

Retention composes: partitions older than the sink's horizon simply
are not produced by the filtered record set.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import PipelineConfig, run_pipeline
from ..streaming.job import run_before_write
from ._swap import recover_and_sweep, write_partitions_swapped

__all__ = ["BackfillStats", "backfill"]


@dataclass
class BackfillStats:
    docs_written: int = 0
    partitions_replaced: int = 0
    partitions_added: int = 0


def backfill(
    spark: SparkSession,
    records: DataFrame,
    dim: DataFrame,
    data_root: str | Path,
    config: PipelineConfig | None = None,
    before_write: tuple[Callable[[DataFrame], DataFrame], ...] = (),
) -> BackfillStats:
    """Recompute documents for ``records`` and swap the touched index
    partitions into ``data_root`` (the sink's ``data/`` directory).

    ``before_write`` takes the stream's ``StreamConfig.before_write``
    stages and runs them the way the stream does. A deployment that
    streams with the cross-batch exact or near-dup index filters
    (``dedup_against_index`` / ``neardup_against_index``) MUST pass the
    same stages here: first-id semantics make the re-application
    reproduce the stream's survivors, and content first seen by the
    backfill gets registered. Omitting them would resurrect suppressed
    duplicates in the rewritten partitions."""
    root = Path(data_root)
    root.mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root)
    before = {p.name for p in root.iterdir()}
    docs = run_pipeline(records, dim, config).drop("log_message", "arrival_ts")
    held: list[DataFrame] = []
    try:
        docs = run_before_write(docs, before_write, held)
        written = write_partitions_swapped(docs, root, "es_index")
    finally:
        for df in held:
            df.unpersist()
    replaced = len(before.intersection(written))
    stats = BackfillStats(
        partitions_replaced=replaced, partitions_added=len(written) - replaced
    )
    if written:
        stats.docs_written = (
            spark.read.option("basePath", str(root))
            .parquet(*[str(root / p) for p in written])
            .count()
        )
    return stats
