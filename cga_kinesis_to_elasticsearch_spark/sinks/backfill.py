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

1. ONE distributed job writes the recomputed documents
   partitioned-by-index into a staging directory (same no-shuffle
   fan-out as the live sink write);
2. each staged ``es_index=...`` partition is promoted into the sink
   via the `_swap.py` deterministic-name protocol — readers see the
   old or the new partition, never a mix, and a crash at any rename
   is repaired by the next maintenance run;
3. partitions the backfill did not touch are never read or written.

Retention composes: partitions older than the sink's horizon simply
are not produced by the filtered record set.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import PipelineConfig, run_pipeline
from ._swap import recover_and_sweep, swap_in

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
    dedup_index_path: str | Path = "",
    dedup_text_col: str = "",
) -> BackfillStats:
    """Recompute documents for ``records`` and swap the touched index
    partitions into ``data_root`` (the sink's ``data/`` directory).

    Deployments streaming with the cross-batch dedup index (a
    ``dedup_against_index`` before_write stage) MUST pass its index
    path and text column here: the backfill re-applies the index so recomputed partitions keep the stream's
    dedup decisions (first-id semantics make the re-application
    reproduce the original survivors) and content first seen by the
    backfill gets registered. Omitting it on such a deployment would
    resurrect suppressed duplicates in the rewritten partitions."""
    root = Path(data_root)
    root.mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root)
    stats = BackfillStats()
    docs = run_pipeline(records, dim, config).drop("log_message", "arrival_ts")
    cached = None
    if dedup_index_path and dedup_text_col:
        from .dedupindex import dedup_against_index

        cached = docs.persist()  # index update + staging write reuse it
        docs = dedup_against_index(
            spark, cached, dedup_index_path, dedup_text_col, "doc_id"
        )
    staging = root / ".tmp-__backfill__"
    if staging.exists():
        shutil.rmtree(staging)
    docs.write.partitionBy("es_index").parquet(str(staging))
    if cached is not None:
        cached.unpersist()
    stats.docs_written = spark.read.parquet(str(staging)).count()
    for part in sorted(staging.iterdir()):
        if not part.is_dir() or not part.name.startswith("es_index="):
            continue
        existed = (root / part.name).exists()
        tmp = root / f".tmp-{part.name}"
        if tmp.exists():
            shutil.rmtree(tmp)
        part.rename(tmp)
        swap_in(root, part.name)
        if existed:
            stats.partitions_replaced += 1
        else:
            stats.partitions_added += 1
    shutil.rmtree(staging, ignore_errors=True)
    return stats
