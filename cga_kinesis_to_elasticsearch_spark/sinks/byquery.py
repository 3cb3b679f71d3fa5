"""ES ``_delete_by_query`` / ``_update_by_query`` over the
day-partitioned parquet sink: the request BODY's query compiles
through operators/querydsl.compile_query and drives a
touched-partition-only rewrite under the `_swap.py` crash-safe
protocol — the lake twins of the REST APIs the reference's users run
against the shipped indices (main.go sink wiring).

``delete_by_query`` delegates to sinks/forget.forget (same predicate,
same swap protocol, same idempotence).

``update_by_query`` applies an ES ingest-processor chain
(operators/ingest.compile_pipeline) to MATCHING rows only, as ONE
conditional projection per touched partition::

    SELECT CASE WHEN <query> THEN <updated expr> ELSE col END ...

so unmatched rows pass through byte-identical, the partition is
rewritten once, and readers never see a partial state. Columnar
honesty: the processor chain must preserve the table schema (update
existing fields; no adds/drops/renames — ES mutates free-form JSON,
a parquet lake cannot), and ``grok`` processors are rejected (their
staged projection cannot be made row-conditional); both fail at PLAN
time.

Scale shape: identical to forget, through the same
``forget.rewrite_matching_partitions`` — ONE match-scan job grouped by
the partition column finds touched partitions (payload columns
unread), then ONE partition-pruned rewrite job covers every touched
partition (no shuffle; parallelism tracks input splits), promoted per
partition through the swap. Untouched partitions are never read twice.
Idempotence differs by design: delete is naturally idempotent;
update re-applies (ES's update_by_query also re-executes on retry —
use version-style guards in the processor chain when that matters).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ingest import compile_pipeline
from ..operators.querydsl import compile_query
from .forget import ForgetStats, forget, rewrite_matching_partitions

__all__ = ["delete_by_query", "update_by_query", "UpdateStats"]


def delete_by_query(
    spark: SparkSession,
    data_root: str | Path,
    body: dict,
    partition_prefix: str = "es_index=",
    id_col: str = "doc_id",
) -> ForgetStats:
    """ES ``_delete_by_query``: remove every document matching the
    request body's ``query`` (full query-DSL support, plan-time
    validation) by rewriting only the partitions that contain
    matches."""
    if not isinstance(body, dict) or "query" not in body:
        raise ValueError(f"_delete_by_query needs a query: {body}")
    pred = compile_query(body["query"], id_col=id_col)
    return forget(
        spark, data_root, pred, partition_prefix=partition_prefix
    )


@dataclass
class UpdateStats:
    partitions_scanned: int = 0
    partitions_rewritten: int = 0
    rows_updated: int = 0
    rows_untouched: int = 0


def update_by_query(
    spark: SparkSession,
    data_root: str | Path,
    body: dict,
    processors: list[dict],
    partition_prefix: str = "es_index=",
    id_col: str = "doc_id",
) -> UpdateStats:
    """ES ``_update_by_query`` with an ingest-processor script: rows
    matching the body's ``query`` pass through the compiled processor
    chain, everything else is byte-identical; only touched partitions
    rewrite (crash-safe swap). The chain must preserve the schema and
    may not contain ``grok`` (plan-time errors)."""
    if not isinstance(body, dict) or "query" not in body:
        raise ValueError(f"_update_by_query needs a query: {body}")
    if any(len(p) == 1 and next(iter(p)) == "grok" for p in processors):
        raise ValueError(
            "_update_by_query: grok processors are not row-conditional"
        )
    pred = F.coalesce(
        compile_query(body["query"], id_col=id_col), F.lit(False)
    )
    part_col = partition_prefix.rstrip("=")

    def rewrite(df: DataFrame) -> DataFrame:
        data_cols = [c for c in df.columns if c != part_col]
        cols = compile_pipeline(data_cols, processors)
        if list(cols) != data_cols:
            raise ValueError(
                "_update_by_query must preserve the table schema: "
                f"{data_cols} -> {list(cols)}"
            )
        return df.select(
            *[
                F.when(pred, expr)
                .otherwise(F.col(f"`{name}`"))
                .alias(name)
                for name, expr in cols.items()
            ],
            F.col(f"`{part_col}`"),
        )

    # an update rewrites rows and never drops them, so a touched
    # partition always stages a dir (empty_ok=False)
    return UpdateStats(
        *rewrite_matching_partitions(
            spark, data_root, pred, partition_prefix, rewrite, empty_ok=False
        )
    )
