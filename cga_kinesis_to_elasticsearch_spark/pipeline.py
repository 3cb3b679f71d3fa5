"""The parity pipeline: decode -> filter -> route -> grok -> enrich ->
computed columns (SURVEY §3.1), as one pure DataFrame -> DataFrame
function.

Physical shape (SURVEY §4): scan -> narrow codegen-fused ops ->
ONE broadcast join -> sink. No shuffle anywhere on the hot path; the
plan survives a 100x scale-up because the only wide dependency is the
broadcast of a small dimension snapshot.

Runs identically in batch (DuckDB-oracle testable) and inside a
Structured Streaming micro-batch (streaming/job.py wraps it).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .grok import Grok, default_grok
from .grok.spark import grok_parse_many
from .operators.computed import with_computed_columns
from .operators.enrichment import enrich
from .operators.routing import ROUTE_TABLE, filter_log_messages, route

__all__ = ["PipelineConfig", "run_pipeline", "DOC_COLUMNS"]

# Stable output column order for the document (SURVEY §1.1 'Document').
DOC_COLUMNS = [
    "es_index",
    "index_class",
    "event_date",
    "timestamp",
    "file_path",
    "@cf.env",
    "@cf.app",
    "@cf.app_id",
    "@cf.space",
    "@cf.space_id",
    "@cf.org",
    "@cf.org_id",
    "doc_id",
]


@dataclass
class PipelineConfig:
    """Mirrors the env-var surface of main.go:537-569 where relevant."""

    allowed_origins: list[str] = field(default_factory=lambda: ["env1", "env2"])
    enable_disabled_routes: bool = False


def run_pipeline(
    records: DataFrame,
    dim: DataFrame,
    config: PipelineConfig | None = None,
    grok: Grok | None = None,
) -> DataFrame:
    """records (RECORD_SCHEMA, decoded) + flattened dim -> documents.

    Output: one row per indexed document with parsed struct columns
    (``parsed_<pattern>``), the six @cf.* enrichment columns, computed
    columns and the day-partitioned ``es_index`` routing key, plus a
    deterministic ``doc_id`` (md5 of shard+sequence — the
    effectively-once upgrade over the reference's auto-generated ids,
    T1; md5 because every engine in the verification chain has it,
    and 128 bits is already far past collision concern for ids).
    """
    cfg = config or PipelineConfig()
    g = grok or default_grok()

    # F1 -> F2: filter to LogMessage, then the route switch.
    df = route(filter_log_messages(records), cfg.enable_disabled_routes)

    # G4/G5: one struct column per pattern in use; rows routed to a
    # different pattern carry NULL. The pattern set is static at plan
    # time, so the schema is static.
    patterns_in_use = sorted(
        {
            r.pattern
            for _, r in ROUTE_TABLE
            if r.enabled or cfg.enable_disabled_routes
        }
    )
    line = F.col("log_message.message")
    # single-pass parse (one regex eval/row, grok_parse_many) gated per
    # row on the pattern the route switch assigned; 3 projections total
    df = grok_parse_many(
        g,
        df,
        line,
        [
            (f"parsed_{p.lower()}", p, F.col("grok_pattern") == p)
            for p in patterns_in_use
        ],
    )

    # F3: identifiability — app_id from the envelope, else the
    # ROUTERACCESS rtr_app_id capture when that route is live
    # (main.go:414-430).
    rtr = (
        F.col("parsed_routeraccess.rtr_app_id")
        if "ROUTERACCESS" in patterns_in_use
        else F.lit("")
    )
    app_guid = F.when(
        F.coalesce(F.col("log_message.app_id"), F.lit("")) != "",
        F.col("log_message.app_id"),
    ).otherwise(F.coalesce(rtr, F.lit("")))
    # The filter deliberately tests struct NULLness, not the rtr_app_id
    # field: ROUTERACCESS captures app_id as \S+ (main.go:562), so the
    # capture is non-empty exactly when the pattern matched, and
    # `parsed IS NOT NULL` is equivalent to `rtr_app_id != ''`. The
    # difference is the physical plan: a pushed-down predicate on the
    # struct FIELD re-inlines the whole parse chain (regex re-evaluated
    # ~4x per row inside the Filter); the NULL test inlines only the
    # sentinel startswith — measured 1.6x on the full pipeline.
    rtr_present = (
        F.col("parsed_routeraccess").isNotNull()
        if "ROUTERACCESS" in patterns_in_use
        else F.lit(False)
    )
    df = df.filter(
        (F.coalesce(F.col("log_message.app_id"), F.lit("")) != "") | rtr_present
    )

    # J1-J4: broadcast enrichment join.
    df = enrich(df, dim, cfg.allowed_origins, app_guid=app_guid)

    # Computed columns + P1 routing key.
    df = with_computed_columns(df)

    # T1: deterministic doc id -> replays overwrite instead of duplicate.
    df = df.withColumn(
        "doc_id", F.md5(F.concat_ws("|", "shard_id", "sequence_number"))
    )
    parsed_cols = [f"parsed_{p.lower()}" for p in patterns_in_use]
    quoted = [f"`{c}`" if "." in c else c for c in DOC_COLUMNS]
    return df.select(*quoted, *parsed_cols, "arrival_ts", "log_message")
