"""The parity pipeline: decode -> filter -> route -> grok -> enrich ->
computed columns (SURVEY §3.1), as one pure DataFrame -> DataFrame
function.

Physical shape (SURVEY §4): scan -> narrow codegen-fused ops ->
ONE broadcast join -> sink. No shuffle anywhere on the hot path; the
plan survives a 100x scale-up because the only wide dependency is the
broadcast of a small dimension snapshot.

Runs identically in batch (DuckDB-oracle testable) and inside a
Structured Streaming micro-batch: ``compile_pipeline`` builds the plan's
expressions once, and streaming/job.py applies the compiled pipeline to
every micro-batch; ``run_pipeline`` is compile-then-apply.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .grok import Grok, default_grok
from .grok.spark import compile_grok_many
from .operators.computed import computed_columns
from .operators.enrichment import compile_enrich
from .operators.routing import (
    ROUTE_TABLE,
    compile_identifiable,
    compile_route,
    is_log_message,
)

__all__ = ["PipelineConfig", "run_pipeline", "compile_pipeline", "DOC_COLUMNS"]

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
    return compile_pipeline(config, grok)(records, dim)


def compile_pipeline(
    config: PipelineConfig | None = None, grok: Grok | None = None
) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """``run_pipeline`` split in two: compile builds every Column of the
    plan here, once, and the returned ``(records, dim) -> documents``
    only issues the DataFrame ops. A stream compiles once and applies
    the result to every micro-batch (streaming/job.py): each Column
    costs several py4j round trips to build, 1,200-2,000 per pipeline
    (by route set), while an apply issues about 80."""
    cfg = config or PipelineConfig()
    g = grok or default_grok()

    # F1 -> F2: filter to LogMessage, then the route switch.
    log_only = is_log_message()
    route = compile_route(cfg.enable_disabled_routes)

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
    # single-pass parse (one regex eval/row, grok_parse_many) gated per
    # row on the pattern the route switch assigned; 3 projections total
    parse = compile_grok_many(
        g,
        F.col("log_message.message"),
        [
            (f"parsed_{p.lower()}", p, F.col("grok_pattern") == p)
            for p in patterns_in_use
        ],
    )

    # F3: identifiability (main.go:414-430).
    app_guid, identifiable = compile_identifiable(
        "ROUTERACCESS" in patterns_in_use
    )

    # J1-J4: broadcast enrichment join.
    join, enriched = compile_enrich(cfg.allowed_origins, app_guid=app_guid)

    # ONE final projection: the document columns, including the @cf.*
    # enrichment, the computed columns + P1 routing key and T1's
    # deterministic doc id (replays overwrite instead of duplicate);
    # one analyzer pass instead of a withColumns/drop chain
    projected = {
        **enriched,
        **computed_columns(),
        "doc_id": F.md5(F.concat_ws("|", "shard_id", "sequence_number")),
    }
    parsed_cols = [f"parsed_{p.lower()}" for p in patterns_in_use]
    out = [
        projected[c].alias(c) if c in projected else F.col(f"`{c}`")
        for c in [*DOC_COLUMNS, *parsed_cols, "arrival_ts", "log_message"]
    ]

    def apply(records: DataFrame, dim: DataFrame) -> DataFrame:
        df = parse(route(records.filter(log_only))).filter(identifiable)
        return join(df, dim).select(*out)

    return apply
