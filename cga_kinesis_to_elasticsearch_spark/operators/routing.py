"""Event-type filter, source-route switch, identifiability filter
(SURVEY §2.2 F1/F2/F3).

Reference: processRecord's switch ladder, /root/reference/main.go:362-430.
Four routes are present-but-disabled in the reference (their grok+index
code is commented out, main.go:367-394); ``enable_disabled_routes=True``
resurrects them with their original patterns, which is how the richest
pattern (ROUTERACCESS) gets exercised end-to-end.

All functions are pure DataFrame -> DataFrame and run unchanged under
Structured Streaming (narrow ops only — no shuffle at any scale).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..schemas import EVENT_TYPE_LOG_MESSAGE

__all__ = [
    "Route",
    "ROUTE_TABLE",
    "is_log_message",
    "filter_log_messages",
    "compile_route",
    "filter_identifiable",
]


@dataclass(frozen=True)
class Route:
    """One arm of the route switch (main.go:366-412)."""

    index_class: str  # ES index class, P1 day-partitioned
    pattern: str  # grok pattern applied to the log line
    enabled: bool  # False = commented-out in the reference


# Order matters: first match wins, like the Go switch.
ROUTE_TABLE: tuple[tuple[str, Route], ...] = (
    # (condition key, route) — conditions built in _conditions() below
    ("var_log_prefix", Route("linux_logs", "GENERIC", False)),  # main.go:367
    ("gorouter_access_log", Route("gorouter_access", "ROUTERACCESS", False)),  # :374
    ("director_log", Route("bosh_director", "GENERIC", False)),  # :381
    ("var_vcap_sys_log_prefix", Route("var_vcap_sys_log", "GENERIC", False)),  # :388
    ("gorouter_tag", Route("gorouter", "GENERIC", True)),  # :395
    ("app_proc_web", Route("gorouter", "GENERIC", True)),  # :401
)

DROP = "__drop__"


def is_log_message() -> Column:
    """F1's predicate: the envelope is a LogMessage (main.go:362-364)."""
    return F.col("event_type") == EVENT_TYPE_LOG_MESSAGE


def filter_log_messages(df: DataFrame) -> DataFrame:
    """F1: keep only LogMessage envelopes; everything else silently
    dropped (main.go:362-364)."""
    return df.filter(is_log_message())


def _conditions() -> dict[str, Column]:
    src = F.coalesce(F.col("log_message.source_instance"), F.lit(""))
    return {
        "var_log_prefix": src.startswith("/var/log/"),
        "gorouter_access_log": src.contains("/var/vcap/sys/log/gorouter/access.log"),
        "director_log": src.contains("/var/vcap/sys/log/director/"),
        "var_vcap_sys_log_prefix": src.startswith("/var/vcap/sys/log/"),
        "gorouter_tag": F.coalesce(F.col("tags")["source_id"], F.lit("")) == "gorouter",
        "app_proc_web": F.coalesce(F.col("log_message.source_type"), F.lit(""))
        == "APP/PROC/WEB",
    }


def compile_route(
    enable_disabled_routes: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """F2 as a ``df -> df`` whose Columns are built here, once: the
    returned function adds ``index_class`` + ``grok_pattern`` via the
    switch ladder (one withColumns), then drops non-routed rows (one
    filter). A disabled route drops the row (returns nil in the
    reference) unless resurrected."""
    conds = _conditions()
    class_col: Column = F.lit(DROP)
    pattern_col: Column = F.lit(None).cast("string")
    # Build when/otherwise bottom-up so the FIRST condition wins.
    for key, r in reversed(ROUTE_TABLE):
        keep = r.enabled or enable_disabled_routes
        class_col = F.when(conds[key], F.lit(r.index_class if keep else DROP)).otherwise(
            class_col
        )
        pattern_col = F.when(
            conds[key], F.lit(r.pattern if keep else None)
        ).otherwise(pattern_col)
    # one withColumns call: each withColumn costs a full analyzer pass
    # plus py4j round trips, and the route expressions are independent
    cols = {"index_class": class_col, "grok_pattern": pattern_col}
    routed = F.col("index_class") != DROP
    return lambda df: df.withColumns(cols).filter(routed)


def filter_identifiable(df: DataFrame, rtr_app_id: Column | None = None) -> DataFrame:
    """F3: keep a record only if ``log_message.app_id`` or the grok
    capture ``rtr_app_id`` is non-empty (main.go:414-430). Pass the
    parsed capture column when the ROUTERACCESS route is live."""
    app_id = F.coalesce(F.col("log_message.app_id"), F.lit(""))
    rtr = F.coalesce(rtr_app_id, F.lit("")) if rtr_app_id is not None else F.lit("")
    return df.filter((app_id != "") | (rtr != ""))
