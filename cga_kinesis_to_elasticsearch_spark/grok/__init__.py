"""Grok subsystem: pattern library, plan-time compiler, Spark emission.

The reference's only user-extensibility surface (SURVEY §2.10): a
pattern is a UDTF-like row expander — one string column in, N typed
columns out — compiled here to built-in ``regexp_extract`` expressions.
"""

from .compiler import Capture, CompiledPattern, Grok, GrokError, default_grok
from .patterns import APP_PATTERNS, DEFAULT_PATTERNS
from .spark import (
    duckdb_exprs,
    grok_columns,
    grok_match,
    grok_schema,
    grok_struct,
)

__all__ = [
    "APP_PATTERNS",
    "DEFAULT_PATTERNS",
    "Capture",
    "CompiledPattern",
    "Grok",
    "GrokError",
    "default_grok",
    "duckdb_exprs",
    "grok_columns",
    "grok_match",
    "grok_schema",
    "grok_struct",
]
