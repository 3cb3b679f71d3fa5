"""Index-retention predicate + maintenance job (SURVEY §2.2 F4, §2.7 P4).

Reference deleteOldIndices (main.go:216-254): list all indices; an
index whose name's trailing 10 chars match ``^\\d{4}-\\d{2}-\\d{2}$``
(main.go:214) and compare lexicographically `>=` the cutoff date string
is kept; ``.kibana`` is always kept (main.go:227); every other name —
including names with NO date suffix — is dropped (the final fallthrough
at main.go:241). String >= compare is date-safe for zero-padded
ISO dates (main.go:235). Default retention 3 days (main.go:553), prod
30 (ci/build.sh:33-34); runs at startup then every 24 h (main.go:165-179).

Spark shape: the predicate is a Column usable both for pruning a sink
catalog DataFrame and for a maintenance batch job that drops partition
directories older than the cutoff.
"""

from __future__ import annotations

import datetime as dt
import re
import shutil
from pathlib import Path

from pyspark.sql import Column, functions as F

__all__ = [
    "DATE_SUFFIX_RE",
    "retention_keep",
    "index_kept",
    "cutoff_date_str",
    "drop_old_partitions",
]

DATE_SUFFIX_RE = r"^\d{4}-\d{2}-\d{2}$"  # main.go:214
# ASCII: Go's and Java's \d match 0-9 only, Python's any Unicode digit
_DATE_SUFFIX = re.compile(DATE_SUFFIX_RE, re.ASCII)


def cutoff_date_str(days_to_keep: int, today: dt.date | None = None) -> str:
    """now - DaysToKeep, formatted YYYY-MM-DD (main.go:222-225)."""
    base = today or dt.date.today()
    return (base - dt.timedelta(days=days_to_keep)).isoformat()


def retention_keep(index_name: Column, cutoff: str) -> Column:
    """True iff the index survives retention."""
    suffix = F.substring(index_name, -10, 10)
    has_date = (F.length(index_name) >= 10) & suffix.rlike(DATE_SUFFIX_RE)
    return (
        (index_name == ".kibana")  # main.go:227
        # kept only with a valid, recent date suffix; everything else
        # (old dates AND names without a date suffix) is dropped
        | (has_date & (suffix >= F.lit(cutoff)))  # main.go:232-239
    )


def index_kept(name: str, cutoff: str) -> bool:
    """Python form of :func:`retention_keep`, for index listings."""
    suffix = name[-10:]
    return name == ".kibana" or (
        len(name) >= 10
        and _DATE_SUFFIX.match(suffix) is not None
        and suffix >= cutoff
    )


def drop_old_partitions(
    sink_root: str | Path, days_to_keep: int, today: dt.date | None = None
) -> list[str]:
    """Maintenance job for the file-based sink layout
    ``<root>/<class>-<YYYY-MM-DD>/``: drop 'indices' older than the
    cutoff. Returns the dropped directory names. The ES-backed sink
    equivalent issues DeleteIndex calls instead (client.go:1543)."""
    root = Path(sink_root)
    cutoff = cutoff_date_str(days_to_keep, today)
    dropped: list[str] = []
    if not root.exists():
        return dropped
    for child in sorted(root.iterdir()):
        if child.is_dir() and not index_kept(child.name, cutoff):
            shutil.rmtree(child)
            dropped.append(child.name)
    return dropped
