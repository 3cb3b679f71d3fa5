"""Computed document columns (SURVEY §2.3 scalar functions, §2.7 P1).

Reference: main.go:355 (dateStamp from arrival time), :400/:407 (index
name = class + "-" + date), :433-440 (timestamp epoch-millis — millis
deliberately, to stay under JSON's 2^53; file_path; @cf.env).

Time semantics are **arrival time only** (T4): the envelope's
event-time fields exist but are unused; records near midnight land in
the index of their arrival day by design.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = ["computed_columns"]


def computed_columns() -> dict[str, Column]:
    """event_date, es_index, timestamp (epoch millis of arrival),
    file_path and @cf.env by name, for ONE ``withColumns`` (vs a 5-deep
    withColumn chain: one analyzer pass instead of five). Requires
    arrival_ts, index_class, origin, log_message. es_index's event_date
    dependency is inlined because withColumns resolves every
    expression against the input."""
    event_date = F.date_format("arrival_ts", "yyyy-MM-dd")
    return {
        "event_date": event_date,
        "es_index": F.concat_ws("-", F.col("index_class"), event_date),
        # UnixNano()/1e6 == unix_millis (main.go:438)
        "timestamp": F.unix_millis("arrival_ts"),
        "file_path": F.col("log_message.source_instance"),
        "@cf.env": F.col("origin"),
    }
