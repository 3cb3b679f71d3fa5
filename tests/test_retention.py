"""Retention predicate edge cases (main.go:214, 227, 232-239) +
property check: lexicographic compare ≡ real date compare."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.retention import (
    cutoff_date_str,
    drop_old_partitions,
    index_kept,
    retention_keep,
)

CUTOFF = "2024-02-01"

CASES = [
    ("gorouter-2024-02-01", True),  # boundary: >= kept
    ("gorouter-2024-01-31", False),  # older: dropped
    ("gorouter-2024-02-02", True),
    (".kibana", True),  # always kept (main.go:227)
    ("noformat", False),  # no date suffix -> dropped (fallthrough)
    ("short", False),
    ("2024-02-05", True),  # bare date, len==10
    ("2024-01-05", False),
    ("x-0000-01-01", False),
    ("gorouter-2024-13-45", True),  # regex-valid garbage date, >= cutoff lexic.
    ("gorouter-2023-13-45", False),
    # full-width digits: Go's (and Java's) \d is ASCII-only
    ("gorouter-\uff12\uff10\uff12\uff14-02-05", False),
]


class TestPredicate:
    def test_truth_table(self, spark):
        df = spark.createDataFrame([(n,) for n, _ in CASES], ["name"])
        got = {
            r.name: r.keep
            for r in df.select(
                "name", retention_keep(F.col("name"), CUTOFF).alias("keep")
            ).collect()
        }
        for name, expected in CASES:
            assert got[name] is expected, name
            # the Python form (index listings) follows the same table
            assert index_kept(name, CUTOFF) is expected, name

    @given(
        st.dates(dt.date(1990, 1, 1), dt.date(2100, 1, 1)),
        st.dates(dt.date(1990, 1, 1), dt.date(2100, 1, 1)),
    )
    @settings(max_examples=200, deadline=None)
    def test_lexicographic_equals_date_compare(self, d, cutoff):
        # zero-padded ISO strings compare like dates (main.go:235)
        assert (d.isoformat() >= cutoff.isoformat()) == (d >= cutoff)


class TestMaintenanceJob:
    def test_drop_old_partitions(self, tmp_path):
        for name in ["gorouter-2024-02-01", "gorouter-2024-01-01", ".kibana", "junk"]:
            (tmp_path / name).mkdir()
        dropped = drop_old_partitions(tmp_path, days_to_keep=3, today=dt.date(2024, 2, 4))
        assert dropped == ["gorouter-2024-01-01", "junk"]
        assert (tmp_path / "gorouter-2024-02-01").exists()
        assert (tmp_path / ".kibana").exists()

    def test_cutoff(self):
        assert cutoff_date_str(3, dt.date(2024, 2, 4)) == "2024-02-01"
