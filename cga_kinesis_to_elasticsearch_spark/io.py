"""Parquet table resolution: the engine's one resolved-table memo, and
table loading for the driver-generated testdata (TESTDATA.md).

The memo: DataSource resolution (file listing + footer schema
inference) costs ~100 ms of driver time and a Spark job PER
``spark.read.parquet`` call, and every declared query and every search
re-reads its tables. A resolved frame is an immutable logical plan
over a FROZEN file listing, so it is exact for as long as the files
under its path are the ones it listed. :func:`read_parquet` therefore
keeps one entry per ``(applicationId, path)`` holding the listing it
was built from — the sorted ``(relative name, size, mtime_ns)`` of the
path's data files — and reuses the frame only while a fresh listing
is equal; any other call builds the frame again and replaces the
entry. No path has to be declared immutable, and an append, rewrite or
delete under a cached path can never be served a stale listing. Keyed
by applicationId so a new session never sees a plan of an old one.

The driver's parquet files carry INT64 TIMESTAMP(NANOS) columns, which
Spark refuses outright ([PARQUET_TYPE_ILLEGAL]). A build flips the
legacy ``nanosAsLong`` conf and rebuilds proper TimestampType columns
(truncating to micros — the same truncation DuckDB applies when casting
TIMESTAMP_NS to its micros-native TIMESTAMP, so both engines agree).
Nanos columns are detected from the first data file's footer via
pyarrow — a metadata-only read, no data scanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampType

__all__ = ["load_table", "read_parquet", "TABLES"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (applicationId, path) -> (listing, frame, whether it has nanos columns)
_TABLES: dict[tuple[str, str], tuple[tuple, DataFrame, bool]] = {}


def _list_data_files(path: str) -> tuple:
    """Sorted ``(relative name, size, mtime_ns)`` of the data files
    Spark reads under ``path``: a single file lists itself; a
    directory is walked, skipping names that start with ``_`` or ``.``
    as Spark does (``_SUCCESS``, ``.crc``, staging dirs)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []

    def walk(d: str, prefix: str) -> None:
        for e in os.scandir(d):
            if e.name.startswith(("_", ".")):
                continue
            if e.is_dir():
                walk(e.path, f"{prefix}{e.name}/")
            else:
                st = e.stat()
                out.append((prefix + e.name, st.st_size, st.st_mtime_ns))

    if os.path.isdir(path):
        walk(path, "")
    return tuple(sorted(out))


def _nanos_columns(path: str) -> tuple[str, ...]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    return tuple(
        f.name
        for f in pq.read_schema(path)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _build(
    spark: SparkSession, path: str, files: tuple
) -> tuple[DataFrame, bool]:
    """Resolve ``path`` with timestamp normalization.

    All timestamp columns surface as TimestampType (UTC instants):
    nanos columns are repaired via the legacy long path; naive micros
    columns are kept out of TIMESTAMP_NTZ (the oracle treats them as
    UTC, and epoch functions reject NTZ) by disabling NTZ inference —
    with a cast fallback should the conf ever become static.
    """
    nanos = ()
    if files:
        # a directory's parts share one schema: probe the first
        first = path if os.path.isfile(path) else os.path.join(path, files[0][0])
        nanos = _nanos_columns(first)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = spark.read.parquet(path)
    for c in nanos:
        # integer `div`, NOT `/`: float division of int64 nanos loses
        # precision above 2^53 and rounds some values up a microsecond
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            # Concrete TimestampType(), NOT the "timestamp" string alias:
            # under spark.sql.timestampType=TIMESTAMP_NTZ the alias maps
            # back to NTZ and the cast becomes a no-op.
            df = df.withColumn(
                field.name, F.col(field.name).cast(TimestampType())
            )
    return df, bool(nanos)


def read_parquet(spark: SparkSession, path: str) -> tuple[tuple, DataFrame]:
    """``(listing, frame)`` for the parquet file or directory ``path``,
    through the resolved-table memo (module docstring): the frame is
    the one built before while the listing is unchanged, else a new
    one."""
    key = (spark.sparkContext.applicationId, path)
    files = _list_data_files(path)
    entry = _TABLES.get(key)
    if entry is None or entry[0] != files:
        entry = (files, *_build(spark, path, files))
        _TABLES[key] = entry
    elif entry[2]:
        # consulted at execution too — set it on every hit
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return entry[0], entry[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` (a file or a directory of part
    files) through :func:`read_parquet`."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")[1]
