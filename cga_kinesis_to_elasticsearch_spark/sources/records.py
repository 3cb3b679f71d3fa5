"""Raw Kinesis-record encode/decode (SURVEY §2.1 S7, §2.9 T2).

The reference consumes opaque ``Data []byte`` per Kinesis record and
protobuf-decodes it into an ``events.Envelope`` (main.go:357-360); a
malformed record is counted, logged and skipped-on-restart
(consumer.go:213-232). This module reproduces the same contract in
the test fixtures' format: the envelope serialized as a JSON document
in the ``data`` bytes. Production decodes the reference's protobuf
instead — ``sources/protowire.py`` encodes and decodes that wire
format, and ``EngineConfig.stream_config()`` sets its
``decode_protobuf_records`` as the stream's decoder; the rest of the
plan is identical.

Decode is declarative (``from_json`` under codegen, no Python row
code); corrupt payloads become an error bucket instead of crashing the
stream — same observable outcome as the reference's
checkpoint-then-abort skip (record dropped, error counted), without the
process restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..schemas import ENVELOPE_SCHEMA, RECORD_SCHEMA

__all__ = [
    "RAW_RECORD_COLUMNS",
    "encode_records",
    "decode_records",
    "write_raw_records",
    "read_raw_record_stream",
]

# The Kinesis record surface (consumer.go:17): opaque payload + shard
# coordinates + arrival time.
RAW_RECORD_COLUMNS = [
    "shard_id",
    "sequence_number",
    "partition_key",
    "arrival_ts",
    "data",
]

_ENVELOPE_FIELDS = [f.name for f in ENVELOPE_SCHEMA.fields]

# Required proto2 fields (envelope.pb.go:99-118): a decode that cannot
# produce them is a corrupt record.
_REQUIRED = ("origin", "event_type")

RAW_RECORD_SCHEMA = StructType(
    [f for f in RECORD_SCHEMA.fields if f.name in RAW_RECORD_COLUMNS]
)


def encode_records(records: DataFrame) -> DataFrame:
    """Decoded RECORD_SCHEMA rows -> raw records with JSON ``data``.

    Inverse of :func:`decode_records`; used to build streaming fixtures
    and to round-trip-test the decode path. Payload structs the input
    doesn't carry (the tagged union is sparse) serialize as typed nulls.
    """
    present = set(records.columns)
    envelope = F.struct(
        *[
            F.col(f.name)
            if f.name in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in ENVELOPE_SCHEMA.fields
        ]
    )
    return records.select(
        "shard_id",
        "sequence_number",
        "partition_key",
        "arrival_ts",
        F.to_json(envelope).cast("binary").alias("data"),
    )


def decode_records(raw: DataFrame) -> DataFrame:
    """Raw records -> RECORD_SCHEMA rows + boolean ``decode_error``.

    Corrupt payloads (unparseable, or missing required Envelope fields)
    keep their record coordinates and raw bytes with
    ``decode_error = true``; callers split them into the error bucket
    (T2). One ``from_json`` evaluation, fully inside codegen.
    """
    decoded = F.from_json(F.col("data").cast("string"), ENVELOPE_SCHEMA)
    df = raw.withColumn("_envelope", decoded)
    corrupt = F.lit(False)
    for name in _REQUIRED:
        corrupt = corrupt | F.col(f"_envelope.{name}").isNull()
    return df.select(
        *RAW_RECORD_COLUMNS,
        *[F.col(f"_envelope.{c}").alias(c) for c in _ENVELOPE_FIELDS],
        corrupt.alias("decode_error"),
    )


def write_raw_records(records: DataFrame, path: str) -> None:
    """Materialize a raw-record fixture directory, one file per shard
    (per-shard files preserve the reference's per-shard ordering unit,
    T3: a stream read processes each file's rows in order)."""
    encode_records(records).repartition("shard_id").write.mode(
        "append"
    ).parquet(path)


def read_raw_record_stream(spark, path: str) -> DataFrame:
    """File-based stand-in for the Kinesis source: each parquet file in
    ``path`` plays a GetRecords page (consumer.go:171-207). Production
    swaps this for ``spark.readStream.format("kinesis")`` with
    ``startingPosition`` = checkpointed sequence number (S2) — the
    downstream plan is unchanged."""
    return (
        spark.readStream.schema(RAW_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
