"""Protobuf wire-format codec under the DuckDB oracle.

The query synthesizes Envelope records from the ``events`` table,
serializes them to *actual protobuf bytes* (sources/protowire.py),
decodes them back, and projects scalar columns. The oracle computes
the same columns directly from ``events`` — so a hash match proves the
codec is lossless over every wire kind it uses: varints (incl.
negative two's-complement int64), fixed64 doubles, length-delimited
strings, nested messages, and map<string,string> entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .declared import q, _t

_PROTO_ORACLE = """
SELECT event_id,
       'env' || CAST(event_id % 3 AS VARCHAR) AS origin,
       CAST(CASE event_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 7 ELSE 6 END
            AS BIGINT) AS etype,
       CASE WHEN event_id % 7 = 0 THEN -epoch_ms(ts) ELSE epoch_ms(ts) END
         AS ts_signed,
       CASE WHEN event_id % 3 = 0 THEN props END AS lm_message,
       CASE WHEN event_id % 3 = 0 THEN event_type END AS lm_app_id,
       CASE WHEN event_id % 3 = 1 THEN user_id END AS ce_delta,
       CASE WHEN event_id % 3 = 2 THEN value END AS vm_value,
       event_type AS src
FROM events
"""


def _synth_records(ev: DataFrame) -> DataFrame:
    """Envelope records synthesized from the events table: one of the
    three payload arms per row, signed timestamps, map tags — the
    fixture corpus both codecs decode."""
    arm = F.col("event_id") % 3
    ts_ms = F.unix_millis("ts")
    signed = F.when(F.col("event_id") % 7 == 0, -ts_ms).otherwise(ts_ms)
    recs = ev.select(
        F.format_string(
            "shard-%d", (F.col("event_id") % 4).cast("int")
        ).alias("shard_id"),
        F.col("event_id").cast("string").alias("sequence_number"),
        F.lit(None).cast("string").alias("partition_key"),
        F.col("ts").alias("arrival_ts"),
        F.format_string(
            "env%d", (F.col("event_id") % 3).cast("int")
        ).alias("origin"),
        F.when(arm == 0, 5)
        .when(arm == 1, 7)
        .otherwise(6)
        .cast("int")
        .alias("event_type"),
        signed.alias("timestamp"),
        F.when(
            arm == 0,
            F.struct(
                F.col("props").alias("message"),
                F.lit(1).cast("int").alias("message_type"),
                F.col("user_id").alias("timestamp"),
                F.col("event_type").alias("app_id"),
                F.lit("RTR").alias("source_type"),
                F.lit(None).cast("string").alias("source_instance"),
            ),
        ).alias("log_message"),
        F.when(
            arm == 1,
            F.struct(
                F.col("event_type").alias("name"),
                F.col("user_id").alias("delta"),
                F.col("event_id").alias("total"),
            ),
        ).alias("counter_event"),
        F.when(
            arm == 2,
            F.struct(
                F.col("event_type").alias("name"),
                F.col("value").alias("value"),
                F.lit("ms").alias("unit"),
            ),
        ).alias("value_metric"),
        F.create_map(F.lit("source_id"), F.col("event_type")).alias("tags"),
    )
    return recs


def _project_decoded(dec: DataFrame) -> DataFrame:
    return dec.filter(~F.col("decode_error")).select(
        F.col("sequence_number").cast("bigint").alias("event_id"),
        "origin",
        F.col("event_type").alias("etype"),
        F.col("timestamp").alias("ts_signed"),
        F.col("log_message.message").alias("lm_message"),
        F.col("log_message.app_id").alias("lm_app_id"),
        F.col("counter_event.delta").alias("ce_delta"),
        F.col("value_metric.value").alias("vm_value"),
        F.col("tags")["source_id"].alias("src"),
    )


@q("protobuf_roundtrip", _PROTO_ORACLE)
def _protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.protowire import (
        decode_protobuf_records,
        encode_protobuf_records,
    )

    # the testdata ships one file per table, so without this the two
    # Arrow stages would run on ONE core; production Kinesis batches
    # arrive pre-sharded (cores-wide) and need no repartition
    recs = _synth_records(_t(spark, sf_dir, "events")).repartition(
        spark.sparkContext.defaultParallelism
    )
    dec = decode_protobuf_records(encode_protobuf_records(recs))
    return _project_decoded(dec)


@q("protobuf_jvm_roundtrip", _PROTO_ORACLE)
def _protobuf_jvm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME fixture corpus decoded through the decoder the
    ``select_protobuf_decoder(spark, "jvm")`` call selects
    (sources/protodesc.py; a stream passes its result as
    ``StreamConfig.decoder``): Spark's JVM
    ``from_protobuf`` against the hand-compiled Envelope descriptor
    set when the optional spark-protobuf module is on the classpath —
    making the parity pipeline 100% codegen, zero Python stages — with
    a LOUD fallback to the Arrow wire codec when it isn't (this
    sandbox ships no spark-protobuf jar; the descriptor itself is
    still validated against a real protobuf runtime in
    tests/test_protodesc.py, and the cross-decoder row-identity test
    there runs whenever the module IS loadable).

    Scale shape with the JVM decoder: the protobuf parse happens
    inside the same whole-stage-codegen pipeline as the downstream
    routing/grok/enrichment — no Arrow hop, no Python workers."""
    from ..sources.protodesc import select_protobuf_decoder
    from ..sources.protowire import encode_protobuf_records

    # the testdata ships one file per table, so without this the two
    # Arrow stages would run on ONE core; production Kinesis batches
    # arrive pre-sharded (cores-wide) and need no repartition
    recs = _synth_records(_t(spark, sf_dir, "events")).repartition(
        spark.sparkContext.defaultParallelism
    )
    decoder = select_protobuf_decoder(spark, "jvm")
    dec = decoder(encode_protobuf_records(recs))
    return _project_decoded(dec)
