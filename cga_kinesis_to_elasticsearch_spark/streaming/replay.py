"""Error-bucket replay: reprocess poison records after a fix.

The reference loses poison records — checkpoint-then-abort skips them
permanently on restart (consumer.go:213-232, T2). This engine parks
them in the sink's ``_errors/`` bucket with their raw bytes intact;
once the decode bug is fixed (or the payload format understood),
``replay_errors`` runs the stream's own ``StreamConfig`` over the
bucket — its decoder, its compiled pipeline and its ``before_write``
stages — and indexes whatever now decodes.

Replay writes no marker: the bucket is left as it is, replayed rows
included, so a second replay sends them again. Deterministic doc ids
make that idempotent: a record that was replayed twice, or that both
indexed and errored, converges to one document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import compile_pipeline
from ..sinks.bulk import ParquetIndexSink
from ..sources.records import RAW_RECORD_COLUMNS
from .job import StreamConfig, run_before_write

__all__ = ["replay_errors"]


def replay_errors(
    spark: SparkSession,
    sink: ParquetIndexSink,
    dim: DataFrame,
    cfg: StreamConfig,
) -> dict[str, int]:
    """Re-run the stream's batch over the error bucket. Returns
    ``{"replayed": n_indexed, "still_poison": n_remaining}``.

    ``cfg`` is the stream's config (``EngineConfig.stream_config()`` in
    production): a bucket of protobuf payloads needs the protobuf
    decoder, and the cross-batch dedup stages must see the replayed
    documents as the stream would have. Rows that decode now are
    indexed (same doc-id scheme — idempotent); rows that still fail
    stay in place for the next attempt.
    """
    try:
        errs = sink.read_errors(spark)
    except Exception:
        return {"replayed": 0, "still_poison": 0}
    records = cfg.decoder(errs.select(*RAW_RECORD_COLUMNS)).persist()
    held = [records]
    try:
        good = records.filter(~F.col("decode_error")).drop("decode_error", "data")
        docs = compile_pipeline(cfg.pipeline)(good, dim)
        docs = docs.drop("log_message", "arrival_ts")
        docs = run_before_write(docs, cfg.before_write, held)
        held.append(docs.persist())
        # ONE grouped count: the touched indices, the replayed count and
        # the sink's file fan-out
        idx_counts = docs.groupBy("es_index").count().collect()
        if idx_counts:
            sink.ensure_indices([r["es_index"] for r in idx_counts])
            sink.write(
                docs, max_rows_per_index=max(r["count"] for r in idx_counts)
            )
        still = records.filter(F.col("decode_error")).count()
    finally:
        for df in held:
            df.unpersist()
    replayed = sum(r["count"] for r in idx_counts)
    return {"replayed": replayed, "still_poison": still}
