#!/usr/bin/env python3
"""Submitable streaming job: the reference deployment's entry point,
Spark-shaped.

A deployment that ran `govau/cga-kinesis-to-elasticsearch` points the
SAME environment variables (APP_NAME, STREAM_NAME, ES_URL, ES_AWS_*,
DAYS_TO_KEEP, ALLOWED_ORIGINS, FLUSH_INTERVAL_SECONDS, AWS_REGION —
config.EngineConfig.from_env) at:

    spark-submit \
      --packages <kinesis-connector>,<elasticsearch-spark> \
      scripts/stream_job.py

and gets the same pipeline on Structured Streaming: the job is one
call to the one-switch assembly, ``run_production_stream`` (Kinesis
source, protobuf decode, pipeline, es-hadoop sink, retention sweeps and
/metrics, all from ``EngineConfig.stream_config()``). ``DIM_PATH``
names the parquet snapshot of the flattened CF dimensions; unset, the
documents carry no enrichment. Without the connectors the job refuses
with a clear message — or runs `--smoke`, which drives the identical
pipeline from synthesized envelopes through the parquet sink, proving
the wiring end-to-end with zero AWS dependencies:

    python scripts/stream_job.py --smoke /tmp/smoke_out
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    from cga_kinesis_to_elasticsearch_spark.config import EngineConfig
    from cga_kinesis_to_elasticsearch_spark.session import get_spark
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
    from cga_kinesis_to_elasticsearch_spark.streaming.job import (
        StreamConfig,
        drain,
        run_stream,
    )
    from cga_kinesis_to_elasticsearch_spark.streaming.production import (
        run_production_stream,
    )

    smoke = "--smoke" in sys.argv
    if smoke:
        out = Path(sys.argv[sys.argv.index("--smoke") + 1])
        spark = get_spark("stream-job-smoke")
        spark.sparkContext.setLogLevel("ERROR")

        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
            flatten_dimensions,
        )
        from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
            ALLOWED_ORIGINS,
            synthesize_cf_dimensions,
            synthesize_envelopes,
        )
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            read_raw_record_stream,
            write_raw_records,
        )

        src = out / "raw"
        records = synthesize_envelopes(spark, "/root/testdata/sf0.001")
        write_raw_records(records, str(src))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        sink = ParquetIndexSink(out / "sink")
        cfg = StreamConfig(
            checkpoint_location=str(out / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
        )
        query, metrics = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        n = spark.read.parquet(str(out / "sink" / "data")).count()
        print(f"smoke OK: {n} documents landed, sent={metrics.sent_count}")
        return 0

    try:
        cfg = EngineConfig.from_env()
    except KeyError as exc:
        print(f"config error: {exc.args[0]}", file=sys.stderr)
        return 2
    spark = get_spark(cfg.app_name)
    try:
        handle = run_production_stream(
            spark, cfg, dim_path=os.environ.get("DIM_PATH", "")
        )
    except Exception as exc:
        print(
            "production stream failed to start — if the Kinesis connector "
            "is unavailable, submit with --packages <spark-sql-kinesis> "
            "(see README 'Running against real infrastructure').\n"
            f"{exc}",
            file=sys.stderr,
        )
        return 2
    handle.query.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
