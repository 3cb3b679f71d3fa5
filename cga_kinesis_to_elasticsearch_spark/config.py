"""Engine configuration mirroring the reference's env-var surface
(main.go:537-569), mapped onto the Spark deployment model.

Required vars in the reference (`mustEnv`) stay required here when the
streaming job is launched from the environment; everything else keeps
the reference's defaults. Knobs that configured hand-rolled machinery
Spark subsumes (CK_PROVIDER/TABLE_NAME/CONNECTION_STRING → the
checkpoint store; ES_BATCH_WORKERS → sink partition count) are retained
as documented aliases so an operator of the reference can carry their
deployment env across unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from .pipeline import PipelineConfig

__all__ = ["EngineConfig"]


def _must(env: dict[str, str], key: str) -> str:
    try:
        return env[key]
    except KeyError:
        raise KeyError(f"required environment variable {key} is not set") from None


@dataclass
class EngineConfig:
    """The full deployment surface.

    | Field | Reference var | Reference use |
    |---|---|---|
    | app_name | APP_NAME (req) | checkpoint namespace (main.go:539) |
    | stream | STREAM_NAME (req) | Kinesis stream (main.go:541) |
    | es_url | ES_URL (req) | sink endpoint (main.go:543) |
    | checkpoint_location | CK_PROVIDER/TABLE_NAME/CONNECTION_STRING | replaced by Structured Streaming offset+commit logs (S2-S4) |
    | es_region/keys | ES_AWS_* | SigV4 signing (main.go:547-549, 256-289) |
    | metrics_listen | METRICS_LISTEN (:8080) | Prometheus endpoint (main.go:551) |
    | days_to_keep | DAYS_TO_KEEP (3) | retention (main.go:553) |
    | batch_workers | ES_BATCH_WORKERS (6) | sink parallelism (main.go:554) → sink partition count |
    | allowed_origins | ALLOWED_ORIGINS (csv) | per-origin CF clients (main.go:556) |
    """

    app_name: str = "cga-kinesis-to-elasticsearch-spark"
    stream: str = ""
    es_url: str = ""
    checkpoint_location: str = ""
    es_region: str = ""
    es_access_key: str = ""
    es_secret_key: str = ""
    metrics_listen: str = ":8080"
    days_to_keep: int = 3
    batch_workers: int = 6
    allowed_origins: list[str] = field(default_factory=list)
    trigger_seconds: int = 15  # FlushInterval, main.go:189
    aws_region: str = ""  # SDK default chain (session.New, main.go:98)

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "EngineConfig":
        e = dict(os.environ if env is None else env)
        return cls(
            app_name=_must(e, "APP_NAME"),
            stream=_must(e, "STREAM_NAME"),
            es_url=_must(e, "ES_URL"),
            checkpoint_location=e.get(
                "CHECKPOINT_LOCATION",
                # reference stored checkpoints in Postgres/DynamoDB via
                # CK_PROVIDER+TABLE_NAME; the Spark equivalent is a path
                f"/tmp/checkpoints/{e['APP_NAME']}",
            ),
            es_region=e.get("ES_AWS_REGION", ""),
            es_access_key=e.get("ES_AWS_ACCESS_KEY_ID", ""),
            es_secret_key=e.get("ES_AWS_SECRET_ACCESS_KEY", ""),
            metrics_listen=e.get("METRICS_LISTEN", ":8080"),
            days_to_keep=int(e.get("DAYS_TO_KEEP", "3")),
            batch_workers=int(e.get("ES_BATCH_WORKERS", "6")),
            allowed_origins=[
                o for o in e.get("ALLOWED_ORIGINS", "").split(",") if o
            ],
            trigger_seconds=int(e.get("FLUSH_INTERVAL_SECONDS", "15")),
            aws_region=e.get("AWS_REGION", ""),
        )

    @property
    def es_use_sigv4(self) -> bool:
        """SigV4 request signing is selected the same way the reference
        selects it (substring test on the endpoint, main.go:259): an
        AWS-managed ES domain signs with the static credentials +
        region; anything else is plain HTTP."""
        return ".es.amazonaws.com" in self.es_url

    @property
    def es_scheme(self) -> str:
        """https for signed AWS endpoints, http otherwise
        (main.go:270,279)."""
        return "https" if self.es_use_sigv4 else "http"

    def es_connector_options(self) -> dict[str, str]:
        """The elasticsearch-hadoop option map this config translates
        to on a real cluster (the file sink used in tests ignores it).
        Mirrors the reference client flags: no sniffing/healthcheck
        (SetSniff/SetHealthcheck false, main.go:268-269), batch sizing
        from the bulk processor defaults (bulk_processor.go:62-63)."""
        opts = {
            "es.nodes": self.es_url,
            "es.nodes.wan.only": "true",  # == SetSniff(false)
            "es.batch.size.entries": "1000",
            "es.batch.size.bytes": "5mb",
            "es.batch.write.retry.count": "5",
            "es.index.auto.create": "true",
        }
        if self.es_use_sigv4:
            opts["es.net.http.auth.user"] = self.es_access_key
            opts["es.net.http.auth.pass"] = self.es_secret_key
            opts["es.nodes.client.only"] = "false"
        return opts

    def kinesis_source_options(self) -> dict[str, str]:
        """The ``spark.readStream.format("kinesis")`` option map for a
        real cluster (S1; the file-based source used in tests stands in
        behind the same RECORD_SCHEMA). Option names follow the public
        spark-sql-kinesis connector. The reference consumer starts at
        LATEST when no checkpoint exists (harlow/kinesis-consumer
        default) and resumes from its checkpoint store otherwise —
        Spark's checkpointLocation supplies the resume half, so
        startingPosition only governs the very first run. Credentials
        come from the SDK default chain, like the reference
        (session.New, main.go:98) — never from options."""
        opts = {
            "streamName": self.stream,
            "startingPosition": "LATEST",
        }
        if self.aws_region:
            opts["region"] = self.aws_region
            opts["endpointUrl"] = (
                f"https://kinesis.{self.aws_region}.amazonaws.com"
            )
        return opts

    def pipeline_config(self) -> PipelineConfig:
        return PipelineConfig(
            allowed_origins=self.allowed_origins or ["env1", "env2"],
        )

    def stream_config(self):
        """The production ``StreamConfig``: protobuf payloads (S7), the
        /metrics endpoint (K5) and the daily retention sweep
        (main.go:170-178). The production stream, its error-bucket
        replay and backfills all run from this one config."""
        from .sources.protowire import decode_protobuf_records
        from .streaming.job import StreamConfig
        from .streaming.production import retention_cadence

        return StreamConfig(
            checkpoint_location=self.checkpoint_location,
            trigger_seconds=self.trigger_seconds,
            metrics_listen=self.metrics_listen,
            pipeline=self.pipeline_config(),
            days_to_keep=self.days_to_keep,
            retention_every_batches=retention_cadence(self.trigger_seconds),
            decoder=decode_protobuf_records,
        )
