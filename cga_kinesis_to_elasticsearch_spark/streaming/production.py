"""One-switch production assembly (SURVEY §2.1 S1, §2.8 K1).

``run_production_stream(spark, EngineConfig)`` composes the full
production wiring the way the reference's ``RunForever`` does
(main.go:111-212): Kinesis source → protobuf decode → pipeline →
elasticsearch-hadoop sink, plus the startup retention sweep
(main.go:164-167), the daily retention loop (main.go:170-178 → every
``retention_every_batches`` micro-batches) and the /metrics endpoint
(main.go:181-187).

Nothing here invents new execution paths — every piece is the
already-tested component with its production option map attached:

- source: ``readStream.format("kinesis")`` with
  ``EngineConfig.kinesis_source_options()``, column-mapped to
  RAW_RECORD_SCHEMA (tests inject the file source, which emits the
  same columns — the downstream plan is literally identical);
- decode: ``sources.protowire.decode_protobuf_records`` (the real
  wire-format codec) instead of the JSON stand-in;
- sink: ``EsHadoopSink`` writing bulk batches through the es-hadoop
  connector's dynamic-resource pattern, with index-mapping PUTs and
  retention DELETEs over plain HTTP (main.go:292-329, 216-254). Tests
  assert the assembled option maps/requests and run the identical
  wiring against the parquet stand-in sink.

The dimension snapshot comes from ``dim_path`` (a parquet table of the
pre-flattened CF dimensions, refreshed per micro-batch — J5): the
reference pulls apps/spaces/orgs from the CF API with a 6 h lazy-fill
TTL (caching_lazyfill.go); at cluster scale the snapshot is produced
by an independent sync job and read here, which keeps the stream free
of API coupling.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig
from ..sinks.bulk import DEFAULT_MAPPING, write_poison
from ..sources.protowire import decode_protobuf_records
from .job import StreamMetrics, run_stream

__all__ = [
    "EsHadoopSink",
    "kinesis_raw_stream",
    "run_production_stream",
    "ProductionStream",
]


def retention_cadence(trigger_seconds: int) -> int:
    """Micro-batch cadence that lands the retention sweep once per
    ~24 h of triggers — the reference's daily deleteOldIndices loop
    (main.go:170-178)."""
    return max(1, 86400 // max(1, trigger_seconds))


def kinesis_raw_stream(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """The production source: ``readStream.format("kinesis")`` with the
    config's option map, column-mapped to RAW_RECORD_SCHEMA (the
    connector's record surface matches consumer.go:17 one-to-one)."""
    src = (
        spark.readStream.format("kinesis")
        .options(**cfg.kinesis_source_options())
        .load()
    )
    return src.select(
        F.col("shardId").alias("shard_id"),
        F.col("sequenceNumber").alias("sequence_number"),
        F.col("partitionKey").alias("partition_key"),
        F.col("approximateArrivalTimestamp").alias("arrival_ts"),
        F.col("data"),
    )


class EsHadoopSink:
    """The production sink: same duck-typed surface as
    ``ParquetIndexSink`` (ensure_indices / write / write_errors /
    drop_expired), executed against a live Elasticsearch cluster.

    - ``write`` sends each micro-batch through the es-hadoop connector
      as pre-rendered JSON rows (one string column, ``es.input.json``)
      with the dynamic-resource pattern ``{es_index}`` — one write job
      fans out to every index the batch touches, exactly like the
      parquet sink's partitioned append;
    - ``ensure_indices`` PUTs DEFAULT_MAPPING once per first-seen index
      (main.go:292-329), memoized like the reference's ``a.indices``;
    - ``drop_expired`` DELETEs indices whose date suffix is past the
      cutoff (main.go:216-254);
    - ``write_errors`` keeps the parquet poison bucket (T2): corrupt
      protobuf records belong in durable storage for replay, not in ES.
      It is ``ParquetIndexSink``'s poison writer (``bulk.write_poison``):
      a replayed batch replaces its own poison rows.

    HTTP goes through ``opener`` (stdlib urlopen by default) so tests
    can capture the requests without a cluster.
    """

    def __init__(
        self,
        cfg: EngineConfig,
        error_root: str | Path = "",
        opener=urllib.request.urlopen,
    ):
        self.cfg = cfg
        self.error_root = Path(error_root or f"/tmp/{cfg.app_name}-errors")
        self.opener = opener
        self._ensured: set[str] = set()

    # -- option maps (asserted by tests, consumed on a real cluster) ---
    def write_options(self) -> dict[str, str]:
        opts = dict(self.cfg.es_connector_options())
        # es.input.json requires a SINGLE string column per row; the
        # connector extracts the {pattern} and es.mapping.id fields
        # FROM that JSON document, so write() embeds es_index/doc_id
        # in the doc (they stay in _source, like the reference's
        # @cf.* routing metadata does — es.mapping.exclude is not
        # honored for pre-rendered JSON input).
        opts["es.resource.write"] = "{es_index}"
        opts["es.mapping.id"] = "doc_id"
        opts["es.input.json"] = "true"
        return opts

    def _http(self, method: str, path: str, body: dict | None = None):
        url = f"{self.cfg.es_scheme}://{self.cfg.es_url.rstrip('/')}{path}"
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            url,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        return self.opener(req)

    # -- P3: dynamic index creation ------------------------------------
    def ensure_indices(self, names: list[str]) -> None:
        for name in names:
            if name in self._ensured:
                continue
            self._http("PUT", f"/{name}", DEFAULT_MAPPING)
            self._ensured.add(name)

    # -- K1: bulk write ------------------------------------------------
    def write(
        self, docs: DataFrame, max_rows_per_index: int | None = None
    ) -> None:
        # ``max_rows_per_index`` (ParquetIndexSink's file fan-out hint,
        # passed by run_stream) goes unused: the connector sizes its
        # own bulk batches
        # one JSON column per row, with the routing fields embedded so
        # the connector can resolve {es_index} and es.mapping.id —
        # docs already carries es_index/doc_id (pipeline output), so
        # the whole row serializes as the document
        payload = docs.select(
            F.to_json(
                F.struct(*[F.col(f"`{c}`") for c in docs.columns]),
                {"ignoreNullFields": "true"},
            ).alias("doc")
        )
        (
            payload.write.format("org.elasticsearch.spark.sql")
            .options(**self.write_options())
            .mode("append")
            .save()
        )

    def write_errors(self, poison: DataFrame, batch_id: int) -> None:
        write_poison(poison, self.error_root, batch_id)

    # -- P4: retention (main.go:216-254) -------------------------------
    def drop_expired(self, days_to_keep: int, today=None) -> list[str]:
        """Delete indices the reference rule would drop
        (operators/retention.index_kept, main.go:227-239)."""
        from ..operators.retention import cutoff_date_str, index_kept

        cutoff = cutoff_date_str(days_to_keep, today)
        listing = json.loads(
            self._http("GET", "/_cat/indices?format=json").read()
        )
        dropped = []
        for row in listing:
            name = row["index"] if isinstance(row, dict) else row
            if not index_kept(name, cutoff):
                self._http("DELETE", f"/{name}")
                self._ensured.discard(name)
                dropped.append(name)
        return dropped


@dataclass
class ProductionStream:
    """Handle returned by run_production_stream: the live query, the
    counters (with the /metrics server attached) and the sink."""

    query: object
    metrics: StreamMetrics
    sink: object

    def stop(self) -> None:
        try:
            self.query.stop()
        finally:
            if self.metrics.http_server is not None:
                self.metrics.http_server.stop()


def run_production_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    raw_stream: DataFrame | None = None,
    sink=None,
    dim_path: str = "",
    metrics: StreamMetrics | None = None,
    startup_retention: bool = True,
    available_now: bool = False,
) -> ProductionStream:
    """Assemble and start the production job from one EngineConfig —
    the Spark analogue of ``RunForever`` (main.go:111-212).

    ``raw_stream``/``sink`` default to the Kinesis source and the
    es-hadoop sink; tests inject the file source and parquet sink and
    exercise the SAME wiring (the injected pieces emit/accept identical
    schemas). ``dim_path``: parquet with the pre-flattened dimension
    snapshot, re-read every micro-batch (J5); empty = no enrichment
    data (missing-tolerated, J3).
    """
    sc = cfg.stream_config()
    sc.metrics_listen = cfg.metrics_listen
    sc.available_now = available_now  # tests/backfills: drain-and-stop
    # real protobuf payloads in production (S7)
    sc.decoder = decode_protobuf_records
    # the reference deletes old indices daily (main.go:170-178)
    sc.retention_every_batches = retention_cadence(sc.trigger_seconds)

    if raw_stream is None:
        raw_stream = kinesis_raw_stream(spark, cfg)
    if sink is None:
        sink = EsHadoopSink(cfg)

    if dim_path:

        def dim_provider(s: SparkSession) -> DataFrame:
            return s.read.parquet(dim_path)

    else:
        # flatten_dimensions' output surface (enrichment.py) with no rows
        empty = spark.createDataFrame(
            [],
            "env string, guid_lc string, app_name string,"
            " space_guid string, space_name string, org_guid string,"
            " org_name string, ignored_app boolean",
        )

        def dim_provider(s: SparkSession) -> DataFrame:
            return empty

    # startup sweep "to free up space in case we're full" (main.go:164)
    if startup_retention:
        try:
            sink.drop_expired(cfg.days_to_keep)
        except Exception as exc:  # log-and-continue (main.go:165-167)
            import sys

            print(
                f"startup retention sweep failed (continuing): "
                f"{type(exc).__name__}: {exc}",
                file=sys.stderr,
            )

    query, m = run_stream(
        spark, raw_stream, dim_provider, sink, sc, metrics=metrics
    )
    return ProductionStream(query=query, metrics=m, sink=sink)
