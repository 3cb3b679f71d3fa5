"""The streaming job: readStream -> decode -> pipeline -> bulk sink
(SURVEY §3.1 Spark shape, §2.9 T1-T7).

Maps the reference's RunForever loop (main.go:111-212) onto Structured
Streaming:

- micro-batch trigger 15 s  <- BulkProcessor FlushInterval (main.go:189)
- checkpointLocation        <- Postgres/DynamoDB sequence store (S2-S4);
  offset+commit logs give the same resume-after-crash, with a tighter
  replay window than the reference's 60 s write-behind flush (T1)
- per-batch dimension refresh <- TTL'd lazy-fill cache (J5): the dim
  provider is called once per micro-batch on the driver and broadcast
  into the join — row-level TTL/jitter disappears because the whole
  snapshot refreshes atomically
- poison records -> error bucket + counter <- checkpoint-then-abort
  skip (T2, consumer.go:213-232): same observable outcome (record
  skipped, error counted), no process restart
- sent/error counters       <- Prometheus counters (A1, main.go:41-47),
  exposed in Prometheus text format (K5)

Everything inside ``foreachBatch`` is the SAME pure batch code the
DuckDB oracle checks — batch/stream parity by construction:
``run_stream`` compiles the pipeline once (``pipeline.compile_pipeline``)
before the query starts, and ``run_pipeline`` is that same compile
followed by one apply.

One micro-batch, in order (each Spark job is described by its stage's
name, under the stream's job group):

1. decode the raw records and cache them; apply the compiled pipeline
   (DataFrame ops only: no expression is built per batch, so every
   batch plans the same query and its generated classes come from the
   codegen cache);
2. ``before_write`` stages, each over a cached input
   (``before_write:<name>``);
3. ``count``: cache the final docs and run ONE per-index aggregation
   (touched indices, sent counter, file fan-out);
4. ``poison`` (a pool thread, over the cached records) alongside
   ``write``: a one-index batch that fits one file is written from one
   partition of the cached docs, with no shuffle;
5. ``after_write`` stages (``after_write:<name>``);
6. ``errors``: the poison rows, one file from the cached records.

With a cached dimension snapshot and the parquet sink, a steady-state
batch compiles no new class and runs 9 jobs when it holds one index
(10 over several indices, whose write keeps the salted shuffle).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import PipelineConfig, compile_pipeline
from ..sinks.bulk import ParquetIndexSink
from ..sources.records import decode_records

__all__ = [
    "StreamConfig",
    "StreamMetrics",
    "ObservedCounters",
    "run_before_write",
    "run_stream",
]

# the local property a job's description is read from
_DESCRIPTION = "spark.job.description"


class ObservedCounters:
    """A1 via the Spark-native path: ``df.observe`` on the source +
    a StreamingQueryListener reading ``progress.observedMetrics`` —
    per-batch record counts with zero extra actions (the metric rides
    the existing job). Complements StreamMetrics (which counts the
    pipeline's sent/error outcomes inside foreachBatch).

    Use: ``listener = ObservedCounters.install(spark)``; pass
    ``observe_records=True`` to run_stream; read
    ``listener.records_in``. Remove with ``uninstall``.
    """

    OBSERVATION = "records_in"

    def __init__(self) -> None:
        self.records_in = 0
        self._listener = None

    @classmethod
    def install(cls, spark: SparkSession) -> "ObservedCounters":
        from pyspark.sql.streaming import StreamingQueryListener

        self = cls()

        class _L(StreamingQueryListener):
            def onQueryStarted(inner, event) -> None:  # noqa: N805
                pass

            def onQueryProgress(inner, event) -> None:  # noqa: N805
                om = event.progress.observedMetrics
                row = om.get(cls.OBSERVATION)
                if row is not None:
                    self.records_in += row["n"] or 0

            def onQueryIdle(inner, event) -> None:  # noqa: N805
                pass

            def onQueryTerminated(inner, event) -> None:  # noqa: N805
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)
        return self

    def uninstall(self) -> None:
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None


@dataclass
class StreamMetrics:
    """A1: the two monotonic counters (main.go:41-47)."""

    sent_count: int = 0
    errors_count: int = 0
    # set by run_stream when StreamConfig.metrics_listen is configured
    # (K5); caller stops it with metrics.http_server.stop()
    http_server: object | None = None

    def prometheus_text(self) -> str:
        """K5: Prometheus exposition format, as served on /metrics
        (main.go:181-187)."""
        return (
            "# TYPE app_kinesis_to_es_sent_count counter\n"
            f"app_kinesis_to_es_sent_count {self.sent_count}\n"
            "# TYPE app_kinesis_to_es_errors_count counter\n"
            f"app_kinesis_to_es_errors_count {self.errors_count}\n"
        )


@dataclass
class StreamConfig:
    checkpoint_location: str = ""
    trigger_seconds: int = 15  # FlushInterval, main.go:189
    # K5: serve /metrics in Prometheus exposition format while the
    # stream runs (METRICS_LISTEN, main.go:181-187,551). "" = off;
    # ":0" binds an ephemeral port (tests read metrics.http_server.url).
    metrics_listen: str = ""
    available_now: bool = False  # drain-and-stop, for tests/backfills
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)
    days_to_keep: int = 3  # DAYS_TO_KEEP, main.go:553
    retention_every_batches: int = 0  # 0 = off; reference runs 24-hourly
    # Payload decoder: raw records -> RECORD_SCHEMA + decode_error.
    # Default: the from_json stand-in (sources/records.py); the
    # Arrow-batched protobuf wire codec is
    # sources/protowire.decode_protobuf_records, and Spark's
    # from_protobuf against the compiled Envelope descriptor is
    # sources/protodesc.select_protobuf_decoder(spark, "jvm") — 100%
    # codegen, falling back LOUDLY to the Arrow codec when the
    # optional spark-protobuf module is absent.
    decoder: Callable[[DataFrame], DataFrame] = decode_records
    # The micro-batch's optional work, as two ordered stage tuples that
    # the runner in run_stream applies around the sink write. The
    # runner owns caching: every frame a stage receives is persisted by
    # the runner and released when the batch ends; stages persist
    # nothing themselves.
    #
    # before_write: ``stage(docs) -> docs``, in order, before the
    # touched-index count and the sink write — filters such as the
    # cross-batch exact and near-duplicate indices
    # (sinks/dedupindex.dedup_against_index, then
    # sinks/neardupindex.neardup_against_index; exact first, it is the
    # cheaper one), and document-level enrichments such as UA
    # classification (operators/useragent.py) or an ingest processor
    # list (operators/ingest.py), which a batch caller applies to
    # run_pipeline's output instead. ``docs`` are the final documents
    # (log_message and arrival_ts dropped).
    before_write: tuple[Callable[[DataFrame], DataFrame], ...] = ()
    # after_write: ``stage(docs, touched, batch_id) -> None``, in order,
    # once the batch is written: ``docs`` is the cached written frame,
    # ``touched`` the es_index names it wrote to (known from the count
    # the runner already runs, so a stage that only needs the indices
    # adds no job) and ``batch_id`` the micro-batch id (for per-batch
    # partitions that an at-least-once replay overwrites). Maintained
    # state goes here: sketches (sinks/sketchmaint), heavy hitters
    # (sinks/hhmaint), the upsert table (sinks/upsert), the text index
    # (sinks/textindex), data-quality reports
    # (operators/expectations) and rollups (sinks/rollup).
    after_write: tuple[Callable[[DataFrame, list, int], None], ...] = ()


def _stage_name(stage: Callable) -> str:
    """A stage callable's name, as its jobs are described: the function
    name, seen through ``functools.partial``."""
    fn = getattr(stage, "func", stage)
    return getattr(fn, "__name__", type(fn).__name__)


def run_before_write(
    docs: DataFrame,
    stages: tuple[Callable[[DataFrame], DataFrame], ...],
    held: list[DataFrame],
) -> DataFrame:
    """Apply ``before_write`` stages in order; returns the last output.

    Caching rule: each stage's input is persisted and appended to
    ``held``, which the caller unpersists when it is done. A filter
    stage's index update is its own action, and the next action
    re-reads the cache instead of re-running grok/enrichment or the
    previous index join. The stream and the backfill job
    (sinks/backfill.py) both run their stages through here. The jobs a
    stage starts are described ``before_write:<stage name>``; the
    caller's job description comes back afterwards."""
    if not stages:
        return docs
    sc = docs.sparkSession.sparkContext
    described = sc.getLocalProperty(_DESCRIPTION)
    try:
        for stage in stages:
            held.append(docs.persist())
            sc.setJobDescription(f"before_write:{_stage_name(stage)}")
            docs = stage(docs)
    finally:
        sc.setJobDescription(described)
    return docs


def run_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    dim_provider: Callable[[SparkSession], DataFrame],
    sink: ParquetIndexSink,
    cfg: StreamConfig,
    metrics: StreamMetrics | None = None,
    observe_records: bool = False,
):
    """Start the streaming query; returns (query, metrics).

    ``raw_stream``: RAW_RECORD_SCHEMA streaming DataFrame (file source
    in tests, Kinesis connector in production — same columns).
    ``dim_provider``: called per micro-batch; returns the flattened
    dimension snapshot (operators.enrichment.flatten_dimensions).
    """
    m = metrics if metrics is not None else StreamMetrics()
    if cfg.metrics_listen and m.http_server is None:
        from .metrics_http import MetricsServer

        m.http_server = MetricsServer(m, cfg.metrics_listen).start()
    if observe_records:
        raw_stream = raw_stream.observe(
            ObservedCounters.OBSERVATION, F.count(F.lit(1)).alias("n")
        )
    batch_counter = {"n": 0}
    sc = spark.sparkContext
    # Every expression of the batch plan is built here, once: the
    # micro-batch only issues DataFrame ops, so each batch's plan is
    # the same plan over new data.
    pipeline = compile_pipeline(cfg.pipeline)
    is_poison = F.col("decode_error")
    is_good = ~is_poison
    per_index = F.count(F.lit(1)).alias("__n")

    def process_batch(raw: DataFrame, batch_id: int) -> None:
        # The runner owns every cache of the batch: the decoded records
        # and each before_write stage's input and output, all released
        # when the batch ends.
        #
        # Decode once per batch; the good/poison split and the poison
        # counter read the decoded frame, so cache it (bounded by
        # trigger x arrival rate; availableNow backfills are capped by
        # maxFilesPerTrigger). NOTE: df.observe + Observation.get
        # cannot replace the poison count here — inside foreachBatch
        # the observed metrics ride the STREAMING progress, not the
        # per-batch query, and Observation.get throws (pinned by
        # TestErrorReplay, which runs an all-poison batch).
        described = sc.getLocalProperty(_DESCRIPTION)
        records = cfg.decoder(raw).persist()
        held = [records]
        try:
            poison = records.filter(is_poison)
            good = records.filter(is_good).drop("decode_error", "data")
            docs = pipeline(good, dim_provider(spark))
            docs = docs.drop("log_message", "arrival_ts")
            docs = run_before_write(docs, cfg.before_write, held)
            # the count, the sink write and the after_write stages all
            # read the final docs
            held.append(docs.persist())
            # ONE aggregation serves the touched-index set, the sent
            # counter and the sink's file fan-out
            sc.setJobDescription("count")
            idx_counts = docs.groupBy("es_index").agg(per_index).collect()
            touched = [r["es_index"] for r in idx_counts]
            total = sum(r["__n"] for r in idx_counts)
            sink.ensure_indices(touched)
            # the poison count only reads the populated records cache —
            # submit it concurrently so it back-fills the sink write's
            # task tail (guide §2.6) instead of running as its own
            # serial job afterwards; the wrapper hands this thread's job
            # group and local properties (the description included) to
            # the pool thread
            sc.setJobDescription("poison")
            count_poison = inheritable_thread_target(spark)(poison.count)
            # a one-index batch that fits one file goes to the parquet
            # sink as ONE partition of the cached docs, which the sink
            # writes with no shuffle (ParquetIndexSink.write); only this
            # cached frame is collapsed, never the upstream decode and
            # pipeline work, and a batch over several indices keeps one
            # writing task per index
            written = docs
            if (
                isinstance(sink, ParquetIndexSink)
                and len(touched) == 1
                and total <= sink.TARGET_FILE_ROWS
            ):
                written = docs.coalesce(1)
            with ThreadPoolExecutor(max_workers=1) as pool:
                poison_fut = pool.submit(count_poison)
                sc.setJobDescription("write")
                sink.write(
                    written,
                    max_rows_per_index=max(
                        (r["__n"] for r in idx_counts), default=0
                    ),
                )
                n_poison = poison_fut.result()
            m.sent_count += total
            for stage in cfg.after_write:
                sc.setJobDescription(f"after_write:{_stage_name(stage)}")
                stage(docs, touched, batch_id)
            if n_poison:
                # one file, from the cached records
                sc.setJobDescription("errors")
                sink.write_errors(
                    poison.drop("decode_error").coalesce(1), batch_id
                )
                m.errors_count += n_poison
        finally:
            sc.setJobDescription(described)
            for df in held:
                df.unpersist()
        batch_counter["n"] += 1
        if (
            cfg.retention_every_batches
            and batch_counter["n"] % cfg.retention_every_batches == 0
        ):
            sink.drop_expired(cfg.days_to_keep)

    writer = raw_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", cfg.checkpoint_location
    )
    if cfg.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.trigger_seconds} seconds")
    query = writer.start()
    return query, m


def drain(query, timeout_s: float = 120.0) -> None:
    """Await an availableNow query (tests/backfills); graceful-shutdown
    analogue of the reference's SIGTERM -> flush path (T6)."""
    deadline = time.time() + timeout_s
    while query.isActive and time.time() < deadline:
        # fine-grained poll: a 1 s granularity adds up to a second of
        # dead time after the last commit of an availableNow run
        query.awaitTermination(0.05)
    if query.isActive:
        query.stop()
        raise TimeoutError("streaming query did not drain in time")
    if query.exception() is not None:
        raise query.exception()
