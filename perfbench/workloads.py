"""The workloads and the curation layer probe. Each drives the engine
only through its public functions and checks its own outputs.

A workload has ``setup`` (inputs plus engine state, paid in setup_s),
``warmup`` (one untimed pass of the op mix), ``prepare(i)`` (untimed
bookkeeping before op ``i``), ``op(i)`` (the timed call, which raises
on a failed output check), ``after(i)`` (untimed bookkeeping after
it), ``finish`` (checks that need the whole run, returning the indices
of failed ops), and for traced runs ``trace_extra`` (layer probes after
the window), ``layers`` (per-layer metrics) and ``baseline``.
"""

from __future__ import annotations

import ast
import hashlib
import statistics
import threading
import time
from collections import Counter
from pathlib import Path

import inputs
from probes import JobTable, Tracer

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def fingerprint(rows) -> str:
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


class CheckFailed(Exception):
    pass


class Workload:
    name = ""
    #: the op mix repeats every this many ops; the timed window and the
    #: traced blocks are whole rounds
    round_len = 1

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = tracer

    def setup(self) -> None: ...

    def warmup(self) -> None: ...

    def prepare(self, i: int) -> None: ...

    def after(self, i: int) -> None: ...

    def op(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> set[int]:
        return set()

    def trace_extra(self) -> None:
        """Traced runs only: layer probes that run after the window."""

    def baseline(self, restart) -> dict[str, float]:
        """Traced runs only, last: may restart the session with fewer cores."""
        return {}

    def layers(self, table: JobTable) -> dict[str, float]:
        return {}

    def close(self) -> None: ...

    # -- shared engine wiring ------------------------------------------

    def _dim(self):
        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import synthesize_cf_dimensions

        dim = flatten_dimensions(*synthesize_cf_dimensions(self.spark)).cache()
        dim.count()
        tracer = self.tracer

        def provider(_spark):
            with tracer.span("enrichment.dim"):
                return dim

        return provider

    @staticmethod
    def _pipeline_config():
        from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import ALLOWED_ORIGINS

        return PipelineConfig(allowed_origins=list(ALLOWED_ORIGINS))

    def _stream_config(self, name: str, **kw):
        from cga_kinesis_to_elasticsearch_spark.sources.protowire import decode_protobuf_records
        from cga_kinesis_to_elasticsearch_spark.streaming.job import StreamConfig

        return StreamConfig(
            checkpoint_location=str(self.work / f"{name}-checkpoint"),
            decoder=decode_protobuf_records,
            pipeline=self._pipeline_config(),
            **kw,
        )

    def _drain_backlog(self, rec: inputs.Records, name: str, sink=None) -> float:
        """Write ``rec`` as a raw-record parquet backlog, drain it with
        ``run_stream(available_now=True)`` and check the per-index and
        poison counts; returns the drain's wall seconds."""
        import pyarrow.parquet as pq

        from cga_kinesis_to_elasticsearch_spark.sources.records import read_raw_record_stream
        from cga_kinesis_to_elasticsearch_spark.streaming.job import drain, run_stream

        raw = self.work / f"{name}-raw"
        if not raw.exists():
            raw.mkdir(parents=True)
            table = rec.arrow()
            step = -(-len(rec) // 4)
            for k in range(4):
                pq.write_table(table.slice(k * step, step), str(raw / f"part-{k}.parquet"))
        sink = sink or self._sink(f"{name}-sink-{time.monotonic_ns()}")
        dim = self._dim()
        t = time.perf_counter()
        cfg = self._stream_config(f"{name}-{time.monotonic_ns()}", available_now=True)
        query, metrics = run_stream(self.spark, read_raw_record_stream(self.spark, str(raw)), dim, sink, cfg)
        drain(query, timeout_s=150)
        wall = time.perf_counter() - t
        got = {r["index"]: r["doc_count"] for r in sink.cat_indices(self.spark).collect()}
        if got != rec.expected_index_counts() or metrics.errors_count != rec.expected_poison():
            raise CheckFailed(f"{name} drain: {got} != {rec.expected_index_counts()}")
        return wall

    def _sink(self, name: str):
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

        tracer = self.tracer

        class TracedSink(ParquetIndexSink):
            def write(self, docs, max_rows_per_index=None):
                with tracer.span("sinks.bulk.write"):
                    super().write(docs, max_rows_per_index=max_rows_per_index)

        return TracedSink(self.work / name)


def _parquet_files(root: Path) -> list[Path]:
    return sorted(root.rglob("*.parquet")) if root.exists() else []


# -- ingest_live ----------------------------------------------------------


class IngestLive(Workload):
    """One long-running stream over ``kinesis_sim`` with a zero-length
    trigger; an op appends one chunk stamped at creation and waits until
    the micro-batch carrying it has committed. Before each append the
    oldest chunk of every shard is trimmed, as Kinesis retention does,
    once the stream holds ``HISTORY_CHUNKS`` chunks, so every timed op
    sees the same history however many ops the window holds. The stream
    starts empty: the first warm-up chunks build the history.

    Sizes follow the reference's configuration (README, Traffic sizes)
    at 200 records/s: a chunk is one 15 s bulk flush interval, the
    history one 60 s checkpoint interval."""

    name = "ingest_live"
    CHUNK = 3_000
    HISTORY_CHUNKS = 4
    POOL = 4  # distinct chunk payload sets, cycled with fresh offsets
    # JIT compilation goes on for dozens of batches: op walls kept
    # falling over the first 20 chunks, most steeply over the first 6
    WARMUP_CHUNKS = 6
    BASELINE_RECORDS = 12_000

    def setup(self) -> None:
        from cga_kinesis_to_elasticsearch_spark.sources.kinesis_sim import (
            read_kinesis_sim_stream,
            write_kinesis_sim_fixture,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import run_stream

        self._write = write_kinesis_sim_fixture
        self.root = self.work / "stream"
        self.pool = [
            inputs.make_records(self.seed, self.CHUNK, first_id=k * self.CHUNK, ts_ms=0)
            for k in range(self.POOL)
        ]
        for k in range(inputs.N_SHARDS):
            (self.root / f"shard-{k}").mkdir(parents=True)
        self.chunk_ids: dict[int, set[str]] = {}
        self.next_id = 0
        self.sink = self._sink("sink")
        self.dim = self._dim()
        cfg = self._stream_config("live", trigger_seconds=0)
        self._listen()
        self.query, _ = run_stream(
            self.spark, read_kinesis_sim_stream(self.spark, str(self.root)), self.dim, self.sink, cfg
        )
        self.batch_at: dict[int, tuple[int, int]] = {}  # op -> (first, last] batch ids
        self.files_per_op: dict[int, int] = {}
        self.probes: dict[str, list[float]] = {}

    @staticmethod
    def _target(rows) -> dict[str, int]:
        out: dict[str, int] = {}
        for shard, seq, *_ in rows:
            out[shard] = max(out.get(shard, 0), seq + 1)
        return out

    def _progress(self, p) -> None:
        # the Python source's offset dict reaches progress as its repr
        end = ast.literal_eval(p.sources[0].endOffset)
        with self._cond:
            self._end, self._batch = end, int(p.batchId)
            self._cond.notify_all()

    def _listen(self) -> None:
        """Progress arrives through a StreamingQueryListener, so an op
        waits on a condition instead of polling the query over py4j."""
        from pyspark.sql.streaming import StreamingQueryListener

        self._cond = threading.Condition()
        self._end: dict[str, int] = {}
        self._batch = -1
        on_progress = self._progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                on_progress(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def _wait(self, target: dict[str, int], timeout_s: float = 120.0) -> int:
        """Block until a committed batch covers ``target``; its batch id."""
        deadline = time.monotonic() + timeout_s

        def covered() -> bool:
            return all(int(self._end.get(s, 0)) >= n for s, n in target.items())

        with self._cond:
            while not self._cond.wait_for(covered, timeout=1.0):
                if not self.query.isActive:
                    raise CheckFailed(f"stream stopped: {self.query.exception()}")
                if time.monotonic() > deadline:
                    raise CheckFailed("chunk not committed in time")
            return self._batch

    def _trim(self) -> None:
        """Empty the oldest non-empty file of every shard: its records
        are committed, and the source skips empty files. The file is
        replaced, not deleted, so the source's concurrent offset polling
        never opens a vanished path."""
        for shard in sorted(p for p in self.root.iterdir() if p.is_dir()):
            live = [f for f in sorted(shard.glob("*.jsonl")) if f.stat().st_size]
            if len(live) > self.HISTORY_CHUNKS:
                empty = self.work / "trimmed"
                empty.write_bytes(b"")
                empty.replace(live[0])

    def _append(self, rows: list[tuple]) -> None:
        """Write the chunk with the fixture writer into a staging stream
        and rename its files into the live one, so the whole chunk
        becomes visible at once (as a PutRecords batch does) instead of
        shard by shard."""
        stage = self.work / "stage"
        self._write(rows, str(stage), records_per_file=len(rows))
        for f in sorted(stage.glob("*/*.jsonl")):
            f.rename(self.root / f.parent.name / f.name)

    def _chunk(self, i: int) -> list[tuple]:
        src = self.pool[i % self.POOL]
        base = self.next_id
        self.next_id += self.CHUNK
        rows, ids = [], set()
        for j, r in enumerate(src.rows):
            e = base + j
            shard, seq = f"shard-{e % inputs.N_SHARDS}", e // inputs.N_SHARDS
            rows.append([shard, seq, r[2], 0, r[4]])
            if src.kept[j]:
                ids.add(inputs.doc_id(shard, inputs.seq_string(seq)))
        self.chunk_ids[i] = ids
        return rows

    def warmup(self) -> None:
        for k in range(self.WARMUP_CHUNKS):
            self.prepare(-1 - k)
            self.op(-1 - k)

    def prepare(self, i: int) -> None:
        self._trim()
        self.rows = self._chunk(i)
        self.target = self._target(self.rows)
        self.batch0 = self._batch
        self.files0 = len(_parquet_files(self.sink.root / "data")) if self.tracer.enabled else 0

    def op(self, i: int) -> None:
        with self.tracer.span("op", kind="append"):
            now_ms = int(time.time() * 1000)  # stamped at creation
            for r in self.rows:
                r[3] = now_ms
            with self.tracer.span("sources.append"):
                self._append([tuple(r) for r in self.rows])
            with self.tracer.span("streaming.wait_commit"):
                batch = self._wait(self.target)
        self.batch_at[i] = (self.batch0, batch)

    def after(self, i: int) -> None:
        if self.tracer.enabled:
            self.files_per_op[i] = len(_parquet_files(self.sink.root / "data")) - self.files0

    def trace_extra(self) -> None:
        """Layer probes over each pool chunk (a fixed set, so the counts
        repeat between runs of one seed), after the window."""
        for k, chunk in enumerate(self.pool):
            self.tracer.op = PROBE_OP + k
            self._probe(k, [(r[0], r[1], r[2], 1_700_000_000_000, r[4]) for r in chunk.rows])

    def _probe(self, k: int, rows: list[tuple]) -> None:
        """Decode alone, the pipeline build, decode + pipeline, and the
        sink write of a checkpointed docs frame, over one chunk read
        from raw-record parquet."""
        import pyarrow.parquet as pq

        from cga_kinesis_to_elasticsearch_spark.pipeline import run_pipeline
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
        from cga_kinesis_to_elasticsearch_spark.sources.protowire import decode_protobuf_records

        path = self.work / "probe" / f"chunk-{k}.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(inputs.Records(rows, [], []).arrow(), str(path))
        raw = self.spark.read.parquet(str(path))
        put = self.probes.setdefault
        t = time.perf_counter()
        with self.tracer.span("decode.exec"):
            decoded = decode_protobuf_records(raw)
            decoded.write.format("noop").mode("overwrite").save()
        decode_ms = (time.perf_counter() - t) * 1000
        put("decode.exec_ms", []).append(decode_ms)
        good = decoded.filter("NOT decode_error").drop("decode_error", "data")
        t = time.perf_counter()
        with self.tracer.span("pipeline.build"):
            docs = run_pipeline(good, self.dim(self.spark), self._pipeline_config())
        put("pipeline.build_ms", []).append((time.perf_counter() - t) * 1000)
        t = time.perf_counter()
        with self.tracer.span("pipeline.exec"):
            docs.write.format("noop").mode("overwrite").save()
        put("pipeline.exec_ms", []).append((time.perf_counter() - t) * 1000 - decode_ms)
        docs = docs.drop("log_message", "arrival_ts").localCheckpoint()
        n_docs = docs.count()
        if n_docs != sum(self.pool[k].kept):
            raise CheckFailed(f"probe chunk {k}: {n_docs} docs, expected {sum(self.pool[k].kept)}")
        put("pipeline.docs_per_record", []).append(n_docs / self.CHUNK)
        sink_root = self.work / "probe" / f"sink-{k}"
        t = time.perf_counter()
        with self.tracer.span("sinks.bulk.write_probe"):
            ParquetIndexSink(sink_root).write(docs, max_rows_per_index=n_docs)
        put("sinks.bulk.write_ms", []).append((time.perf_counter() - t) * 1000)
        files = _parquet_files(sink_root)
        put("sinks.bulk.bytes_per_doc", []).append(sum(f.stat().st_size for f in files) / max(n_docs, 1))

    def finish(self) -> set[int]:
        self.query.stop()
        ids = Counter(r[0] for r in self.spark.read.parquet(str(self.sink.root / "data")).select("doc_id").collect())
        failed = {i for i, want in self.chunk_ids.items() if any(ids.get(d) != 1 for d in want)}
        if any(i < 0 for i in failed) or set(ids) - set().union(*self.chunk_ids.values()):
            raise CheckFailed("warm-up chunks or unexpected documents in the sink")
        return failed

    def layers(self, table: JobTable) -> dict[str, float]:
        progress = {int(p["batchId"]): p for p in self.query.recentProgress}
        batches = [b for i, (lo, hi) in self.batch_at.items() if i >= 0 for b in range(lo + 1, hi + 1)]
        dur = [progress[b]["durationMs"] for b in batches if b in progress]
        out = {
            "sources.offsets_ms": median(d.get("latestOffset", 0) for d in dur),
            "sources.get_batch_ms": median(d.get("getBatch", 0) for d in dur),
            "streaming.add_batch_ms": median(d.get("addBatch", 0) for d in dur),
            "streaming.commit_ms": median(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
            "streaming.trigger_ms": median(d.get("triggerExecution", 0) for d in dur),
            "streaming.batches_per_op": mean(hi - lo for i, (lo, hi) in self.batch_at.items() if i >= 0),
        }
        # file and job counts come from the traced ops only
        traced = sum(self.batch_at[i][1] - self.batch_at[i][0] for i in self.files_per_op)
        out["sinks.bulk.files_per_batch"] = sum(self.files_per_op.values()) / max(traced, 1)
        jobs = sum(table.totals(*s.jobs)["jobs"] for s in self.tracer.by_name("op"))
        out["streaming.jobs_per_batch"] = jobs / max(traced, 1)
        out.update({k: median(v) for k, v in self.probes.items()})
        return out

    def baseline(self, restart) -> dict[str, float]:
        """The single-threaded baseline: a backlog drain at ``local[2]``
        in this session and at ``local[1]`` after ``restart(1)``; the
        second drain of each is timed."""
        self.close()
        rec = inputs.make_records(self.seed, self.BASELINE_RECORDS, first_id=self.next_id)
        out = {}
        for cores in (2, 1):
            if cores == 1:
                self.spark = restart(1)
            wall = [self._drain_backlog(rec, "baseline") for _ in range(2)][-1]
            out[f"baseline.local{cores}_records_per_s"] = len(rec) / wall
        return out

    def close(self) -> None:
        if self.query.isActive:
            self.query.stop()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


# -- search_mixed ----------------------------------------------------------


class SearchMixed(Workload):
    """Kibana-style requests, one at a time, against day indices the
    setup ingests through the backlog path (raw-record parquet source,
    ``available_now`` drain)."""

    name = "search_mixed"
    # four minutes of the reference's traffic at 200 records/s, over its
    # default 3-day retention (README, Traffic sizes)
    RECORDS = 48_000
    DAYS = 3
    AGG_KINDS = ("terms_es_index", "esql_stats", "timestamp_histogram")

    def setup(self) -> None:
        rec = inputs.make_records(self.seed, self.RECORDS, days=self.DAYS)
        self.sink = self._sink("indices")
        self._drain_backlog(rec, "backlog", self.sink)
        got = sorted(rec.expected_index_counts())
        self.n_docs = rec.expected_docs()
        self.reqs = inputs.make_requests(self.seed, got)
        self.order = inputs.request_order(self.seed, len(self.reqs), 10_000)
        self.round_len = len(self.reqs)
        self.expect: dict[int, str] = {}
        self.walls: dict[int, float] = {}
        self.outcomes: Counter = Counter()

    def _request(self, rq: dict):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import run_esql
        from cga_kinesis_to_elasticsearch_spark.operators.kql import kql_to_dsl
        from cga_kinesis_to_elasticsearch_spark.operators.luceneq import query_string_to_dsl
        from cga_kinesis_to_elasticsearch_spark.operators.querydsl import run_search_body

        span = self.tracer.span
        body = dict(rq["body"])
        with span("search.index_read"):
            df = self.sink.read_index(self.spark)
        if rq["api"] == "esql":
            with span("esql.build"):
                return run_esql(body["esql"], {"logs": df})
        if rq["api"] == "kql":
            with span("kql.translate"):
                body["query"] = kql_to_dsl(body.pop("kql"))
        elif rq["api"] == "lucene":
            with span("luceneq.translate"):
                body["query"] = query_string_to_dsl(body.pop("query_string"))
        with span("querydsl.build"):
            return run_search_body(df, body)

    def _run(self, k: int) -> str:
        """Run request ``k``; returns its fingerprint, or ``defect:...``
        when a ``@cf.*`` request hits the documented resolution error."""
        rq = self.reqs[k]
        try:
            out = self._request(rq)
            if self.tracer.enabled:
                with self.tracer.span("search.plan"):
                    out._jdf.queryExecution().executedPlan()
            with self.tracer.span("search.exec"):
                rows = out.collect()
        except Exception as exc:  # a documented defect is an outcome, anything else fails the op
            msg = str(exc)
            if rq["kind"] in inputs.CF_KINDS and (
                "UNRESOLVED_COLUMN" in msg or "unsupported expression syntax: '`@cf." in msg
            ):
                return "defect:" + msg.split("]")[0].split(":")[0][:60]
            raise
        if rq["kind"] in self.AGG_KINDS:
            total = sum(r["doc_count"] if "doc_count" in r else r["n"] for r in rows)
            if total != self.n_docs:
                raise CheckFailed(f"{rq['kind']}: agg total {total} != {self.n_docs}")
        return fingerprint(rows)

    def warmup(self) -> None:
        for k in range(len(self.reqs)):
            self.expect[k] = self._run(k)

    def op(self, i: int) -> None:
        k = self.order[i]
        t = time.perf_counter()
        with self.tracer.span("op", kind=self.reqs[k]["kind"]):
            got = self._run(k)
        self.walls[i] = time.perf_counter() - t
        if got != self.expect[k]:
            raise CheckFailed(f"{self.reqs[k]['kind']}: result differs from the warm-up pass")
        self.outcomes["defect" if got.startswith("defect:") else "ok"] += 1

    def trace_extra(self) -> None:
        """The curation layers are measured here (see README): a cold
        pass that also records the reference outputs, then a measured
        pass."""
        self.tracer.op = COUNT_OP
        for k in range(len(self.reqs)):
            with self.tracer.span("count_op", kind=self.reqs[k]["kind"]):
                if self._run(k) != self.expect[k]:
                    raise CheckFailed(f"{self.reqs[k]['kind']}: result differs from the warm-up pass")
        self.curation = Curation(self.spark, self.work, self.seed, self.tracer)
        self.tracer.op = -1
        self.curation.run_pass()
        self.tracer.op = CURATION_OP
        self.curation.run_pass()

    def layers(self, table: JobTable) -> dict[str, float]:
        selfms = self.tracer.self_ms()
        out = {
            "querydsl.build_ms": median(selfms.get("querydsl.build", [])),
            "kql.translate_ms": median(selfms.get("kql.translate", [])),
            "luceneq.translate_ms": median(selfms.get("luceneq.translate", [])),
            "esql.build_ms": median(selfms.get("esql.build", [])),
            "search.index_read_ms": median(selfms.get("search.index_read", [])),
            "search.plan_ms": median(selfms.get("search.plan", [])),
            "search.exec_ms": median(selfms.get("search.exec", [])),
            "search.defect_ratio": self.outcomes["defect"] / max(sum(self.outcomes.values()), 1),
        }
        kinds: dict[str, list[float]] = {}
        for i, w in self.walls.items():
            kinds.setdefault(self.reqs[self.order[i]]["kind"], []).append(w * 1000)
        for kind in KINDS:
            out[f"search.kind.{kind}.p50_ms"] = median(kinds.get(kind, []))
        # counts over one traced round holding every request once, so
        # they do not depend on how many ops the window held
        per_op = [table.totals(*s.jobs) for s in self.tracer.by_name("count_op")]
        for key in ("jobs", "stages", "tasks", "shuffle_bytes", "executor_run_ms"):
            out[f"search.{key}_per_op"] = mean(t[key] for t in per_op)
        for name in ("querydsl.build", "esql.build"):
            spans = [s for s in self.tracer.by_name(name) if s.op == COUNT_OP]
            out[f"{name.split('.')[0]}.jobs_during_build"] = mean(s.jobs[1] - s.jobs[0] for s in spans)
        if hasattr(self, "curation"):
            out.update(self.curation.layers(table, CURATION_OP))
        return out


PROBE_OP = 1_000_000  # span op ids of ingest_live's layer probes
COUNT_OP = 1_000_000  # span op id of search_mixed's traced counting round
CURATION_OP = 1_000_001  # span op id of the measured curation pass

KINDS = (
    "discover_hits", "timestamp_histogram", "terms_es_index", "bm25_match", "kql",
    "lucene_query_string", "esql_stats", "esql_where_keep", *inputs.CF_KINDS,
)


# -- curation (traced search_mixed runs only) -----------------------------


CURATION_CALLS = (
    "dedup.exact_dedup", "dedup.fuzzy_dedup", "dedup.span_dedup",
    "text.quality_score", "textindex.build_text_index", "textindex.bm25_topk",
)


class Curation:
    """One pass of exact -> fuzzy -> span dedup, quality scoring, a text
    index build and a seeded set of BM25 queries over a seeded corpus
    with planted duplicates. Each call is spanned; ``exact_dedup``'s
    group count is checked against hashlib, and every output against
    the first pass."""

    DOCS = 500
    QUERIES = 2

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer) -> None:
        import pyarrow.parquet as pq

        self.spark, self.tracer = spark, tracer
        corpus = inputs.make_corpus(seed, self.DOCS)
        self.path = str(work / "corpus.parquet")
        pq.write_table(corpus.arrow(), self.path)
        self.distinct = corpus.distinct_texts()
        self.queries = inputs.make_bm25_queries(seed, self.QUERIES)
        self.index_root = work / "textindex"
        self.expect: list[str] | None = None

    def run_pass(self) -> None:
        from cga_kinesis_to_elasticsearch_spark.operators.dedup import exact_dedup, fuzzy_dedup, span_dedup
        from cga_kinesis_to_elasticsearch_spark.operators.text import quality_score
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import bm25_topk, build_text_index

        span = self.tracer.span
        df = self.spark.read.parquet(self.path)
        prints = []
        with span("dedup.exact_dedup"):
            rows = exact_dedup(df, "text", "doc_id").collect()
        if len(rows) != self.distinct:
            raise CheckFailed(f"exact_dedup: {len(rows)} groups, hashlib counts {self.distinct}")
        prints.append(fingerprint(rows))
        with span("dedup.fuzzy_dedup"):
            prints.append(fingerprint(fuzzy_dedup(df, "text", "doc_id").collect()))
        with span("dedup.span_dedup"):
            prints.append(fingerprint(span_dedup(df, "text", "doc_id").collect()))
        with span("text.quality_score"):
            prints.append(fingerprint(quality_score(df, "text", "doc_id").collect()))
        with span("textindex.build_text_index"):
            build_text_index(df, self.index_root)
        with span("textindex.bm25_topk"):
            for terms in self.queries:
                prints.append(fingerprint(bm25_topk(self.spark, self.index_root, terms, k=10).collect()))
        if self.expect is None:
            self.expect = prints
        elif prints != self.expect:
            raise CheckFailed("curation outputs differ between passes")

    def layers(self, table: JobTable, op: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for call in CURATION_CALLS:
            spans = [s for s in self.tracer.by_name(call) if s.op == op]
            out[f"{call}.exec_ms"] = median((s.end - s.start) * 1000 for s in spans)
            per = [table.totals(*s.jobs) for s in spans]
            out[f"{call}.executor_run_ms"] = median(t["executor_run_ms"] for t in per)
            out[f"{call}.shuffle_bytes"] = mean(t["shuffle_bytes"] for t in per)
            out[f"{call}.jobs"] = mean(t["jobs"] for t in per)
        return out


WORKLOADS = {w.name: w for w in (IngestLive, SearchMixed)}
