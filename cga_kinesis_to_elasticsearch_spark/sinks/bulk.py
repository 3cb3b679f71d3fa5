"""ES-compatible bulk sink (SURVEY §2.8 K1-K3, §2.7 P1/P3).

The reference sinks documents through olivere/elastic's BulkProcessor
(bulk_processor.go:403,470,526) into day-partitioned indices
``{class}-{YYYY-MM-DD}`` (main.go:400,447), creating each index on
first use with a dynamic mapping (main.go:292-329).

Spark shape: the *document -> bulk action* transformation is a pure
DataFrame op (``to_bulk_actions``) so any HTTP sink (es-hadoop,
foreachBatch + requests) can consume it; the test-mode sink is
``ParquetIndexSink``, which lays indices out as partition directories
``<root>/es_index=<class>-<date>/`` — the same day-partitioned routing,
retention-compatible (operators/retention.py works on the directory
names). Batching (1000 actions / 5 MB / 15 s, bulk_processor.go:62-63,
main.go:189) maps to the micro-batch trigger + connector batch sizing;
nothing to hand-build.

Exactly-once at write (T1), the analogue of ES overwriting a document
by ``_id`` (main.go:400,447): inside a stream's micro-batch, ``write``
commits under the key ``<query id>.<batch id>`` (``_swap.write_keyed``),
so a replayed batch replaces its own files instead of appending a
second copy. The source contract that makes this enough: a doc_id
reaches at most one batch of one stream, because doc_id =
md5(shard, sequence number) (pipeline.py) and Kinesis re-delivers a
sequence number only when a batch is replayed. ``read_index`` therefore
scans an index whose files all carry keys of one query id as is, and
drops duplicate doc_ids only in the other indices: those that a second
checkpoint, an unkeyed ``write`` outside a stream (``replay_errors``) or
a rewrite (``backfill``, ``compact_index``, ``forget``,
``update_by_query``) touched. The read resolves ``data/`` through the
engine's one resolved-table memo (``io.read_parquet``), whose file
listing is also what the read rule is decided from: a search over an
unchanged sink reuses the resolved relation, and any write, replay or
rewrite changes the listing and resolves it again.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import read_parquet
from ._swap import decode_part_name, file_key, write_keyed

__all__ = ["to_bulk_actions", "ParquetIndexSink", "DEFAULT_MAPPING", "write_poison"]

# main.go:306-320 — the dynamic mapping applied to every new index.
DEFAULT_MAPPING = {
    "mappings": {
        "_doc": {
            "dynamic": True,
            "date_detection": True,
            "numeric_detection": True,
            "properties": {"timestamp": {"type": "date", "format": "epoch_millis"}},
        }
    }
}


def _commit_key(spark: SparkSession) -> str | None:
    """``<query id>.<batch id>`` when called inside a stream's
    micro-batch (Structured Streaming sets both local properties on the
    thread that runs ``foreachBatch``, and they survive a restart from
    the same checkpoint), else None."""
    sc = spark.sparkContext
    query = sc.getLocalProperty("sql.streaming.queryId")
    batch = sc.getLocalProperty("streaming.sql.batchId")
    return f"{query}.{batch}" if query and batch is not None else None


def _single_stream(names: list[str]) -> bool:
    """Whether every file was committed by one stream query."""
    keys = {file_key(name) for name in names}
    return None not in keys and len({k.rpartition(".")[0] for k in keys}) <= 1


def _one_partition(df: DataFrame) -> bool:
    """Whether ``df`` is a ``coalesce(1)``/``repartition(1)`` of its
    input (the root of its logical plan; three py4j calls, no
    planning): the caller has already laid it out as one task."""
    plan = df._jdf.queryExecution().logical()
    return plan.nodeName() == "Repartition" and plan.numPartitions() == 1


def _commit(df: DataFrame, root: Path, part_col: str) -> None:
    """Inside a micro-batch, a keyed commit (``_swap.write_keyed``);
    outside a stream there is no key, and ``df`` is appended."""
    key = _commit_key(df.sparkSession)
    if key is not None:
        write_keyed(df, root, part_col, key)
    else:
        df.write.mode("append").partitionBy(part_col).parquet(str(root))


def write_poison(poison: DataFrame, root: Path, batch_id: int) -> None:
    """The poison bucket of both sinks (T2): ``poison`` lands under
    ``<root>/batch_id=<n>/``, committed like ``ParquetIndexSink.write``
    (a replayed batch replaces its own poison rows, and batch 0 of a
    fresh checkpoint, another query id, adds to the old batch 0).

    The batch id goes in as a STRING literal: Spark passes a string
    literal to generated code by reference, while an integer literal is
    inlined into the Java source, so every batch compiled a new class.
    The directory name and the inferred integer ``batch_id`` on read
    are the same either way."""
    _commit(poison.withColumn("batch_id", F.lit(str(batch_id))), root, "batch_id")


def to_bulk_actions(docs: DataFrame) -> DataFrame:
    """Documents -> ES bulk action rows ``(_index, _id, _source)``.

    ``_source`` is the JSON document body (to_json of all non-routing
    columns, nulls omitted — ES bulk bodies never carry nulls), ready to
    serialize as ``{"index": {"_index": .., "_id": ..}}\\n<_source>``
    pairs (bulk_index_request.go:75-140).
    """
    body_cols = [
        c for c in docs.columns if c not in ("es_index", "doc_id")
    ]
    return docs.select(
        F.col("es_index").alias("_index"),
        F.col("doc_id").alias("_id"),
        F.to_json(
            F.struct(*[F.col(f"`{c}`") for c in body_cols]),
            {"ignoreNullFields": "true"},
        ).alias("_source"),
    )


class ParquetIndexSink:
    """File-backed stand-in for the ES cluster.

    Layout::

        <root>/data/es_index=<class>-<YYYY-MM-DD>/<key>~part-*.parquet
        <root>/_mappings/<class>-<YYYY-MM-DD>.json   (P3 marker)
        <root>/_errors/batch_id=<n>/<key>~part-*.parquet   (T2 bucket)

    (``<key>~`` = ``<query id>.<batch id>~`` inside a stream; files
    written outside one keep Spark's ``part-*`` names.)

    ``write`` commits day-partitioned parquet — the partition column IS
    the index name, so a single write fans out to every index touched
    by the batch with no per-index job (at 100 TB: one write job per
    micro-batch, dynamic partition overwrite off, no shuffle — the
    partitioning is carried by the writer, not an exchange).
    """

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self._ensured: set[str] = set()  # index-existence memo, main.go:296-299

    # -- P3: dynamic index creation ------------------------------------
    def ensure_indices(self, names: list[str]) -> None:
        """Create mapping markers for first-seen indices. The ES-backed
        equivalent PUTs the index with DEFAULT_MAPPING once per index
        lifetime (main.go:292-329); here the marker file is the memo's
        durable half."""
        mdir = self.root / "_mappings"
        for name in names:
            if name in self._ensured:
                continue
            mdir.mkdir(parents=True, exist_ok=True)
            marker = mdir / f"{name}.json"
            if not marker.exists():
                marker.write_text(json.dumps(DEFAULT_MAPPING, indent=2))
            self._ensured.add(name)

    # -- K1: bulk write ------------------------------------------------
    #: per-index write fan-out CAP: each index's rows land in at most
    #: this many tasks, so files-per-index-per-batch stays bounded while
    #: a mono-index batch still writes in parallel
    WRITE_SALT = 8
    #: rows-per-file target that scales the salt DOWN for small batches
    #: (guide §6: aim for few, large files — a 30-index micro-batch of
    #: 100k rows under a fixed 8-way salt wrote ~240 files of ~400 rows
    #: each, and the read-back paid the open/footer cost again). A
    #: layout knob, not a semantic one: read_index output is identical.
    TARGET_FILE_ROWS = 32768

    def write(self, docs: DataFrame, max_rows_per_index: int | None = None) -> None:
        # cluster by the partition column first: without it every task
        # opens a file in EVERY index it touches (tasks x indices small
        # files per batch — measured ~10x file-count blowup and a
        # visibly slower write+read-back). Salted repartition (not
        # REBALANCE): AQE's rebalance coalesces a sub-advisory-size
        # batch into ONE post-AQE task that writes every index dir
        # sequentially (measured 2x slower on a 30-index batch), and
        # plain repartition(col) would serialize a mono-index batch the
        # same way. Hashing (es_index, salt(doc_id)) bounds files per
        # index while task parallelism follows the cluster's
        # defaultParallelism, independent of AQE byte thresholds.
        #
        # ``max_rows_per_index``: when the caller already knows the
        # batch's largest per-index row count (the streaming job
        # aggregates it anyway for the sent counter), the salt adapts:
        # ceil(max_rows / TARGET_FILE_ROWS) ways, capped at WRITE_SALT
        # — small batches write ONE file per index instead of 8 tiny
        # ones, production-size batches keep the full fan-out.
        #
        # A frame the caller already laid out as ONE partition, whose
        # indices each fit one file, is written as is: no shuffle, one
        # task that writes every index the frame holds in turn (the 2x
        # case above), so a caller collapses a frame only when it holds
        # ONE index. The stream runner does so for a one-index batch of
        # its cached docs.
        par = docs.sparkSession.sparkContext.defaultParallelism
        n_salt = self.WRITE_SALT
        if max_rows_per_index is not None:
            need = -(-int(max_rows_per_index) // self.TARGET_FILE_ROWS)
            n_salt = max(1, min(self.WRITE_SALT, need))
        if n_salt > 1 or not _one_partition(docs):
            salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
            docs = docs.repartition(par, F.col("es_index"), salt)
        _commit(docs, self.root / "data", "es_index")

    def write_errors(self, poison: DataFrame, batch_id: int) -> None:
        """T2: corrupt records land here with their raw bytes intact —
        replayable once the bug is fixed, unlike the reference's
        skip-on-restart which loses them (``write_poison``)."""
        write_poison(poison, self.root / "_errors", batch_id)

    # -- read-back / verification --------------------------------------
    def indices(self) -> list[str]:
        data = self.root / "data"
        if not data.exists():
            return []
        return sorted(
            p.name.split("=", 1)[1]
            for p in data.iterdir()
            if p.is_dir() and p.name.startswith("es_index=")
        )

    def read_index(self, spark: SparkSession, pattern: str | None = None) -> DataFrame:
        """Read documents back, each doc_id once (the ES
        overwrite-by-_id semantics, T1).

        Read rule, from the listing of ``data/`` that the engine's
        resolved-table memo (``io.read_parquet``) checks anyway: an
        index whose files all carry commit keys of one stream query
        holds each doc_id once (module docstring) and is scanned as is;
        every other index goes through ``dropDuplicates(["doc_id"])``
        over its own rows only, which is exact because a doc_id always
        routes to one index. While the listing is unchanged the memo
        returns the frame it resolved before, so an unchanged sink is
        read without listing it again in Spark or running the
        footer-inference job."""
        files, df = read_parquet(spark, str(self.root / "data"))
        by_index: dict[str, list[str]] = {}
        for rel, _, _ in files:
            index_dir, _, name = rel.partition("/")
            by_index.setdefault(index_dir, []).append(name)
        if pattern is not None:
            df = df.filter(F.col("es_index").rlike(pattern))
        mixed = [
            decode_part_name(index_dir)[1]
            for index_dir, names in by_index.items()
            if not _single_stream(names)
        ]
        if not mixed:
            return df
        if len(mixed) == len(by_index):
            return df.dropDuplicates(["doc_id"])
        # never NULL, so the two branches split the rows exactly
        in_mixed = F.coalesce(F.col("es_index").isin(mixed), F.lit(False))
        return df.filter(~in_mixed).unionByName(
            df.filter(in_mixed).dropDuplicates(["doc_id"])
        )

    def read_errors(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.root / "_errors"))

    def cat_indices(self, spark: SparkSession) -> DataFrame:
        """``_cat/indices``: one (index, doc_count) row per index
        partition — the ops listing the reference's retention cron
        walks (main.go:214 lists indices before deciding drops).

        Counts each doc_id once, as ES's ``docs.count`` does: the
        count runs over ``read_index``. Scale shape: over a
        single-stream index a grouped count on the PARTITION column —
        the scan prunes to directory listings + parquet footer counts,
        no data columns read; only the other indices read ``doc_id``."""
        return self.read_index(spark).groupBy(F.col("es_index").alias("index")).agg(
            F.count(F.lit(1)).alias("doc_count")
        )

    # -- P4: retention -------------------------------------------------
    def drop_expired(self, days_to_keep: int, today=None) -> list[str]:
        """Drop index partitions older than the cutoff (main.go:216-254
        semantics via operators.retention; names here carry the
        ``es_index=`` prefix, whose trailing 10 chars are still the
        date, so the suffix predicate applies unchanged)."""
        from ..operators.retention import drop_old_partitions

        dropped = drop_old_partitions(self.root / "data", days_to_keep, today)
        out = [d.split("=", 1)[1] for d in dropped]
        for name in out:
            self._ensured.discard(name)
            marker = self.root / "_mappings" / f"{name}.json"
            if marker.exists():
                marker.unlink()
        return out
