"""Persisted product-quantization index: the 100 TB memory-budget
serving path made durable.

``similarity.pq_adc_topk`` trains + encodes inline per run; at serving
scale you pay those once: train the codebooks, encode every vector to
m code bytes, persist BOTH, and every query then scans the code table
only — 8 bytes/vector instead of 256 (64 float32 dims), a 32x scan
reduction that compounds with partitioning. The float vectors are
needed never (ADC) or only for a shortlist re-rank
(``similarity.refine_topk`` composition).

Codebooks are persisted NEXT TO the codes for the same reason
annindex pins centroids beside its cells: scoring with codebooks that
differ from the ones that encoded the table silently destroys recall;
storing them together makes the mismatch impossible.

Layout:

    root/codebooks/   (j INT, c INT, cent ARRAY<DOUBLE>)
    root/codes/       (id LONG, codes ARRAY<LONG>)

Both directories are written via the shared crash-safe swap protocol
(_swap.py): a rebuild that dies mid-write leaves the previous index
servable. Incremental growth appends new vectors' codes (encode with
the STORED codebooks — never retrain on append, or old codes go
stale); periodic full rebuilds refresh the codebooks, exactly the
IVF-index maintenance discipline.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._swap import recover_and_sweep, write_swapped

__all__ = [
    "build_pq_index",
    "append_to_pq_index",
    "query_pq_index",
    "read_codebooks",
]


def build_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    root: str | Path,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_centroids: int = 16,
    sample_rows: int = 256,
    iters: int = 10,
) -> int:
    """Train deterministic codebooks on ``corpus``, encode every
    vector, persist codebooks + codes. Returns rows encoded."""
    from ..operators.similarity import pq_encode, pq_train_codebooks

    root = Path(root)
    root.mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root)
    books = pq_train_codebooks(
        corpus, vec_col, id_col, m=m, n_centroids=n_centroids,
        sample_rows=sample_rows, iters=iters,
    )
    book_rows = [
        (j, c, [float(x) for x in books[j][c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    write_swapped(
        spark.createDataFrame(
            book_rows, "j int, c int, cent array<double>"
        ).coalesce(1),
        root,
        "codebooks",
    )
    enc = pq_encode(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("id"), "codes"
    )
    codes = write_swapped(enc, root, "codes")
    return int(spark.read.parquet(str(codes)).count())


def read_codebooks(spark: SparkSession, root: str | Path):
    """Stored codebooks as the (m, n_centroids, sub) numpy array the
    scoring path expects."""
    import numpy as np

    rows = (
        spark.read.parquet(str(Path(root) / "codebooks"))
        .orderBy("j", "c")
        .collect()
    )
    m = max(r["j"] for r in rows) + 1
    nc = max(r["c"] for r in rows) + 1
    sub = len(rows[0]["cent"])
    books = np.empty((m, nc, sub))
    for r in rows:
        books[r["j"]][r["c"]] = r["cent"]
    return books


def append_to_pq_index(
    spark: SparkSession,
    batch: DataFrame,
    root: str | Path,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Encode NEW vectors with the STORED codebooks and append their
    codes (replay-safe: already-indexed ids are skipped, first writer
    wins — the textindex discipline). Codebooks are never retrained
    here; that is a rebuild."""
    from ..operators.similarity import pq_encode

    root = Path(root)
    recover_and_sweep(root)
    books = read_codebooks(spark, root)
    stored = spark.read.parquet(str(root / "codes")).select("id")
    new = batch.join(
        stored.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    enc = pq_encode(new, books, id_col, vec_col).select(
        F.col(id_col).alias("id"), "codes"
    )
    n = enc.count()
    if n:
        enc.write.mode("append").parquet(str(root / "codes"))
    return int(n)


def query_pq_index(
    spark: SparkSession,
    root: str | Path,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k served from the persisted code table: the scan reads
    8 code bytes per corpus vector; queries and the stored codebooks
    broadcast. Identical results to the inline ``pq_adc_topk`` over
    the same corpus (pinned by the ``pq_index_topk`` oracle)."""
    from ..operators.similarity import pq_adc_from_codes

    root = Path(root)
    books = read_codebooks(spark, root)
    enc = spark.read.parquet(str(root / "codes")).select(
        F.col("id").alias(id_col), "codes"
    )
    return pq_adc_from_codes(enc, queries, books, k, id_col, vec_col)
