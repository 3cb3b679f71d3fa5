"""Similarity search over embedding columns (north star).

Two paths, as a real ANN system would tier them:

- ``cosine_topk``: brute-force exact top-k — the baseline and the
  verifier for the approximate path. Scale shape: queries are SMALL
  (broadcast), corpus is LARGE (streamed); cost is one pass over the
  corpus per query batch with a windowed top-k (partial top-k per
  partition under AQE, no full sort of the corpus).
- ``lsh_buckets`` / ``lsh_topk``: random-hyperplane-style LSH where the
  "hyperplanes" are coordinate-difference signs (deterministic, no RNG,
  reproducible in SQL) — candidates only within matching buckets; the
  per-bucket join replaces the full cross product.

All arithmetic is forced to DOUBLE before any fold so Spark and the
DuckDB oracle agree bit-for-bit at round(4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

__all__ = [
    "maxsim_topk",
    "cosine_similarity",
    "cosine_topk",
    "lsh_buckets",
    "lsh_topk",
    "ivf_cells",
    "ivf_topk",
    "near_dup_pairs",
    "semantic_dedup",
    "label_centroid_distance",
    "sq8_stats",
    "sq8_encode",
    "sq8_topk",
    "pq_train_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "pq_adc_from_codes",
    "kmeans_train",
    "refine_topk",
    "hard_negative_topk",
    "LSH_PAIRS",
]

# Fixed coordinate pairs for the sign-bit sketch (deterministic; chosen
# spread across the 64-dim embedding space).
LSH_PAIRS: tuple[tuple[int, int], ...] = (
    (0, 32),
    (8, 40),
    (16, 48),
    (24, 56),
    (4, 36),
    (12, 44),
    (20, 52),
    (28, 60),
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_similarity(a: Column, b: Column, ndigits: int | None = 4) -> Column:
    """Cosine similarity of two array<double> columns (sequential fold,
    same order as DuckDB's list_cosine_similarity). A zero vector has
    no direction: its similarity is NULL, not an ANSI divide error."""
    sim = F.try_divide(_dot(a, b), _norm(a) * _norm(b))
    return F.round(sim, ndigits) if ndigits is not None else sim


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, vec_id, sim, rank).

    Queries broadcast against the corpus; self-matches excluded; ties
    broken by vec_id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        c.join(broadcast(q), F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _bucket_expr(v, pairs: tuple[tuple[int, int], ...]):
    """Sign-bit bucket as a narrow column expression over an
    array<double> column — computable inline on any scan, so callers
    never need a self-join to attach buckets."""
    bits = [
        F.when(
            F.element_at(v, i + 1) > F.element_at(v, j + 1), F.lit("1")
        ).otherwise(F.lit("0"))
        for i, j in pairs
    ]
    return F.concat(*bits)


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: tuple[tuple[int, int], ...] = LSH_PAIRS,
) -> DataFrame:
    """Sign-bit bucket per vector: bit i = (v[pi] > v[pj]). 8 bits ->
    256 buckets; deterministic, RNG-free, SQL-reproducible."""
    v = _as_double(F.col(vec_col))
    return df.select(F.col(id_col), _bucket_expr(v, pairs).alias("bucket"))


def ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF cell assignment: (id, cell_id, cell_rank<=nprobe) by cosine
    to the (broadcast) centroid set; ties broken by centroid id.

    The scale path of an IVF index: centroids are tiny (broadcast), the
    corpus streams through one narrow pass; the downstream candidate
    join is per-cell, so search cost divides by #cells. Centroids come
    from any fixed snapshot or from ``kmeans_train`` (distributed
    spherical Lloyd's over the same cosine assignment).
    """
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
    probed = _probe_cells(F.col("__v"), nprobe)
    return (
        v.crossJoin(broadcast(_centroid_row(centroids, id_col, vec_col)))
        .select(F.col(id_col), F.posexplode(probed))
        .select(
            id_col,
            F.col("col.cell_id").alias("cell_id"),
            (F.col("pos") + 1).alias("cell_rank"),
        )
    )


def _centroid_row(centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Centroids collapsed to ONE row holding an array of (cell_id,
    vector) structs — broadcast under every scan that needs cell
    assignment, so assignment is a narrow expression, not a join."""
    return centroids.select(
        F.col(id_col).alias("cell_id"), _as_double(F.col(vec_col)).alias("cv")
    ).agg(
        F.array_sort(F.collect_list(F.struct("cell_id", "cv"))).alias("__cens")
    )


def _probe_cells(v, nprobe: int):
    """Top-``nprobe`` cells for vector ``v`` against the broadcast
    ``__cens`` array: per-row array compute + comparator sort — no
    shuffle, no window. Ordering matches the previous windowed
    implementation and the SQL oracle exactly: round-4 cosine desc,
    cell_id asc."""
    sims = F.transform(
        F.col("__cens"),
        lambda c: F.struct(
            cosine_similarity(v, c["cv"]).alias("sim"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    cmp = lambda l, r: (  # noqa: E731
        F.when(l["sim"] > r["sim"], F.lit(-1))
        .when(l["sim"] < r["sim"], F.lit(1))
        .when(l["cell_id"] < r["cell_id"], F.lit(-1))
        .when(l["cell_id"] > r["cell_id"], F.lit(1))
        .otherwise(F.lit(0))
    )
    return F.slice(F.array_sort(sims, cmp), 1, nprobe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k via inverted-file probing: corpus vectors live
    in their nearest cell; each query probes its ``nprobe`` nearest
    cells and ranks only those candidates. (query_id, vec_id, sim, rank)."""
    cen_row = _centroid_row(centroids, id_col, vec_col)
    q_cells = ivf_cells(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "cell_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    # cell assignment rides along the corpus scan (narrow expression
    # against the broadcast centroid row) — the corpus is read ONCE and
    # never self-joined
    c = (
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
        .crossJoin(broadcast(cen_row))
        .select(
            F.col(id_col),
            F.col("__cv"),
            F.element_at(_probe_cells(F.col("__cv"), 1), 1)["cell_id"].alias(
                "cell_id"
            ),
        )
    )
    # each corpus vector lives in exactly one cell (nprobe=1 above) and
    # the query's probed cells are distinct, so (query_id, vec_id)
    # pairs are already unique — no dedup shuffle needed
    cand = (
        c.join(broadcast(q_cells), "cell_id")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, "__cv")
    )
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.join(broadcast(q), "query_id")
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: tuple[tuple[int, int], ...] = LSH_PAIRS,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.

    The bucket equi-join is the scale lever: per-bucket candidate sets
    replace the all-pairs product (recall traded for a ~#buckets-fold
    cost cut; verify with cosine_topk on a sample).
    """
    qb = lsh_buckets(queries, id_col, vec_col, pairs).select(
        F.col(id_col).alias("query_id"), "bucket"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    # bucket rides the corpus scan (narrow expression) — no self-join
    c = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__cv"),
        _bucket_expr(_as_double(F.col(vec_col)), pairs).alias("bucket"),
    )
    cand = c.join(broadcast(qb), "bucket").filter(F.col("query_id") != F.col(id_col))
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.join(broadcast(q), "query_id")
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: tuple[tuple[int, int], ...] = LSH_PAIRS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) for
    same-LSH-bucket pairs with cosine >= threshold, id_a < id_b.

    The dedup counterpart of ``lsh_topk``: the all-pairs O(N^2) cosine
    is cut to per-bucket self-joins (the only shuffle is on the bucket
    key, and what shuffles is (id, vector), never pairs). True near-dups
    agree on most sign bits, so recall is high exactly where it matters
    — at similarity near 1 a pair disagrees on few coordinate-order
    comparisons. Multi-band variants (re-run with a second ``pairs``
    set, union) buy more recall at 2x cost; thresholds in production
    dedup sit at 0.9+ where single-band recall is already near-perfect.
    """
    # bucket rides the vector scan (narrow expression) — the previous
    # df-join-buckets shape was a needless self-join on id
    v = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
        _bucket_expr(_as_double(F.col(vec_col)), pairs).alias("bucket"),
    )
    left = v.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "bucket"
    )
    right = v.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "bucket"
    )
    sim = cosine_similarity(F.col("__va"), F.col("__vb"))
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Quantized ANN: int8 scalar quantization (SQL-reproducible) and true
# product quantization with sampled-k-means codebooks (the 100 TB
# memory-budget path: 64 dims x 4 bytes -> 8 code bytes per vector)
# ---------------------------------------------------------------------------


def sq8_stats(df: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension (min, scale) for int8 scalar quantization, as one
    row with two ``array<double>`` columns — broadcast-sized regardless
    of corpus size. The stats pass is a 64-key aggregation with
    map-side combine: one corpus scan."""
    v = _as_double(F.col(vec_col))
    ex = df.select(F.posexplode(v).alias("pos", "val"))
    per_dim = ex.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    packed = F.array_sort(F.collect_list(F.struct("pos", "mn", "mx")))
    return per_dim.select(packed.alias("p")).select(
        F.transform("p", lambda s: s.mn).alias("mins"),
        F.transform("p", lambda s: (s.mx - s.mn) / 255.0).alias("scales"),
    )


def _sq8_codes(v, mins, scales, dim: int):
    # floor(x + 0.5) everywhere instead of round(): identical halfway
    # behavior in Spark and DuckDB
    idx = F.sequence(F.lit(1), F.lit(dim))
    return F.transform(
        idx,
        lambda i: F.when(F.element_at(scales, i) == 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.element_at(v, i) - F.element_at(mins, i))
                        / F.element_at(scales, i)
                        + F.lit(0.5)
                    ),
                ),
            )
        ),
    )


def sq8_encode(
    df: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Encode each vector into 64 int8 codes (carried as longs) against
    the broadcast stats row: code_j = clamp(floor((v_j - min_j)/scale_j
    + 0.5), 0, 255)."""
    v = _as_double(F.col(vec_col))
    return df.crossJoin(broadcast(stats)).select(
        F.col(id_col),
        _sq8_codes(v, F.col("mins"), F.col("scales"), dim).alias("codes"),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric quantized search: full-precision queries scored
    against the *dequantized* int8 corpus (the SQ analog of ADC).

    Same physical shape as cosine_topk — broadcast queries, one corpus
    pass, per-query windowed top-k — but the corpus side would be read
    from 8-bit codes (a 4x scan-bytes reduction at scale; here codes
    are computed inline from the same parquet)."""
    # the single-row stats frame is referenced twice (encode +
    # dequantize); materialize it once instead of re-running the
    # corpus min/max aggregation per reference
    stats = sq8_stats(corpus, vec_col, dim).localCheckpoint()
    enc = sq8_encode(corpus, stats, id_col, vec_col, dim)
    idx = F.sequence(F.lit(1), F.lit(dim))
    dq = F.transform(
        idx,
        lambda i: F.element_at(F.col("mins"), i)
        + F.element_at(F.col("codes"), i) * F.element_at(F.col("scales"), i),
    )
    c = enc.crossJoin(broadcast(stats)).select(id_col, dq.alias("__cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        c.join(broadcast(q), F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage retrieval: quantized coarse scan -> exact re-rank (the
    standard large-scale ANN serving shape, e.g. IVFADC + refine).

    Stage 1 scores the whole corpus from int8 codes (``sq8_topk`` with
    ``k=shortlist``) — at scale this scan reads the 4x-smaller code
    table, not the float vectors. Stage 2 touches full-precision
    vectors ONLY for the ``|queries| x shortlist`` candidate ids: the
    shortlist is broadcast back against the corpus scan (no shuffle of
    vectors), re-scored with exact cosine, and re-ranked to top-k.

    Output: (query_id, vec_id, sim, rank) with EXACT sims — quantization
    error affects recall (which ids make the shortlist) but never the
    reported scores.
    """
    coarse = sq8_topk(
        corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col, dim=dim
    )
    cand_ids = coarse.select("query_id", F.col(id_col))
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    cand = c.join(broadcast(cand_ids), id_col)
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.join(broadcast(q), "query_id")
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_centroids: int = 16,
    sample_rows: int = 512,
    iters: int = 10,
):
    """Train product-quantization codebooks (Jégou et al., TPAMI 2011)
    by Lloyd's k-means per subspace over a deterministic sample.

    Sampling-then-driver-side-training is the production pattern: the
    sample is tiny (codebooks for m=8, k=16 need ~a few hundred rows),
    the corpus is never collected. Deterministic: sample = lowest ids,
    init = first k distinct sample points, fixed iteration count.
    Per-iteration centroids are rounded to 9 decimals so the values
    are summation-order independent — which is what lets the DuckDB
    oracle replay the whole training loop and hash-check PQ search
    end to end (plans/quantized.py).

    Returns a numpy array of shape (m, n_centroids, dim // m).
    """
    import numpy as np

    sample = (
        df.orderBy(id_col)
        .limit(sample_rows)
        .select(_as_double(F.col(vec_col)).alias("v"))
        .toPandas()
    )
    x = np.array(sample["v"].tolist(), dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, n_centroids, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cents = xs[:n_centroids].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cents[c] = np.round(xs[mask].mean(axis=0), 9)
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector -> m code bytes (nearest centroid per subspace), via an
    Arrow-batched mapInPandas (numpy argmin over the broadcast
    codebooks — Python is justified here: the argmin-over-centroids
    kernel has no builtin equivalent)."""
    import numpy as np

    books = codebooks  # captured; small (m * k * sub doubles)
    m, _, sub = books.shape

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        _enc, f"{id_col} long, codes array<long>"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: encode the corpus inline, then score
    via :func:`pq_adc_from_codes`. See that function for the scale
    shape; at production scale the codes come from a PERSISTED table
    (sinks/pqindex.py) instead of inline encoding."""
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    return pq_adc_from_codes(enc, queries, codebooks, k, id_col, vec_col)


def pq_adc_from_codes(
    enc: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over a PRE-ENCODED code table
    ``(id, codes array<long>)``: per query, an (m x n_centroids)
    dot-product table against the codebooks; each corpus vector scores
    as a sum of m table lookups on its codes — never touching the full
    corpus vectors. Output: (query_id, vec_id, score, rank), score =
    approximate dot product (descending = nearest), rounded to 4
    before ranking (cross-engine rank stability).

    Scale shape: the code table (8 bytes/vector) streams through
    mapInPandas; queries + codebooks broadcast via closure; final top-k
    is the same per-query window as the exact path.
    """
    import numpy as np

    books = codebooks
    m, n_cent, sub = books.shape
    qpd = (
        queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("v"))
        .toPandas()
    )
    qids = qpd["qid"].to_numpy()
    qvs = np.array(qpd["v"].tolist(), dtype=np.float64)
    # tables[q][j][c] = <query_q subvector j, centroid c>
    tables = np.einsum("qjd,jcd->qjc", qvs.reshape(len(qids), m, sub), books)

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            n = len(pdf)
            # scores[q, n] = sum_j tables[q, j, codes[n, j]]
            out_frames = []
            scores = np.zeros((len(qids), n))
            for j in range(m):
                scores += tables[:, j, :][:, codes[:, j]]
            for qi, qid in enumerate(qids):
                out_frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            id_col: pdf[id_col].to_numpy(),
                            "score": scores[qi],
                        }
                    )
                )
            yield pd.concat(out_frames, ignore_index=True)

    scored = enc.mapInPandas(_score, f"query_id long, {id_col} long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.filter(F.col("query_id") != F.col(id_col))
        .withColumn("score", F.round("score", 4))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over embeddings: of any
    near-duplicate pair (cosine >= threshold within an LSH bucket, see
    near_dup_pairs), the higher id is dropped. Returns every row as
    `(id, kept BOOLEAN)`.

    The dominance rule is deliberately non-recursive (v is dropped if
    ANY earlier u is near it, whether or not u survives) — unlike the
    greedy sequential SemDeDup sweep it is order-free and fully
    parallel; it drops a superset of what the greedy sweep drops, i.e.
    it only errs toward dropping, the safe direction for training-data
    dedup. Scale shape: pairs come from
    per-bucket joins (no all-pairs), the dropped-id set is small, and
    the final membership test is one broadcast anti-join.
    """
    pairs = near_dup_pairs(df, threshold=threshold, id_col=id_col, vec_col=vec_col)
    dropped = pairs.select(F.col("id_b").alias("__dropped")).distinct()
    return (
        df.select(id_col)
        .join(
            broadcast(dropped),
            F.col(id_col) == F.col("__dropped"),
            "left",
        )
        .select(F.col(id_col), F.col("__dropped").isNull().alias("kept"))
    )


def label_centroid_distance(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Distance of each vector to its label's centroid — the outlier /
    mislabel score used for embedding-space data curation (prune points
    far from their domain centroid).

    Scale shape: the centroid aggregation posexplodes to (label, pos,
    x) but groupBy(label, pos) gets map-side partial aggregation, so
    the shuffle carries one partial sum per (input partition, label,
    dim) — not per element. The centroid table (labels x dims) then
    collapses to one array row per label and broadcasts; the distance
    itself is a narrow zip_with fold over each vector. Centroid
    components round to 9 decimals before the distance so both engines
    fold identical inputs.
    """
    v = df.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("__pos", "__x"),
    )
    cent = (
        v.groupBy(label_col, "__pos")
        .agg(F.round(F.avg("__x"), 9).alias("__c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__c"))),
                lambda s: s["__c"],
            ).alias("__cent")
        )
    )
    sq = F.zip_with(
        _as_double(F.col(vec_col)),
        F.col("__cent"),
        lambda a, b: (a - b) * (a - b),
    )
    dist = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, y: acc + y))
    return (
        df.join(broadcast(cent), label_col)
        .select(
            F.col(id_col),
            F.col(label_col),
            F.round(dist, 6).alias("dist_to_centroid"),
        )
    )


def kmeans_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Distributed spherical Lloyd's iterations: train the IVF centroid
    set on the cluster instead of accepting a fixed snapshot
    (``ivf_cells``'s docstring marks training as out of scope — this
    closes it). Returns ``(cell_id INT, centroid ARRAY<DOUBLE>)``.

    - **init**: the ``k`` vectors with the smallest ids — deterministic
      and engine-independent (no RNG; at scale swap in a hash-sampled
      seed set, the loop is identical);
    - **assign** (per iteration): cosine argmax against the broadcast
      centroid row — the same narrow ``_probe_cells`` expression the
      IVF index uses at query time, so training optimizes exactly the
      assignment function that serves;
    - **update**: per-(cell, dim) mean via one map-side-combined
      aggregation over exploded (cell, pos, val) triples — the shuffle
      carries k * dim partials, not vectors; a cell that loses all
      members keeps its previous centroid. Means are rounded to 9
      decimals: distributed float summation is addition-order
      dependent (~1e-13 relative wobble), and the rounding pins every
      iteration's centroids to engine-independent values — which is
      what lets the DuckDB oracle replay the whole training loop and
      hash-check the result (plans/quantized.py);
    - ``localCheckpoint`` per round truncates the iterative lineage
      (same trap as connected_components).

    The driver only ever holds k centroids (k * dim doubles); the
    corpus is scanned once per iteration. Matches a numpy reference
    implementation exactly in tests (deterministic tiebreaks
    throughout)."""
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
    w = Window.orderBy(id_col)
    centroids = (
        v.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select((F.col("__rn") - 1).cast("int").alias("cell_id"), F.col("__v").alias("centroid"))
        .localCheckpoint()
    )
    for _ in range(iters):
        cen_row = centroids.select(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell_id"), F.col("centroid").alias("cv")))
            ).alias("__cens")
        )
        assigned = (
            v.crossJoin(broadcast(cen_row))
            .select(
                "__v",
                F.element_at(_probe_cells(F.col("__v"), 1), 1)["cell_id"].alias(
                    "cell_id"
                ),
            )
        )
        means = (
            assigned.select("cell_id", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.round(F.avg("val"), 9).alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
        centroids = (
            centroids.alias("old")
            .join(means.alias("new"), "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint()
        )
    return centroids


def rp_signs(out_dim: int, in_dim: int, seed: str = "rp0") -> list[list[float]]:
    """Deterministic +-1 projection matrix (Achlioptas-style sparse JL
    without the RNG): sign(i, j) from one md5 parity — reproducible on
    any executor, any engine, any run, and embeddable as a literal in
    the SQL oracle."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1.0
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    signs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson-Lindenstrauss +-1 projection to ``len(signs)`` dims: the
    memory-bandwidth lever for embedding search at scale (a 64->16
    projection cuts the corpus scan 4x while JL keeps relative
    distances within ~1/sqrt(out_dim)); the projected space feeds the
    same cosine-top-k machinery.

    Each output coordinate is one zip_with multiply + an ascending-j
    fold against a LITERAL sign row — a narrow codegen expression (no
    shuffle, no UDF), deterministic down to the bit (the same fold
    order as the SQL oracle's ordered list_sum). Rows with a wrong
    input dimension produce NULL coordinates (zip_with length
    mismatch) rather than silent truncation."""
    v = _as_double(F.col(vec_col))
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(v, F.lit(row), lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for row in signs
        ]
    )
    return df.select(F.col(id_col), proj.alias(out_col))


def kcenter_greedy(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 10_000,
) -> DataFrame:
    """Greedy k-center coreset selection: seed with the smallest id,
    then repeatedly add the point FARTHEST (max-min distance) from
    the chosen set — the classic diversity/coverage coreset used to
    downsample embedding spaces before expensive training.

    Determinism across engines: every coordinate is quantized to an
    integer grid (``round(x * quant_scale)``) FIRST, so squared L2
    distances are exact integer sums — the argmax never depends on
    float summation order. Ties break on the smaller id.

    Returns ``(sel_round, vec_id, d2q)``: selection order, chosen id,
    and the exact quantized squared distance to the previously chosen
    set (0 for the seed).

    Scale shape: each of the k rounds is ONE narrow scan — the chosen
    centers ride along as k broadcast literal arrays (k rows to the
    driver total, like an ANN client holding its result set), the
    min-distance is a ``least()`` over per-center integer folds, and
    the argmax is a TakeOrdered(1) reduction. No shuffle ever touches
    the corpus; cost is O(k) scans, the standard trade for exact
    greedy k-center (k is small — a coreset seed set, not a sample)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    qv = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * quant_scale).cast("long")
    )
    staged = df.select(F.col(id_col).alias("__id"), qv.alias("__q"))

    seed = staged.orderBy("__id").limit(1).collect()[0]
    chosen: list[tuple[int, list[int], int]] = [(seed["__id"], list(seed["__q"]), 0)]

    def d2_to(center: list[int]):
        lit = F.array(*[F.lit(int(c)) for c in center])
        return F.aggregate(
            F.zip_with(F.col("__q"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    for _ in range(1, k):
        min_d2 = F.least(*[d2_to(c) for _, c, _ in chosen]) if len(chosen) > 1 else d2_to(chosen[0][1])
        cand = (
            staged.withColumn("__d2", min_d2)
            .orderBy(F.desc("__d2"), "__id")
            .limit(1)
            .collect()[0]
        )
        chosen.append((cand["__id"], list(cand["__q"]), cand["__d2"]))

    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, cid, d2) for i, (cid, _, d2) in enumerate(chosen)],
        "sel_round long, vec_id long, d2q long",
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_tokens: int = 8,
    dim: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval: treat each
    ``n_tokens * dim`` embedding as ``n_tokens`` per-token vectors and
    score ``sum_t max_s dot(q_t, d_s)`` — every query token picks its
    best-matching document token (MaxSim), and the per-token maxima
    sum into the document score. Late interaction preserves token-level
    signal that a single pooled dot product averages away.

    Returns ``(query_id, vec_id, score, rank)``, top-``k`` per query,
    ties broken by ``vec_id``.

    Determinism contract: each token dot is the ascending-position
    fold (`_dot`), the per-token max is order-free, and the token sum
    adds in ascending query-token order — the expression a SQL oracle
    replays term-for-term; the score rounds once (4dp) at the end.

    Scale shape: queries broadcast; the corpus streams through one
    narrow scoring projection (the 64 slice-dots fuse into whole-stage
    codegen — no Python, no shuffle of vectors); only the rank window
    exchanges, carrying (query_id, vec_id, score) triples. Token
    slices are computed once per side as projection attributes."""
    def _tokens(col: Column) -> Column:
        v = _as_double(col)
        return F.array(
            *[F.slice(v, t * dim + 1, dim) for t in range(n_tokens)]
        )

    q = queries.select(
        F.col(id_col).alias("query_id"), _tokens(F.col(vec_col)).alias("__qt")
    )
    c = corpus.select(F.col(id_col), _tokens(F.col(vec_col)).alias("__dt"))
    per_token = [
        F.greatest(
            *[
                _dot(
                    F.element_at(F.col("__qt"), t + 1),
                    F.element_at(F.col("__dt"), s + 1),
                )
                for s in range(n_tokens)
            ]
        )
        for t in range(n_tokens)
    ]
    score = per_token[0]
    for g in per_token[1:]:
        score = score + g
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        c.join(broadcast(q), F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, F.round(score, 4).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    every query vector, the top-k most-similar corpus vectors whose
    label DIFFERS from the query's — the near-misses a contrastive
    loss learns the most from (easy negatives are already far away;
    in-batch negatives are random).

    Returns (query_id, vec_id, sim, rank). Same plan shape as
    ``cosine_topk`` — the (small) query set broadcasts against the
    streamed corpus, the label-mismatch predicate rides the join
    condition so same-class candidates are discarded BEFORE the
    similarity evaluates, and the per-query window keeps k rows. At
    mining scale (millions of queries) the standard composition is
    ``ivf_cells`` first (cell-local candidates), then this ranking
    over the per-cell join — the corpus is never all-pairs joined.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(label_col).alias("__cl"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    sim = cosine_similarity(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        c.join(
            broadcast(q),
            (F.col("query_id") != F.col(id_col))
            & (F.col("__ql") != F.col("__cl")),
        )
        .select("query_id", id_col, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
