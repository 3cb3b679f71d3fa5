"""Perceptual-hash near-duplicate detection for media payloads: the
image-dedup analogue of SimHash text dedup (northstar.py), over the
multimodal binary-column plumbing (operators/multimodal.py).

A corpus pipeline dedups images/frames by perceptual hash (aHash /
pHash / dHash), not byte equality — re-encoded or slightly-edited
copies share a signature within a few bits. Here the "pixels" are the
deterministic resize stub's bytes (no decoders in this container); the
signature math (mean-threshold bits) and the banded Hamming search are
the real algorithms, integer-exact and replayed by the DuckDB oracle.

Fixture synthesis: each 4-document group shares one leader payload
(36 bytes of the leader's text) with a single in-place character
mutation per variant — near-duplicates by construction, with exact
ground truth the oracle reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .declared import q
from .northstar import _tp

_N_BYTES = 36  # 6x6 stub "image"
_N_BANDS = 3  # 12-bit bands; pigeonhole covers Hamming <= 2
_MAX_DIST = 2

_AHASH_ORACLE = f"""
WITH base AS (
  SELECT d.doc_id, substring(l.text, 1, {_N_BYTES}) AS p0,
         CAST(d.doc_id % 4 AS INTEGER) AS v
  FROM documents d
  JOIN documents l ON l.doc_id = d.doc_id - (d.doc_id % 4)),
pay AS (
  SELECT doc_id,
         CASE WHEN v = 0 THEN p0
              ELSE substring(p0, 1, 8 + 7 * v - 1)
                   || chr(97 + ((ord(substring(p0, 8 + 7 * v, 1)) + v) % 26))
                   || substring(p0, 8 + 7 * v + 1, {_N_BYTES})
         END AS p
  FROM base),
bytes AS (
  SELECT doc_id,
         list_transform(range(1, {_N_BYTES} + 1),
                        i -> ord(substring(p, i, 1))) AS bs
  FROM pay),
tot AS (SELECT doc_id, bs, CAST(list_sum(bs) AS BIGINT) AS total FROM bytes),
sig AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, {_N_BYTES} + 1),
              i -> CASE WHEN bs[i] * {_N_BYTES} > total
                        THEN 1 << (i - 1) ELSE 0 END)) AS BIGINT) AS ahash
  FROM tot),
band AS (
  SELECT s.doc_id, s.ahash, b.band_no,
         (s.ahash >> (b.band_no * 12)) & 4095 AS band_bits
  FROM sig s, LATERAL (SELECT unnest(range(0, {_N_BANDS})) AS band_no) b),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.ahash AS ha, b.ahash AS hb
  FROM band a
  JOIN band b ON a.band_no = b.band_no AND a.band_bits = b.band_bits
             AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_MAX_DIST}
"""


def _synth_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, ptxt): 4-doc groups sharing a leader payload with one
    in-place ASCII letter mutation per variant (identical SQL in the
    oracle). The self-join resolves each doc's group leader — at scale
    this is the 'fetch the original asset' lookup, an equi-join on the
    group key."""
    leaders = docs.select(
        F.col("doc_id").alias("lead_id"),
        F.substring("text", 1, _N_BYTES).alias("p0"),
    )
    base = docs.select(
        "doc_id",
        (F.col("doc_id") - F.col("doc_id") % 4).alias("lead_id"),
        (F.col("doc_id") % 4).cast("int").alias("v"),
    ).join(leaders, "lead_id")
    pos = F.lit(8) + F.lit(7) * F.col("v")
    mutated = F.concat(
        F.substring("p0", F.lit(1), pos - 1),
        F.char(
            F.lit(97)
            + (F.ascii(F.substring("p0", pos, F.lit(1))) + F.col("v")) % 26
        ),
        F.substring("p0", pos + 1, F.lit(_N_BYTES)),
    )
    return base.select(
        "doc_id",
        F.when(F.col("v") == 0, F.col("p0")).otherwise(mutated).alias("ptxt"),
    )


@q("media_ahash_neardup", _AHASH_ORACLE)
def _media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over media payloads: attach the
    binary column, compute the 36-bit average-hash signature via the
    Arrow-batched mapInPandas stage (operators/multimodal.average_hash),
    then banded Hamming-distance pair search
    (multimodal.hamming_near_pairs, Hamming <= 2 across 3 x 12-bit
    bands — pigeonhole-complete, no cross join).

    Scale shape: signatures are 8 bytes/image regardless of payload
    size; payload bytes never shuffle (the hash is computed where the
    payload lives, only (band_key, id, hash) triples move) — the same
    posture as MinHash-LSH text dedup."""
    from ..operators import multimodal as M

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    staged = M.attach_binary(payloads, "ptxt")
    hashed = M.average_hash(staged)
    return M.hamming_near_pairs(
        hashed,
        "doc_id",
        "media_ahash",
        n_bits=_N_BYTES,
        n_bands=_N_BANDS,
        max_distance=_MAX_DIST,
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    )


# ---------------------------------------------------------------------------
# Graph analytics over the near-dup pair graph (operators/graph.py):
# per-node triangle counts + local clustering coefficient. Dense,
# triangle-rich clusters are "one duplicated asset"; sparse chains are
# hash drift — the cluster-quality grading step after candidate
# generation. The oracle recomputes the pair graph (the ahash oracle
# verbatim as a CTE) and counts triangles with the naive canonical
# 3-way join — the degree-ordered wedge plan must produce identical
# counts.
# ---------------------------------------------------------------------------

_TRI_ORACLE = f"""
WITH pairs AS ({_AHASH_ORACLE}),
tri AS (
  SELECT a.id_a AS x, a.id_b AS y, b.id_b AS z
  FROM pairs a
  JOIN pairs b ON b.id_a = a.id_b
  JOIN pairs c ON c.id_a = a.id_a AND c.id_b = b.id_b),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
tcount AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY node)
SELECT d.node, d.deg,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       round((2.0 * coalesce(t.n_triangles, 0))
             / (d.deg * (d.deg - 1)), 6) AS clustering
FROM deg d LEFT JOIN tcount t ON d.node = t.node
WHERE d.deg >= 2
"""


@q("neardup_triangle_stats", _TRI_ORACLE)
def _neardup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-density grading of the perceptual near-dup graph:
    degree-ordered wedge triangle counting (operators/graph.py — the
    hub-safe O(|E|^1.5) formulation; shuffles carry id pairs only) +
    local clustering coefficients, value-checked against the naive
    3-way-join oracle over the identical pair graph."""
    from ..operators import multimodal as M
    from ..operators.graph import canonical_edges, clustering_coefficients

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    staged = M.attach_binary(payloads, "ptxt")
    hashed = M.average_hash(staged)
    pairs = M.hamming_near_pairs(
        hashed,
        "doc_id",
        "media_ahash",
        n_bits=_N_BYTES,
        n_bands=_N_BANDS,
        max_distance=_MAX_DIST,
    )
    edges = canonical_edges(pairs, "id_a", "id_b")
    return clustering_coefficients(edges)


# Fixed-point PageRank oracle: the SAME power iterations the Spark
# operator runs, unrolled as chained CTEs over the pair graph — every
# quantity is a scaled BIGINT and every division floors, so both
# engines produce identical longs (no float-addition-order caveat).
_PR_SCALE = 10**12
_PR_DAMP = 85
_PR_ITER = 6
_PR_BASE = (_PR_SCALE * (100 - _PR_DAMP)) // 100


def _pagerank_oracle() -> str:
    parts = [
        f"WITH pairs AS ({_AHASH_ORACLE}),",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs),",
        "nodes AS (SELECT DISTINCT src AS node FROM edges),",
        "deg AS (SELECT src AS node, count(*) AS out_deg"
        " FROM edges GROUP BY src),",
        f"r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank_fp"
        " FROM nodes),",
    ]
    for i in range(1, _PR_ITER + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            " SUM(r.rank_fp // d.out_deg) AS in_fp"
            f" FROM edges e JOIN r{i - 1} r ON e.src = r.node"
            " JOIN deg d ON e.src = d.node GROUP BY e.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST({_PR_BASE} + ({_PR_DAMP} * coalesce(c.in_fp, 0)) // 100"
            " AS BIGINT) AS rank_fp"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, rank_fp,"
        f" round(rank_fp / {_PR_SCALE}.0, 6) AS rank"
        f" FROM r{_PR_ITER} ORDER BY node"
    )
    return "\n".join(parts)


@q("neardup_pagerank", _pagerank_oracle())
def _neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph: the
    canonical-representative selection signal for dedup clusters
    (highest-rank member = most-connected variant). Runs
    graph.pagerank_fixed — integer fixed-point power iteration (6
    undirected rounds), bit-exact under any partitioning, so the
    DuckDB oracle replays the identical iterations (unrolled CTEs) and
    hash-matches the scaled-BIGINT ranks; float ranks would drift
    ~1e-9 from run to run with the addition order."""
    from ..operators import multimodal as M
    from ..operators.graph import canonical_edges, pagerank_fixed

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    hashed = M.average_hash(M.attach_binary(payloads, "ptxt"))
    pairs = M.hamming_near_pairs(
        hashed, "doc_id", "media_ahash",
        n_bits=_N_BYTES, n_bands=_N_BANDS, max_distance=_MAX_DIST,
    )
    edges = canonical_edges(pairs, "id_a", "id_b")
    ranks = pagerank_fixed(
        edges, n_iter=_PR_ITER, damping_pct=_PR_DAMP, scale=_PR_SCALE
    )
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp") / float(_PR_SCALE), 6).alias("rank"),
    ).orderBy("node")


_BFS_HOPS = 4


def _bfs_oracle() -> str:
    parts = [
        f"WITH pairs AS ({_AHASH_ORACLE}),",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs),",
        "d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist"
        " FROM edges WHERE src % 100 = 0),",
    ]
    for i in range(1, _BFS_HOPS + 1):
        parts.append(
            f"d{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1}"
            " UNION ALL "
            f"SELECT e.dst AS node, r.dist + 1 AS dist"
            f" FROM edges e JOIN d{i - 1} r ON e.src = r.node"
            ") GROUP BY node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, dist FROM d{_BFS_HOPS} ORDER BY node")
    return "\n".join(parts)


@q("neardup_bfs_hops", _bfs_oracle())
def _neardup_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup pair graph: hop distance
    (<= 4) from the doc_id % 100 == 0 seed set — the ES graph-explore
    / 'related assets within N degrees' shape. Each hop is one compact
    (node, dist) shuffle (graph.bfs_levels); the oracle replays the
    identical min-distance relaxation as unrolled CTEs."""
    from ..operators import multimodal as M
    from ..operators.graph import bfs_levels, canonical_edges

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    hashed = M.average_hash(M.attach_binary(payloads, "ptxt"))
    pairs = M.hamming_near_pairs(
        hashed, "doc_id", "media_ahash",
        n_bits=_N_BYTES, n_bands=_N_BANDS, max_distance=_MAX_DIST,
    )
    edges = canonical_edges(pairs, "id_a", "id_b")
    seeds = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .where(F.col("node") % 100 == 0)
        .distinct()
    )
    return bfs_levels(edges, seeds, max_hops=_BFS_HOPS).orderBy("node")


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    parts = [
        f"WITH pairs AS ({_AHASH_ORACLE}),",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs),",
        "l0 AS (SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label"
        " FROM edges),",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"l{i} AS (SELECT node, label FROM ("
            "SELECT src AS node, label, "
            "row_number() OVER (PARTITION BY src"
            " ORDER BY c DESC, label ASC) AS rn "
            "FROM (SELECT e.src, r.label, count(*) AS c"
            f" FROM edges e JOIN l{i - 1} r ON e.dst = r.node"
            " GROUP BY e.src, r.label)) WHERE rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, label FROM l{_LPA_ROUNDS} ORDER BY node"
    )
    return "\n".join(parts)


@q("neardup_label_communities", _lpa_oracle())
def _neardup_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the near-dup pair graph —
    the soft-clustering complement to exact connected components
    (dense variant groups split from loosely-bridged ones). Three
    SYNCHRONOUS rounds with a (count DESC, label ASC) argmax make the
    classically order-dependent algorithm deterministic under any
    partitioning, so the DuckDB oracle replays the identical rounds
    as unrolled CTEs (graph.label_propagation)."""
    from ..operators import multimodal as M
    from ..operators.graph import canonical_edges, label_propagation

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    hashed = M.average_hash(M.attach_binary(payloads, "ptxt"))
    pairs = M.hamming_near_pairs(
        hashed, "doc_id", "media_ahash",
        n_bits=_N_BYTES, n_bands=_N_BANDS, max_distance=_MAX_DIST,
    )
    edges = canonical_edges(pairs, "id_a", "id_b")
    return label_propagation(edges, n_rounds=_LPA_ROUNDS).orderBy("node")


# ---------------------------------------------------------------------------
# Link prediction over the near-dup pair graph: "which candidate pairs
# did banding MISS?" — LSH recall is probabilistic, and a non-edge
# whose endpoints share several common neighbors inside a duplicate
# cluster is a near-certain missed pair. The resource-allocation index
# is deterministic fixed point (scale div deg(z), integer sum), so the
# oracle replays it exactly.
# ---------------------------------------------------------------------------

_LP_SCALE = 10**9

_LP_ORACLE = f"""
WITH pairs AS ({_AHASH_ORACLE}),
edges AS MATERIALIZED (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
deg AS MATERIALIZED (
  SELECT n, count(*) AS deg FROM (
    SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY n),
adj AS (SELECT a AS z, b AS n FROM edges UNION ALL SELECT b, a FROM edges),
wedges AS (
  SELECT n1.z, d.deg, n1.n AS x, n2.n AS y
  FROM adj n1
  JOIN adj n2 ON n2.z = n1.z AND n1.n < n2.n
  JOIN deg d ON d.n = n1.z),
scored AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum({_LP_SCALE} // deg) AS BIGINT) AS ra_fp
  FROM wedges GROUP BY x, y),
cands AS (
  SELECT s.* FROM scored s
  LEFT JOIN edges e ON e.a = s.x AND e.b = s.y
  WHERE e.a IS NULL)
SELECT c.x, c.y, c.common_neighbors, c.ra_fp,
       round(c.common_neighbors * 1.0
             / (dx.deg + dy.deg - c.common_neighbors), 9) AS jaccard
FROM cands c
JOIN deg dx ON dx.n = c.x
JOIN deg dy ON dy.n = c.y
"""


@q("neardup_link_prediction", _LP_ORACLE)
def _neardup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missed-candidate recovery via link prediction
    (operators/graph.link_prediction): every NON-adjacent pair of the
    perceptual near-dup graph that shares >= 1 common neighbor, scored
    by common-neighbor count, neighborhood Jaccard, and the
    resource-allocation index in order-free integer fixed point.
    Banded Hamming search is pigeonhole-complete only up to its
    distance budget — variants of one leader can each sit within 2
    bits of the leader but > 2 bits of EACH OTHER, and those are
    exactly the pairs this query surfaces for verification.

    Scale shape: wedge fan-out is bounded by duplicate-cluster sizes
    (sum deg(z)^2 over centers; a ``max_degree`` hub cap exists for
    graphs with real hubs); every shuffle carries id pairs, never
    payloads; the non-edge anti-join streams against the compact
    edge set."""
    from ..operators import multimodal as M
    from ..operators.graph import canonical_edges, link_prediction

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = _synth_payloads(docs)
    hashed = M.average_hash(M.attach_binary(payloads, "ptxt"))
    pairs = M.hamming_near_pairs(
        hashed,
        "doc_id",
        "media_ahash",
        n_bits=_N_BYTES,
        n_bands=_N_BANDS,
        max_distance=_MAX_DIST,
    )
    edges = canonical_edges(pairs, "id_a", "id_b")
    return link_prediction(edges, scale=_LP_SCALE)
