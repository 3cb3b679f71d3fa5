"""Triangle counting / clustering coefficients (operators/graph.py)
on hand-drawn graphs with known answers."""

from __future__ import annotations

import itertools

import pytest

from cga_kinesis_to_elasticsearch_spark.operators.graph import (
    canonical_edges,
    clustering_coefficients,
    triangle_counts,
)


def _edges(spark, pairs):
    return canonical_edges(
        spark.createDataFrame(pairs, "s long, d long"), "s", "d"
    )


def _tri(spark, pairs):
    return {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, pairs)).collect()
    }


class TestTriangles:
    def test_single_triangle(self, spark):
        assert _tri(spark, [(1, 2), (2, 3), (1, 3)]) == {1: 1, 2: 1, 3: 1}

    def test_chain_has_none(self, spark):
        assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}

    def test_k4_clique(self, spark):
        pairs = list(itertools.combinations(range(4), 2))
        # K4: each node in C(3,2)=3 triangles
        assert _tri(spark, pairs) == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1)]
        assert _tri(spark, pairs) == {1: 1, 2: 1, 3: 1}

    def test_matches_bruteforce_on_random_graph(self, spark):
        import random

        rnd = random.Random(7)
        pairs = list(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rnd.randrange(20), rnd.randrange(20)) for _ in range(80)
                )
                if a != b
            }
        )
        got = _tri(spark, pairs)
        es = set(pairs)
        want: dict[int, int] = {}
        for x, y, z in itertools.combinations(range(20), 3):
            if (x, y) in es and (y, z) in es and (x, z) in es:
                for n in (x, y, z):
                    want[n] = want.get(n, 0) + 1
        assert got == want

    def test_clustering_coefficient(self, spark):
        # node 1 neighbors {2,3,4}; edges (2,3) only -> c = 2*1/(3*2)
        pairs = [(1, 2), (1, 3), (1, 4), (2, 3)]
        rows = {
            r["node"]: (r["deg"], r["n_triangles"], r["clustering"])
            for r in clustering_coefficients(_edges(spark, pairs)).collect()
        }
        assert rows[1] == (3, 1, round(1 / 3, 6))
        assert rows[2] == (2, 1, 1.0)
        assert rows[3] == (2, 1, 1.0)
        assert 4 not in rows  # degree 1: undefined, excluded


class TestPageRank:
    def test_star_center_dominates_and_mass_conserved(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            pagerank_fixed,
        )

        scale, n_iter = 10**12, 12
        star = _edges(spark, [(0, i) for i in range(1, 7)])
        ranks = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed(star, n_iter, scale=scale).collect()
        }
        assert max(ranks, key=lambda n: ranks[n]) == 0
        leaves = {v for n, v in ranks.items() if n != 0}
        assert len(leaves) == 1  # symmetric leaves tie exactly
        # undirected graph has no dangling nodes: mass is conserved up
        # to the floor divisions, which lose under one unit per
        # directed edge and one per node in each round
        lost = len(ranks) * scale - sum(ranks.values())
        assert 0 <= lost < (2 * 6 + len(ranks)) * n_iter


class TestPagerankFixed:
    def test_matches_python_fixed_point(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            canonical_edges,
            pagerank_fixed,
        )

        pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
        edges = canonical_edges(
            spark.createDataFrame(pairs, "s long, d long"), "s", "d"
        )
        got = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed(edges, n_iter=6).collect()
        }
        SCALE, DAMP = 10**12, 85
        base = (SCALE * (100 - DAMP)) // 100
        adj: dict[int, list[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        ranks = {n: SCALE for n in adj}
        for _ in range(6):
            in_fp = {n: 0 for n in adj}
            for n, nbrs in adj.items():
                share = ranks[n] // len(nbrs)
                for m in nbrs:
                    in_fp[m] += share
            ranks = {n: base + (DAMP * in_fp[n]) // 100 for n in adj}
        assert got == ranks

    def test_deterministic_across_runs(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            canonical_edges,
            pagerank_fixed,
        )

        pairs = [(i, (i * 3) % 17 + 20) for i in range(1, 40)]
        edges = canonical_edges(
            spark.createDataFrame(pairs, "s long, d long"), "s", "d"
        )
        a = sorted(map(tuple, pagerank_fixed(edges, n_iter=5).collect()))
        b = sorted(
            map(
                tuple,
                pagerank_fixed(
                    edges.repartition(7), n_iter=5
                ).collect(),
            )
        )
        assert a == b

    def test_high_degree_hub_no_overflow(self, spark):
        """A 120k-leaf star: the hub's in-share sum is ~1.2e17, so the
        naive damping product (85 * in_fp) exceeds int64 — the
        decomposed update must survive and match the python model."""
        from pyspark.sql import functions as F

        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            pagerank_fixed,
        )

        n = 120_000
        edges = spark.range(1, n + 1).select(
            F.lit(0).cast("long").alias("a"), F.col("id").alias("b")
        )
        got = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed(edges, n_iter=3).collect()
        }
        SCALE, DAMP = 10**12, 85
        base = (SCALE * (100 - DAMP)) // 100
        hub, leaf = SCALE, SCALE
        for _ in range(3):
            hub_in = n * (leaf // 1)  # every leaf has degree 1
            leaf_in = hub // n
            hub = base + DAMP * (hub_in // 100) + (DAMP * (hub_in % 100)) // 100
            leaf = base + DAMP * (leaf_in // 100) + (DAMP * (leaf_in % 100)) // 100
        assert got[0] == hub and got[0] > 0
        assert got[1] == leaf and got[12345] == leaf


class TestBfsLevels:
    def test_min_distance_multi_source(self, spark):
        from pyspark.sql import Row

        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            bfs_levels,
            canonical_edges,
        )

        # path 1-2-3-4-5 plus branch 3-6; seeds {1, 6}
        pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6)]
        edges = canonical_edges(
            spark.createDataFrame(pairs, "s long, d long"), "s", "d"
        )
        seeds = spark.createDataFrame([Row(node=1), Row(node=6)])
        got = {
            r["node"]: r["dist"]
            for r in bfs_levels(edges, seeds, max_hops=3).collect()
        }
        assert got == {1: 0, 6: 0, 2: 1, 3: 1, 4: 2, 5: 3}

    def test_hop_cap_limits_reach(self, spark):
        from pyspark.sql import Row

        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            bfs_levels,
            canonical_edges,
        )

        pairs = [(i, i + 1) for i in range(1, 8)]
        edges = canonical_edges(
            spark.createDataFrame(pairs, "s long, d long"), "s", "d"
        )
        seeds = spark.createDataFrame([Row(node=1)])
        got = {
            r["node"]: r["dist"]
            for r in bfs_levels(edges, seeds, max_hops=2).collect()
        }
        assert got == {1: 0, 2: 1, 3: 2}


class TestLabelPropagation:
    def _run(self, spark, pairs, rounds=3):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            canonical_edges,
            label_propagation,
        )

        edges = canonical_edges(
            spark.createDataFrame(pairs, "s long, d long"), "s", "d"
        )
        return {
            r["node"]: r["label"]
            for r in label_propagation(edges, n_rounds=rounds).collect()
        }

    def test_clique_converges_to_min_label(self, spark):
        pairs = list(itertools.combinations([10, 11, 12, 13], 2))
        got = self._run(spark, pairs, rounds=3)
        # round 1: everyone adopts the min among NEIGHBORS (10's
        # neighbors exclude itself -> 11); by round 3 all agree on 10
        assert set(got.values()) == {10}

    def test_two_cliques_with_bridge_stay_separate(self, spark):
        left = list(itertools.combinations([1, 2, 3], 2))
        right = list(itertools.combinations([7, 8, 9], 2))
        got = self._run(spark, left + right + [(3, 7)], rounds=3)
        assert got[1] == got[2] == got[3]
        assert got[7] == got[8] == got[9]
        assert got[1] != got[7]

    def test_deterministic_across_runs(self, spark):
        pairs = [(i, (i * 7) % 23) for i in range(1, 23) if i != (i * 7) % 23]
        a = self._run(spark, pairs)
        b = self._run(spark, pairs)
        assert a == b


class TestKcore:
    def test_peels_pendant_chain_keeps_clique(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import kcore

        # triangle 1-2-3 plus a pendant chain 3-4-5: the 2-core is the
        # triangle alone (4 and 5 peel off over two rounds)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "a long, b long"
        )
        got = {(r.n, r.deg) for r in kcore(edges, 2, 4).collect()}
        assert got == {(1, 2), (2, 2), (3, 2)}

    def test_bounded_rounds_are_deterministic_midpeel(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import kcore

        # chain 1-2-3-4-5 with k=2: one round peels 1 and 5, the next
        # peels 2 and 4, then 3 — with only ONE round the partial peel
        # is still well-defined: edges (2,3),(3,4) survive round 1
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
        )
        # round 1 drops edges touching 1 and 5, leaving (2,3),(3,4);
        # the final deg>=k filter then reports only node 3
        after1 = {(r.n, r.deg) for r in kcore(edges, 2, 1).collect()}
        assert after1 == {(3, 2)}
        # full peel: empty core
        assert kcore(edges, 2, 4).count() == 0


class TestLinkPrediction:
    def _run(self, spark, pairs, **kw):
        from cga_kinesis_to_elasticsearch_spark.operators.graph import (
            link_prediction,
        )

        return {
            (r.x, r.y): r
            for r in link_prediction(_edges(spark, pairs), **kw).collect()
        }

    def test_path_endpoints_share_center(self, spark):
        # path 1-2-3: only candidate is (1,3) via center 2 (deg 2)
        got = self._run(spark, [(1, 2), (2, 3)])
        assert set(got) == {(1, 3)}
        r = got[(1, 3)]
        assert r.common_neighbors == 1
        assert r.ra_fp == 10**9 // 2
        assert r.jaccard == pytest.approx(1.0)  # N(1)={2}, N(3)={2}

    def test_existing_edges_are_excluded(self, spark):
        # triangle: every pair adjacent -> no candidates at all
        assert self._run(spark, [(1, 2), (2, 3), (1, 3)]) == {}

    def test_matches_bruteforce_on_random_graph(self, spark):
        import random

        rnd = random.Random(11)
        nodes = list(range(12))
        pairs = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rnd.random() < 0.3
        ]
        got = self._run(spark, pairs)
        adj: dict[int, set[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        edge_set = {tuple(sorted(p)) for p in pairs}
        want = {}
        for x, y in itertools.combinations(sorted(adj), 2):
            if (x, y) in edge_set:
                continue
            cn = adj[x] & adj[y]
            if not cn:
                continue
            want[(x, y)] = (
                len(cn),
                sum(10**9 // len(adj[z]) for z in cn),
                round(len(cn) / len(adj[x] | adj[y]), 9),
            )
        assert {
            k: (v.common_neighbors, v.ra_fp, float(v.jaccard))
            for k, v in got.items()
        } == want

    def test_max_degree_skips_hub_centers(self, spark):
        # star center 0 with leaves 1..5 plus a 2-path 1-6-2: with the
        # cap at 2, wedges CENTERED at the hub (deg 5) vanish — leaf
        # pairs like (2,3) or (1,3) disappear; (1,2) survives only via
        # center 6, and (0,6) via the under-cap centers 1 and 2.
        star = [(0, i) for i in range(1, 6)]
        got = self._run(spark, [*star, (1, 6), (6, 2)], max_degree=2)
        assert set(got) == {(1, 2), (0, 6)}
        assert got[(1, 2)].common_neighbors == 1  # node 6 only
        uncapped = self._run(spark, [*star, (1, 6), (6, 2)])
        assert (2, 3) in uncapped and (1, 3) in uncapped
