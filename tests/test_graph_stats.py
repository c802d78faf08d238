"""Triangle counting / graph stats: python-twin differential on LCG
graphs, known closed-form graphs, hub-skew sanity, and the
no-cartesian plan pin for the degree-oriented formulation.  Per-node
counts come from the triangle pass that ``graph_stats`` sums."""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _triangle_count(edges):
    """(node, n_triangles) over the undirected simple graph."""
    from kgkit.operators.linkgraph import _triangles_from_und, _undirected_simple

    return _triangles_from_und(_undirected_simple(edges))


def _py_triangles(pairs):
    """Per-node triangle counts via brute-force set intersection."""
    adj = {}
    und = set()
    for s, d in pairs:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        und.add((a, b))
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    # each triangle found once per edge (3x per corner-triple)
    return {n: c // 3 for n, c in counts.items() if c}


def _lcg_graph(n_nodes=40, n_edges=500, seed=3):
    pairs, x = [], seed
    for _ in range(n_edges):
        x = (x * 1103515245 + 12345) % (1 << 31)
        s = f"n{x % n_nodes}"
        x = (x * 1103515245 + 12345) % (1 << 31)
        pairs.append((s, f"n{x % n_nodes}"))
    return pairs


class TestTriangles:
    @pytest.mark.parametrize("seed", [3, 11, 29])
    def test_matches_python_twin(self, spark, seed):
        pairs = _lcg_graph(seed=seed)
        got = {r["node"]: r["n_triangles"]
               for r in _triangle_count(_edges(spark, pairs)).collect()}
        assert got == _py_triangles(pairs)

    def test_complete_graph_and_cycle(self, spark):
        from kgkit.operators.linkgraph import graph_stats

        k5 = _edges(spark, [(f"v{a}", f"v{b}")
                            for a, b in combinations(range(5), 2)])
        got = {r["node"]: r["n_triangles"]
               for r in _triangle_count(k5).collect()}
        assert got == {f"v{i}": 6 for i in range(5)}  # C(4,2) per node
        st = graph_stats(k5)
        assert st == {"nodes": 5, "edges": 10, "triangles": 10,
                      "wedges": 30, "global_clustering": 1.0}

        c6 = _edges(spark, [(f"c{i}", f"c{(i + 1) % 6}") for i in range(6)])
        assert _triangle_count(c6).count() == 0
        assert graph_stats(c6)["triangles"] == 0

    def test_direction_duplicates_selfloops_collapse(self, spark):
        messy = _edges(spark, [
            ("a", "b"), ("b", "a"), ("a", "b"),      # dup + reversed
            ("b", "c"), ("c", "a"), ("a", "a"),      # self-loop dropped
        ])
        got = {r["node"]: r["n_triangles"]
               for r in _triangle_count(messy).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_hub_star_makes_no_triangles(self, spark):
        """A pure hub (celebrity) has quadratic wedge potential but
        zero triangles — the degree orientation builds wedges at the
        LEAF ends, so nothing quadratic materializes at the hub."""
        from kgkit.operators.linkgraph import graph_stats

        star = _edges(spark, [("hub", f"leaf{i}") for i in range(200)])
        assert _triangle_count(star).count() == 0
        st = graph_stats(star)
        assert st["wedges"] == 200 * 199 // 2 and st["triangles"] == 0

    def test_empty_graph_yields_integer_zeros(self, spark):
        """No JSON nulls on an empty edge set — sum() over zero rows
        is SQL NULL and must be coalesced."""
        from kgkit.operators.linkgraph import graph_stats

        empty = spark.createDataFrame([], "src string, dst string")
        assert graph_stats(empty) == {
            "nodes": 0, "edges": 0, "triangles": 0, "wedges": 0,
            "global_clustering": 0.0,
        }

    def test_plan_has_no_cartesian_or_window(self, spark):
        plan = (
            _triangle_count(_edges(spark, _lcg_graph()))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan and "Window" not in plan

    def test_entity_graph_composition(self, spark):
        """graph_stats over the real stage-4b relation edges."""
        from kgkit.operators.linkgraph import graph_stats
        from kgkit.queries import QUERIES

        rel = QUERIES["kg_relations"](spark, "/root/testdata/sf0.001")
        st = graph_stats(
            rel.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        )
        assert st["nodes"] > 0 and st["edges"] > 0
        assert 0.0 <= st["global_clustering"] <= 1.0
