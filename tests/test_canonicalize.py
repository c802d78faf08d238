"""Connected components (J3): the distributed fixpoint must agree with
the driver-side union-find and, once pointer jumping starts, reach the
fixpoint in O(log n) rounds on a chain — the shape where plain
propagation needs n rounds."""

from __future__ import annotations

import math


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(f"Q{a}", f"Q{b}") for a, b in pairs], "src string, dst string"
    )


class TestVariantsAgree:
    def test_doubling_equals_propagation(self, spark):
        """Once pointer jumping (doubling) starts, the labels must still
        be the plain-propagation fixpoint: every node labelled with its
        component's minimum key, computed here by a python flood fill."""
        from kgkit.operators.canonicalize import connected_components

        # a 30-node chain in scrambled id order (deep enough that the
        # jump rounds run), two components + a 2-cycle + an isolated
        # edge, edges in shuffled order
        chain = [(i * 37) % 31 + 100 for i in range(1, 31)]
        pairs = list(zip(chain, chain[1:])) + [
            (5, 3), (3, 9), (12, 14), (14, 12), (7, 20), (20, 21)]
        pairs = pairs[::2] + pairs[1::2]
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for v in adj:
            if f"Q{v}" in want:
                continue
            comp, todo = {v}, [v]
            while todo:
                for w in adj[todo.pop()] - comp:
                    comp.add(w)
                    todo.append(w)
            for w in comp:
                want[f"Q{w}"] = f"Q{min(comp)}"
        stats = {}
        got = {
            r["entity_id"]: r["canonical_id"]
            for r in connected_components(
                _edges(spark, pairs), stats=stats, local_threshold=0
            ).collect()
        }
        assert got == want
        assert stats["rounds"] > 3, stats  # the jump rounds did run
        assert got["Q9"] == "Q3" and got["Q14"] == "Q12" and got["Q21"] == "Q7"


class TestChainConvergence:
    def test_10k_path_converges_in_log_rounds(self, spark):
        from kgkit.operators.canonicalize import connected_components

        n = 10_000
        stats = {}
        comp = connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, n)]),
            stats=stats, local_threshold=0,
        )
        sample = {
            r["entity_id"]: r["canonical_id"]
            for r in comp.filter(
                f"entity_id in ('Q1', 'Q2', 'Q{n//2}', 'Q{n}')"
            ).collect()
        }
        assert set(sample.values()) == {"Q1"}, sample
        # distance to the minimum shrinks multiplicatively per round
        # once jumping starts (after 3 propagation rounds): the fixpoint
        # must land within 3 + log2(n) + a small constant
        assert stats["rounds"] <= 3 + math.ceil(math.log2(n)) + 6, stats


class TestAdaptiveVariant:
    def test_adaptive_matches_and_converges_fast_on_chain(self, spark):
        """A 2k chain still lands in 3 propagation rounds +
        O(log n) jumping rounds."""
        from kgkit.operators.canonicalize import connected_components

        n = 2_000
        stats = {}
        comp = connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, n)]),
            stats=stats, local_threshold=0,
        )
        got = {r["entity_id"]: r["canonical_id"]
               for r in comp.filter(f"entity_id in ('Q{n}')").collect()}
        assert got == {f"Q{n}": "Q1"}
        assert stats["rounds"] <= 3 + math.ceil(math.log2(n)) + 6, stats

    def test_adaptive_shallow_graph_pays_no_jump(self, spark):
        """A graph that converges within the 3 propagation rounds never
        starts jumping, and matches the driver-side union-find."""
        from kgkit.operators.canonicalize import connected_components

        pairs = [(5, 3), (3, 9), (12, 14)]
        sa = {}
        a = connected_components(_edges(spark, pairs), stats=sa,
                                 local_threshold=0).collect()
        local = connected_components(_edges(spark, pairs)).collect()
        assert {tuple(r) for r in a} == {tuple(r) for r in local}
        assert sa["rounds"] <= 3


class TestLocalPath:
    """The small-graph union-find fast path must return the IDENTICAL
    (component, min-key canonical) mapping as the distributed fixpoint
    — for both canonical keys in use (entity 'Q<n>' and natural)."""

    def test_local_equals_distributed_entity_key(self, spark):
        from kgkit.operators.canonicalize import connected_components

        # multi-hop chain + cycle + isolated edge + high/low id mix
        pairs = [(5, 3), (3, 9), (12, 14), (14, 12), (7, 20), (20, 21),
                 (100, 2), (2, 50)]
        sl, sd = {}, {}
        local = {
            tuple(r) for r in connected_components(
                _edges(spark, pairs), stats=sl).collect()
        }
        dist = {
            tuple(r) for r in connected_components(
                _edges(spark, pairs), stats=sd, local_threshold=0).collect()
        }
        assert local == dist
        assert sl.get("local") is True and sl["rounds"] == 0
        assert "local" not in sd and sd["rounds"] >= 1

    def test_local_equals_distributed_natural_key(self, spark):
        from kgkit.operators.canonicalize import connected_components

        pairs = [(105, 3), (3, 900), (12, 14), (7, 1_000_000)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        local = {
            tuple(r) for r in connected_components(
                edges, key_fn=lambda c: c, local_key=lambda v: v
            ).collect()
        }
        dist = {
            tuple(r) for r in connected_components(
                edges, key_fn=lambda c: c, local_threshold=0
            ).collect()
        }
        assert local == dist
        assert {r for r in local if r[0] == 900} == {(900, 3)}

    def test_custom_key_without_twin_stays_distributed(self, spark):
        from kgkit.operators.canonicalize import connected_components

        stats = {}
        connected_components(
            _edges(spark, [(1, 2)]), key_fn=lambda c: c, stats=stats
        ).collect()
        # no local_key twin supplied -> the local path must not engage
        assert "local" not in stats and stats["rounds"] >= 1
