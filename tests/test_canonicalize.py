"""Connected components (J3): the distributed fixpoint must agree with
the driver-side union-find and a python flood fill, converge in
O(log n) rounds on a path in id order once pointer jumping starts, and
never stop short of the fixpoint.  The alias dictionary's canonical map
is solved at import and must equal the DuckDB oracle's, with no job."""

from __future__ import annotations

import math


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _flood_min(pairs) -> dict:
    """{node: the smallest node of its component}, by flood fill."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v in adj:
        if v in want:
            continue
        comp, todo = {v}, [v]
        while todo:
            for w in adj[todo.pop()] - comp:
                comp.add(w)
                todo.append(w)
        for w in comp:
            want[w] = min(comp)
    return want


def _scrambled_chain(n):
    """An n-node path whose ids are in scrambled order."""
    chain = [(i * 37) % (n + 1) + 100 for i in range(1, n + 1)]
    return list(zip(chain, chain[1:]))


def _size_digits(df) -> int:
    """Decimal digits of the plan's size estimate (a Scala BigInt)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return len(str(stats.sizeInBytes()))


class TestVariantsAgree:
    def test_doubling_equals_propagation(self, spark):
        """Once pointer jumping (doubling) starts, the labels must still
        be the plain-propagation fixpoint: every node labelled with its
        component's minimum, computed here by a python flood fill.  The
        result's size estimate must stay linear in the rounds: a jump
        join the planner cannot bound squares it every round."""
        from kgkit.operators.canonicalize import connected_components

        # a 30-node chain in scrambled id order (deep enough that the
        # jump rounds run), two components + a 2-cycle + an isolated
        # edge, edges in shuffled order
        pairs = _scrambled_chain(30) + [
            (5, 3), (3, 9), (12, 14), (14, 12), (7, 20), (20, 21)]
        pairs = pairs[::2] + pairs[1::2]
        stats = {}
        comp = connected_components(
            _edges(spark, pairs), stats=stats, local_threshold=0
        )
        got = {r["entity_id"]: r["canonical_id"] for r in comp.collect()}
        assert got == _flood_min(pairs)
        assert stats["rounds"] > 3, stats  # the jump rounds did run
        assert got[9] == 3 and got[14] == 12 and got[21] == 7
        assert _size_digits(comp) <= 25 * stats["rounds"], stats


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
                f"entity_id in (1, 2, {n // 2}, {n})"
            ).collect()
        }
        assert set(sample.values()) == {1}, sample
        # distance to the minimum shrinks multiplicatively per round
        # once jumping starts (after 3 propagation rounds): the fixpoint
        # must land within 3 + log2(n) + a small constant
        assert stats["rounds"] <= 3 + math.ceil(math.log2(n)) + 6, stats

    def test_scrambled_chain_reaches_fixpoint(self, spark):
        """A 108-node chain in scrambled id order needs 54 rounds: the
        loop runs until no label changes, with no round cap that would
        return two labels for one component."""
        from kgkit.operators.canonicalize import connected_components

        pairs = _scrambled_chain(108)
        stats = {}
        got = {
            r["entity_id"]: r["canonical_id"]
            for r in connected_components(
                _edges(spark, pairs), stats=stats, local_threshold=0
            ).collect()
        }
        assert got == _flood_min(pairs)
        assert set(got.values()) == {101}, stats


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
               for r in comp.filter(f"entity_id = {n}").collect()}
        assert got == {n: 1}
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
    (component, minimum) mapping as the distributed fixpoint."""

    def test_local_equals_distributed_entity_key(self, spark):
        """The union-find under the 'Q<n>' entity key, as
        ``canonical_map`` runs it, equals the distributed fixpoint over
        the same graph's numbers."""
        from kgkit.operators.canonicalize import (
            _min_labels, connected_components,
        )

        # multi-hop chain + cycle + isolated edge + high/low id mix
        # ('Q100' < 'Q2' as strings, 2 < 100 as numbers)
        pairs = [(5, 3), (3, 9), (12, 14), (14, 12), (7, 20), (20, 21),
                 (100, 2), (2, 50)]
        local = _min_labels(
            [(f"Q{a}", f"Q{b}") for a, b in pairs],
            key=lambda e: int(e[1:]),
        )
        sd = {}
        dist = {
            f"Q{r['entity_id']}": f"Q{r['canonical_id']}"
            for r in connected_components(
                _edges(spark, pairs), stats=sd, local_threshold=0).collect()
        }
        assert local == dist
        assert local["Q100"] == "Q2"
        assert "local" not in sd and sd["rounds"] >= 1

    def test_local_equals_distributed_natural_key(self, spark):
        from kgkit.operators.canonicalize import connected_components

        pairs = [(105, 3), (3, 900), (12, 14), (7, 1_000_000)]
        edges = _edges(spark, pairs)
        sl = {}
        local = {
            tuple(r)
            for r in connected_components(edges, stats=sl).collect()
        }
        dist = {
            tuple(r) for r in connected_components(
                edges, local_threshold=0
            ).collect()
        }
        assert local == dist
        assert sl.get("local") is True and sl["rounds"] == 0
        assert {r for r in local if r[0] == 900} == {(900, 3)}


class TestCanonicalMap:
    def test_equals_oracle_rows_with_no_job(self, spark):
        """``canonical_map`` serves the rows solved at import: they equal
        the DuckDB oracle's transitive closure, and building and
        collecting the map launches no Spark job."""
        import duckdb
        from test_job_budget import _cost

        from kgkit.oracles import CANON_CTE
        from kgkit.operators.canonicalize import canonical_map

        want = set(duckdb.sql(
            f"WITH RECURSIVE {CANON_CTE} SELECT * FROM canon"
        ).fetchall())
        rows = []
        jobs = _cost(
            spark, lambda: rows.extend(canonical_map(spark).collect())
        ).jobs
        got = {tuple(r) for r in rows}
        assert got == want
        assert ("Q10", "Q8") in got and ("Q6", "Q5") in got
        assert jobs == 0
