"""The iterative graph loops never change the session conf.

Connected components, PageRank and k-means size their exchanges with an
explicit ``repartition`` (or leave the width to AQE) instead of setting
``spark.sql.shuffle.partitions`` while they run, so a concurrent query
in the same session never runs at a loop's width.  Each loop is forced
onto its distributed path and must return exactly what an independent
computation returns."""

from __future__ import annotations

import math

import pytest


@pytest.fixture
def conf_sets(spark, monkeypatch):
    """Every ``RuntimeConfig.set`` call made from now on."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real = RuntimeConfig.set

    def spy(self, key, value):
        calls.append((key, value))
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    # the spy sees the session's own conf object (no vacuous pass)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width)
    assert calls == [("spark.sql.shuffle.partitions", width)]
    calls.clear()
    return calls


def test_connected_components(spark, conf_sets):
    from kgkit.operators.canonicalize import connected_components

    pairs = [(f"Q{i}", f"Q{i + 1}") for i in range(1, 40)]
    pairs += [("Q100", "Q101"), ("Q102", "Q101")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {tuple(r) for r in
           connected_components(edges, local_threshold=0).collect()}
    assert conf_sets == []
    want = {(f"Q{i}", "Q1") for i in range(1, 41)}
    want |= {("Q100", "Q100"), ("Q101", "Q100"), ("Q102", "Q100")}
    assert got == want


def test_pagerank(spark, conf_sets):
    from kgkit.operators.linkgraph import pagerank

    rows = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1),
            ("d", "a", 5)]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    got = {r["node"]: r["rank_q"]
           for r in pagerank(edges, local_threshold=0).collect()}
    assert conf_sets == []
    # the exact BIGINT recurrence, computed in Python
    q, num, den = 1 << 40, 85, 100
    out_w = {}
    for s, _, w in rows:
        out_w[s] = out_w.get(s, 0) + w
    nodes = {s for s, _, _ in rows} | {d for _, d, _ in rows}
    r0 = q // len(nodes)
    rank = dict.fromkeys(nodes, r0)
    for _ in range(5):
        contrib = dict.fromkeys(nodes, 0)
        for s, d, w in rows:
            contrib[d] += rank[s] * w // out_w[s]
        rank = {v: (den - num) * r0 // den + num * contrib[v] // den
                for v in nodes}
    assert got == rank


def test_kmeans_centroids(spark, conf_sets):
    from kgkit.operators.similarity import kmeans_centroids

    # eighths: exact on the 1e-6 quantization grid
    vecs = {i: ([8.0 + i % 3, 1.0, 0.0] if i % 2 else [0.0, 1.0, 8.0 + i % 4])
            for i in range(12)}
    vecs = {i: [x / 8 for x in v] for i, v in vecs.items()}
    corpus = spark.createDataFrame(
        sorted(vecs.items()), "neighbor_id long, embedding array<float>"
    )
    got = {r["cell"]: list(r["cv"])
           for r in kmeans_centroids(corpus, n_cells=2, iters=2).collect()}
    assert conf_sets == []

    # Lloyd on the quantized vectors, with the operator's arithmetic
    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dot / (na * nb)

    qv = {i: [int(x * 1_000_000) for x in v] for i, v in vecs.items()}
    cents = {i: qv[i] for i in sorted(qv)[:2]}
    for _ in range(2):
        sums = {}
        for v in qv.values():
            cell = max(cents, key=lambda c: (cos(v, cents[c]), -c))
            acc = sums.setdefault(cell, [0] * len(v))
            sums[cell] = [a + x for a, x in zip(acc, v)]
        cents = sums
    assert got == cents
