"""Stage 3 — canonicalization: connected components over entity synonymy.

SURVEY §2.9 J3 / §4.3.1: entities connected by shared aliases or synonym
edges collapse to one canonical id (the minimum entity id in the
component, numeric on 'Q<n>').

The synonym graph is the alias dictionary's (``alias_dict.EDGES``), a
code constant: its components are solved once, at import, by the exact
driver-side union-find below, and ``canonical_map`` serves those rows
as a VALUES relation that launches no job.

``connected_components`` is the distributed form, for the near-dup
cluster graph (``dedup.dup_clusters``, BIGINT doc ids in natural order):
iterative min-label propagation as DataFrame self-joins.  Each round:

    label(v) <- min(label(v), min over neighbours u of label(u))

with ``localCheckpoint()`` per iteration to cut the lineage chain
(otherwise the plan doubles every round), and convergence detected by a
changed-row count.

The first ``_JUMP_AFTER`` rounds are plain propagation; from then on
each round ALSO pointer-jumps ``label(v) <- label(label(v))`` — the
shortcutting step of large-star/small-star-family CC algorithms
(Kiveris et al., "Connected Components in MapReduce and Beyond";
hash-to-min of Rastogi et al.).  Labels are monotone non-increasing and
every label value is itself a node, so the jump is one self-join.  The
loop runs until no label changes, which it reaches within diameter + 1
rounds.  On a path in id order the jumps halve the distance to the
minimum and the fixpoint lands in ``_JUMP_AFTER`` + O(log n) rounds; on
a chain whose ids are scrambled they help less (30-, 60- and 120-node
chains ``(i * 37) % (n + 1) + 100`` take 8, 29 and 38 rounds).  A
shallow graph (<= 3 rounds) never pays the extra join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgkit.sources.alias_dict import ALIAS_ROWS, EDGES

_JUMP_AFTER = 3  # propagation-only rounds before pointer jumping starts


def _min_labels(edge_rows, key=None) -> dict:
    """Exact union-find over an edge list: {node: the smallest member of
    its component by ``key`` (natural ordering by default)}."""
    key = key or (lambda v: v)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        for v in (s, d):
            if v not in parent:
                parent[v] = v
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[ra] = rb
    best: dict = {}
    for v in parent:
        r = find(v)
        if r not in best or key(v) < key(best[r]):
            best[r] = v
    return {v: best[find(v)] for v in parent}


def connected_components(
    edges: DataFrame,
    stats: dict = None,
    local_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) undirected -> components(entity_id, canonical_id).

    canonical_id = the smallest member of the component, in the id
    column's natural ordering.  The module docstring describes the
    rounds; pass a dict as ``stats`` to receive {'rounds': <iterations
    until fixpoint>} back.

    SCALE-ADAPTIVE local path (guide §1.2: fix the distributed
    algorithm first): when the edge list is at most ``local_threshold``
    rows, the fixpoint is solved driver-side by the exact union-find
    ``_min_labels`` instead of a driver-paced join loop, whose every
    round costs several scheduler round-trips (join + aggregate +
    localCheckpoint + changed-count).  It returns the IDENTICAL
    (component, minimum) mapping — pinned by
    tests/test_canonicalize.py::TestLocalPath.  A graph above the
    threshold runs the distributed loop; pass ``local_threshold=0`` to
    force it (the convergence tests do).

    The distributed loop sizes its symmetric edge table to the GRAPH
    (``repartition`` at ~100k edges per partition); the per-round joins
    and aggregates run at the session's shuffle width, whose tiny
    partitions AQE coalesces.  The session conf is never changed.
    """
    spark = edges.sparkSession
    if local_threshold > 0:
        # ONE bounded job decides the gate AND delivers the edges: more
        # than local_threshold rows came back -> fall through to the
        # distributed loop, whose count below is then the only full pass
        head = edges.select("src", "dst").take(local_threshold + 1)
        if len(head) <= local_threshold:
            if stats is not None:
                stats["rounds"] = 0
                stats["local"] = True
            labels = _min_labels((r["src"], r["dst"]) for r in head)
            from pyspark.sql.types import StructField, StructType

            src_type = edges.schema["src"].dataType
            return spark.createDataFrame(sorted(labels.items()), StructType([
                StructField("entity_id", src_type, True),
                StructField("canonical_id", src_type, True),
            ]))
    n_edges = edges.count()
    n_parts = max(1, min(64, n_edges // 100_000))
    sym = (
        edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(n_parts, "src")
        .localCheckpoint()
    )

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    rounds = 0
    n_changed = 1
    while n_changed:
        rounds += 1
        # min label among each node's neighbours
        neighbour_min = (
            sym.join(labels, sym.dst == labels.node, "inner")
            .groupBy(sym.src.alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        lower = F.col("nmin").isNotNull() & (F.col("nmin") < F.col("label"))
        prop = (
            labels.join(neighbour_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.when(lower, F.col("nmin")).otherwise(F.col("label"))
                .alias("label"),
                lower.alias("changed"),
            )
        )
        if rounds > _JUMP_AFTER:
            # pointer jump: label(v) <- label(label(v)).  Labels are
            # monotone non-increasing and every label value IS a
            # node, so the inner self-join matches exactly once and
            # b's label can only be <= a's (take it unconditionally;
            # 'changed' tracks propagation OR shortcutting).  The right
            # side is a groupBy so the planner sees node as a unique
            # key and bounds the join's size estimate by the left side;
            # a plain self-join is estimated as the product of both,
            # and each round's checkpoint would square it again
            j = prop.select("node", "label", "changed")
            jumped = (
                j.alias("a")
                .join(
                    j.groupBy(F.col("node").alias("jn"))
                    .agg(F.min("label").alias("jl")),
                    F.col("a.label") == F.col("jn"),
                    "inner",
                )
                .select(
                    F.col("a.node").alias("node"),
                    F.col("jl").alias("label"),
                    (F.col("a.changed")
                     | (F.col("jl") < F.col("a.label"))).alias("changed"),
                )
            )
            updated = jumped.localCheckpoint()
        else:
            updated = prop.localCheckpoint()
        n_changed = updated.filter("changed").count()
        labels = updated.select("node", "label")
    if stats is not None:
        stats["rounds"] = rounds

    return labels.select(
        F.col("node").alias("entity_id"), F.col("label").alias("canonical_id")
    )


def _canonical_rows():
    labels = _min_labels(EDGES, key=lambda e: int(e[1:]))
    ids = sorted({e for _, e, _, _ in ALIAS_ROWS}, key=lambda e: int(e[1:]))
    return [(e, labels.get(e, e)) for e in ids]


# entity_id -> canonical_id for every dictionary entity: the smallest
# 'Q<n>' of its component by n (singletons map to themselves)
_CANONICAL_ROWS = _canonical_rows()


def canonical_map(spark) -> DataFrame:
    """entity_id -> canonical_id for ALL entities of the alias
    dictionary, as a VALUES relation over the rows solved at import:
    building or collecting it launches no Spark job.  Small by
    construction — safe to broadcast."""
    from kgkit.sources.localrel import values_df

    return values_df(spark, _CANONICAL_ROWS,
                     "entity_id string, canonical_id string")
