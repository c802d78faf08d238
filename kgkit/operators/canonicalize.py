"""Stage 3 — canonicalization: connected components over entity synonymy.

SURVEY §2.9 J3 / §4.3.1: entities connected by shared aliases or synonym
edges collapse to one canonical id (the minimum entity id in the
component, lexicographic-numeric on 'Q<n>').

Implementation: iterative min-label propagation as DataFrame self-joins —
the one genuinely iterative operator in the pipeline.  Each round:

    label(v) <- min(label(v), min over neighbours u of label(u))

with ``localCheckpoint()`` per iteration to cut the lineage chain
(otherwise the plan doubles every round), and convergence detected by a
changed-row count.

The first ``_JUMP_AFTER`` rounds are plain propagation; from then on
each round ALSO pointer-jumps ``label(v) <- label(label(v))`` — the
shortcutting step of large-star/small-star-family CC algorithms
(Kiveris et al., "Connected Components in MapReduce and Beyond";
hash-to-min of Rastogi et al.).  Labels are monotone non-increasing and
every label value is itself a node, so the jump is one self-join; the
distance to the component minimum shrinks multiplicatively and the
fixpoint lands in O(log diameter) rounds.  A shallow graph (the alias
dictionary converges in <= 3 rounds) never pays the extra join; a deep
chain — the worst case at 100x scale — still finishes in
``_JUMP_AFTER`` + O(log n) rounds instead of n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_JUMP_AFTER = 3  # propagation-only rounds before pointer jumping starts
_MAX_ROUNDS = 50


def _entity_key(col):
    """Sort key for 'Q<n>' ids: numeric part as int."""
    return F.substring(col, 2, 10).cast("int")


def _local_key_twin(key_fn):
    """Driver-side twin of the Column-level canonical key, or None when
    no exact twin is known (the local path then stays disabled).  The
    two keys in use: default ``_entity_key`` ('Q<n>' -> int of chars
    2..11, mirrored below) and natural ordering (``dup_clusters``
    passes ``local_key`` explicitly)."""
    if key_fn is None:
        return lambda v: int(str(v)[1:11])
    return None


def _local_components(spark, edge_rows, py_key, src_type):
    """Exact driver-side union-find over a SMALL collected edge list —
    identical result to the distributed fixpoint (same components, same
    min-key canonical member), at zero scheduler rounds."""
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
        if r not in best or py_key(v) < py_key(best[r]):
            best[r] = v
    rows = [(v, best[find(v)]) for v in sorted(parent, key=py_key)]
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("entity_id", src_type, True),
        StructField("canonical_id", src_type, True),
    ])
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    stats: dict = None,
    key_fn=None,
    local_threshold: int = 100_000,
    local_key=None,
) -> DataFrame:
    """edges(src, dst) undirected -> components(entity_id, canonical_id).

    canonical_id = the member with the smallest ``key_fn`` value —
    default ``_entity_key`` (the numeric part of 'Q<n>' entity ids);
    pass ``key_fn=lambda c: c`` for naturally ordered ids (e.g. the
    near-dup cluster graph over BIGINT doc_ids).  The module docstring
    describes the rounds; pass a dict as ``stats`` to receive
    {'rounds': <iterations until fixpoint>} back (the long-chain test
    pins the pointer jumps to O(log n) rounds).

    SCALE-ADAPTIVE local path (guide §1.2: fix the distributed
    algorithm first): when the edge list is at most ``local_threshold``
    rows — known from the count the loop needs anyway — the fixpoint is
    solved driver-side by exact union-find instead of a driver-paced
    join loop.  Each distributed round costs several scheduler
    round-trips (join + aggregate + localCheckpoint + changed-count),
    which for the alias-dictionary graph (tens of edges) dominated the
    whole kg_canonical wall (~8 s measured at sf0.1); the local path is
    the same bounded-collect class as the ``canonical_map`` memo below
    (threshold << _CANONICAL_CACHE_MAX_ROWS) and returns the IDENTICAL
    (component, min-key canonical) mapping — pinned by
    tests/test_canonicalize.py::TestLocalPath.  A graph above the
    threshold runs the distributed loop exactly as before; pass
    ``local_threshold=0`` to force it (the convergence tests do).
    ``local_key`` supplies the driver-side twin of a custom ``key_fn``
    (required because key_fn operates on Columns); without a twin the
    local path stays off — correctness never depends on it.

    The distributed loop sizes its symmetric edge table to the GRAPH
    (``repartition`` at ~100k edges per partition); the per-round joins
    and aggregates run at the session's shuffle width, whose tiny
    partitions AQE coalesces.  The session conf is never changed.
    """
    key = key_fn if key_fn is not None else _entity_key
    spark = edges.sparkSession
    py_key = local_key if local_key is not None else _local_key_twin(key_fn)
    if py_key is not None and local_threshold > 0:
        # ONE bounded job decides the gate AND delivers the edges: more
        # than local_threshold rows came back -> fall through to the
        # distributed loop, whose count below is then the only full pass
        head = edges.select("src", "dst").take(local_threshold + 1)
        if len(head) <= local_threshold:
            if stats is not None:
                stats["rounds"] = 0
                stats["local"] = True
            return _local_components(
                spark, [(r["src"], r["dst"]) for r in head], py_key,
                edges.schema["src"].dataType,
            )
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
    for _ in range(_MAX_ROUNDS):
        rounds += 1
        # min label among each node's neighbours
        neighbour_min = (
            sym.join(labels, sym.dst == labels.node, "inner")
            .groupBy(sym.src.alias("node2"))
            .agg(F.min_by("label", key(F.col("label"))).alias("nmin"))
        )
        prop = (
            labels.join(neighbour_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.when(
                    F.col("nmin").isNotNull()
                    & (key(F.col("nmin")) < key(F.col("label"))),
                    F.col("nmin"),
                ).otherwise(F.col("label")).alias("label"),
                (F.col("nmin").isNotNull()
                 & (key(F.col("nmin")) < key(F.col("label")))
                 ).alias("changed"),
            )
        )
        if rounds > _JUMP_AFTER:
            # pointer jump: label(v) <- label(label(v)).  Labels are
            # monotone non-increasing and every label value IS a
            # node, so the inner self-join matches exactly once and
            # b's label can only be <= a's (take it unconditionally;
            # 'changed' tracks propagation OR shortcutting)
            j = prop.select("node", "label", "changed")
            jumped = (
                j.alias("a")
                .join(
                    j.select(
                        F.col("node").alias("jn"),
                        F.col("label").alias("jl"),
                    ),
                    F.col("a.label") == F.col("jn"),
                    "inner",
                )
                .select(
                    F.col("a.node").alias("node"),
                    F.col("jl").alias("label"),
                    (F.col("a.changed")
                     | (key(F.col("jl"))
                        < key(F.col("a.label")))).alias("changed"),
                )
            )
            updated = jumped.localCheckpoint()
        else:
            updated = prop.localCheckpoint()
        n_changed = updated.filter("changed").count()
        labels = updated.select("node", "label")
        if n_changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds

    return labels.select(
        F.col("node").alias("entity_id"), F.col("label").alias("canonical_id")
    )


_CANONICAL_CACHE: dict = {}
_CANONICAL_CACHE_MAX_ROWS = 1_000_000  # size guard: never memoize a map
# larger than what is sane to collect/broadcast (the entity catalog,
# not the page corpus; beyond this the caller should persist the CC
# result as a table instead of relying on the memo)


def canonical_map(spark) -> DataFrame:
    """entity_id -> canonical_id for ALL entities of the alias
    dictionary (singletons map to themselves).  Small by construction —
    safe to broadcast.

    The map is memoized per session: the CC fixpoint loop runs once and
    later calls rebuild the tiny result as a local DataFrame — repeated
    queries must not re-pay the iterative loop for an input that cannot
    have changed.  The memo is keyed by the session's applicationId
    (stable; never aliases a recycled Python object the way id(spark)
    could) and holds only the latest session's entry, which evicts
    prior sessions' rows.
    """
    from kgkit.sources.alias_dict import alias_df, edges_df
    from kgkit.sources.localrel import values_df

    key = spark.sparkContext.applicationId
    rows = _CANONICAL_CACHE.get(key)
    if rows is None:
        comp = connected_components(edges_df(spark))
        result = (
            alias_df(spark).select("entity_id").distinct()
            .join(comp, "entity_id", "left")
            .select(
                "entity_id",
                F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
            )
        )
        rows = [tuple(r) for r in result.collect()]
        if len(rows) <= _CANONICAL_CACHE_MAX_ROWS:
            _CANONICAL_CACHE.clear()  # evict dead sessions' entries
            _CANONICAL_CACHE[key] = rows
    return values_df(spark, rows, "entity_id string, canonical_id string")
