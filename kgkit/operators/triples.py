"""Stage 4 — triple materialization with url-hash partitioning + skew salting.

SURVEY §2.9 J4 / §3.4.  Two deterministic predicate rules over linked,
canonicalized mentions:

  * (url, 'mentions', entity)            — page-level, one per distinct
                                           (url, canonical entity)
  * (entity_i, 'cooccurs_with', entity_j) — consecutive linked mentions
                                           within a page, ordered by
                                           char_start (window lead, no
                                           self-join)

Scale design: the stage shuffles the linked-mention stream EXACTLY ONCE,
on url, and reads it in ONE branch.  Hash-partitioning by url satisfies
every window the stage plans — the per-url ``lead`` and the per-(url,
entity) first-span windows (url is a prefix of that key) — so the plan
has a single exchange, no union and no cache, and the upstream stage-1
Arrow UDF executes once.  A window partition is one page's mentions
(or one entity's mentions on one page), never a hub's corpus-wide rows.
url is a maximal-cardinality uniform key: no skew regardless of how
hub-heavy the ENTITY distribution is — the hub-entity skew surfaces
only in entity-keyed aggregations, handled by explicit salting in
``salted_entity_counts``.

Writes are partitioned by ``bucket = pmod(xxhash64(url), n_buckets)``.
Hub entities (the Zipf head — 'join'/Q5 appears in most pages) would
skew any downstream groupBy(obj); ``salted_entity_counts`` shows the
explicit two-phase salt -> partial agg -> final agg pattern the north
rule requires (AQE alone is not accepted as the answer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_triples(
    linked: DataFrame,
    canon: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """linked mentions + canonical map -> triples(subj, pred, obj, url,
    char_start, char_end, bucket).

    One branch: the url-partitioned mention stream is read once, by
    windows only.  A window over ``url`` (``lead``) gives each mention
    its successor, windows over ``(url, entity)`` give each (page,
    entity) its first span and a ``row_number() = 1`` marker, and one
    ``inline`` of a two-element struct array — the ``mentions`` triple
    (kept on the marker row) and the ``cooccurs_with`` triple (kept when
    a successor exists) — emits both predicates.  HashPartitioning(url)
    satisfies both window distributions, so the plan has ONE exchange
    over the mention stream and no union: the upstream stage-1 UDF
    runs once with no cache and no fan-out.  The result is an eager
    localCheckpoint.
    """
    m = (
        linked.join(F.broadcast(canon), "entity_id", "left")
        .selectExpr(
            "url", "mention_id", "coalesce(canonical_id, entity_id) AS entity",
            "char_start", "char_end",
        )
        .repartition("url")  # the stage's ONE exchange over the mention stream
    )
    return (
        m.selectExpr(*_WINDOWS)
        .selectExpr(_EMIT)
        .selectExpr(
            "subj", "pred", "obj", "url", "char_start", "char_end",
            f"CAST(pmod(xxhash64(url), {int(n_buckets)}) AS INT) AS bucket",
        )
        .localCheckpoint()
    )


# SQL text: one Py4J call per expression, where each Column-API node
# costs several round trips
_BY_URL = "PARTITION BY url ORDER BY char_start, mention_id"
_WINDOWS = (
    "url", "entity", "char_start",
    f"lead(entity) OVER ({_BY_URL}) AS next_entity",
    f"lead(char_start) OVER ({_BY_URL}) AS next_start",
    "min(char_start) OVER (PARTITION BY url, entity) AS first_start",
    "min(char_end) OVER (PARTITION BY url, entity) AS first_end",
    "row_number() OVER (PARTITION BY url, entity "
    "ORDER BY char_start, mention_id) AS nth",
)
# each mention row emits its page's `mentions` triple (kept on the
# (url, entity) marker row) and its `cooccurs_with` triple (kept when
# it has a successor)
_EMIT = (
    "inline(filter(array("
    "named_struct('subj', url, 'pred', 'mentions', 'obj', entity, "
    "'url', url, 'char_start', first_start, 'char_end', first_end, "
    "'keep', nth = 1), "
    "named_struct('subj', entity, 'pred', 'cooccurs_with', "
    "'obj', next_entity, 'url', url, 'char_start', char_start, "
    "'char_end', next_start, 'keep', next_entity IS NOT NULL)"
    "), t -> t.keep))"
)


def write_triples(triples: DataFrame, ref: str) -> None:
    """Partitioned sink: url-hash buckets keep any single entity's rows
    spread across files (hub entities cannot concentrate in one file).

    Routed through the catalog resolver (kgkit.sources.catalog
    .write_table): a path writes bucket-partitioned parquet, a
    'catalog.db.table' ref writes the same buckets through the Iceberg
    writeTo API — swapping the sink is a config change, not a code
    change (contract-tested without jars in tests/test_catalog.py)."""
    from kgkit.sources.catalog import write_table

    write_table(triples, ref, partition_cols=("bucket",))


def salted_entity_counts(triples: DataFrame, n_salts: int = 16) -> DataFrame:
    """Triples-per-entity with EXPLICIT skew salting (north-rule demo).

    Phase 1 shuffles on (obj, salt) — the hub entity's rows split across
    ``n_salts`` reducers for the expensive partial aggregation; phase 2
    combines the tiny per-salt partials.  Equivalent to a map-side
    combine but robust even when one key dominates every input partition.
    """
    salted = triples.withColumn(
        "salt", F.pmod(F.xxhash64("url", "char_start"), F.lit(n_salts))
    )
    partial = salted.groupBy("obj", "salt").agg(F.count("*").alias("c"))
    return (
        partial.groupBy("obj")
        .agg(F.sum("c").alias("n_triples"))
        .orderBy(F.desc("n_triples"), F.asc("obj"))
    )
