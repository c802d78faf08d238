"""Entity-linking alias dictionary + canonicalization synonym edges.

Single source of truth for three consumers that must agree exactly:
  * the gazetteer tagger (kgkit/ner_core/tagger.py DEFAULT_GAZETTEER)
  * the Spark map-literal lookup in kgkit/operators/linking.py (SURVEY §2.9 J1)
  * the DuckDB oracle SQL in kgkit/oracles.py (exposed as VALUES literals)

Shape per FIXTURES.md §7: (alias, entity_id, prior).  'merge' is
deliberately ambiguous (two candidate entities) to exercise the
embedding-similarity rerank (J2); 'join' is the Zipf-head hub entity
(~960 occurrences per 500 docs) to exercise skew salting (J4).
Entity numbers double as embedding vec_ids for the rerank.
"""

from __future__ import annotations

from typing import List, Tuple

# (alias, entity_id, entity_num, prior)
ALIAS_ROWS: List[Tuple[str, str, int, float]] = [
    ("spark", "Q1", 1, 0.9),
    ("stream", "Q2", 2, 0.9),
    ("vector", "Q3", 3, 0.9),
    ("customer", "Q4", 4, 0.9),
    ("join", "Q5", 5, 0.9),          # hub entity
    ("hash join", "Q6", 6, 0.9),
    ("table scan", "Q7", 7, 0.9),
    ("sort merge", "Q8", 8, 0.9),
    ("merge", "Q9", 9, 0.6),         # ambiguous ...
    ("merge", "Q10", 10, 0.4),       # ... two candidates -> rerank
]

# static synonym pairs for canonicalization (SURVEY §2.9 J3): with the
# shared-alias edge Q9-Q10 this yields components {Q5,Q6}, {Q8,Q9,Q10}
# (multi-hop) and singletons elsewhere.
SYNONYM_EDGES: List[Tuple[str, str]] = [
    ("Q6", "Q5"),    # hash join ~ join
    ("Q8", "Q9"),    # sort merge ~ merge(a)
]


def alias_df(spark):
    """Alias dictionary as a Spark DataFrame — a JVM VALUES
    LocalRelation (kgkit.sources.localrel): canonical_map reads the
    entity list from it, and a createDataFrame fixture would re-pay a
    pickled-RDD scan per call."""
    from kgkit.sources.localrel import values_df

    return values_df(
        spark, ALIAS_ROWS,
        "alias string, entity_id string, entity_num int, prior double",
    )


def alias_values_sql() -> str:
    """The same rows as an ANSI-SQL VALUES list for the DuckDB oracles."""
    rows = ", ".join(
        f"('{a}', '{e}', {n}, {p})" for a, e, n, p in ALIAS_ROWS
    )
    return f"(VALUES {rows}) AS alias_dict(alias, entity_id, entity_num, prior)"


def edges_df(spark):
    """Undirected canonicalization edges: shared-alias pairs + synonyms
    — a JVM VALUES LocalRelation (see alias_df)."""
    from kgkit.sources.localrel import values_df

    shared = {}
    for a, e, _, _ in ALIAS_ROWS:
        shared.setdefault(a, []).append(e)
    pairs = set(SYNONYM_EDGES)
    for ents in shared.values():
        for i in range(len(ents)):
            for j in range(i + 1, len(ents)):
                pairs.add((ents[i], ents[j]))
    return values_df(spark, sorted(pairs), "src string, dst string")


def edges_values_sql() -> str:
    shared = {}
    for a, e, _, _ in ALIAS_ROWS:
        shared.setdefault(a, []).append(e)
    pairs = set(SYNONYM_EDGES)
    for ents in shared.values():
        for i in range(len(ents)):
            for j in range(i + 1, len(ents)):
                pairs.add((ents[i], ents[j]))
    rows = ", ".join(f"('{s}', '{d}')" for s, d in sorted(pairs))
    return f"(VALUES {rows}) AS edges(src, dst)"
