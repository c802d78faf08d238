"""Entity-linking alias dictionary + canonicalization synonym edges.

Single source of truth for four consumers that must agree exactly:
  * the gazetteer tagger (kgkit/ner_core/tagger.py DEFAULT_GAZETTEER)
  * the Spark map-literal lookup and the rerank's ambiguous entities in
    kgkit/operators/linking.py (SURVEY §2.9 J1/J2)
  * the canonical map in kgkit/operators/canonicalize.py (J3)
  * the DuckDB oracle SQL in kgkit/oracles.py (exposed as VALUES literals)

Shape per FIXTURES.md §7: (alias, entity_id, prior).  'merge' is
deliberately ambiguous (two candidate entities) to exercise the
embedding-similarity rerank (J2); 'join' is the Zipf-head hub entity
(~960 occurrences per 500 docs) to exercise skew salting (J4).
Entity numbers double as embedding vec_ids for the rerank.

The dictionary is a code constant, so everything it implies — the
candidates per alias, the ambiguous entities and the synonym graph's
edges — is derived here once, at import, on the driver; no consumer
groups or probes it on the cluster.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

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


def _candidates() -> Dict[str, List[Tuple[str, int, float]]]:
    groups: dict = {}
    for alias, entity_id, num, prior in ALIAS_ROWS:
        groups.setdefault(alias, []).append((entity_id, int(num), float(prior)))
    return {alias: sorted(cs) for alias, cs in sorted(groups.items())}


# {alias: candidates in sort_array's (entity_id, entity_num, prior)
# struct order}
CANDIDATES = _candidates()
# entity_nums of the candidates of an ambiguous alias (the rerank's)
AMBIGUOUS_NUMS: List[int] = sorted(
    {n for cs in CANDIDATES.values() if len(cs) > 1 for _, n, _ in cs}
)
# undirected canonicalization edges: synonyms + entities sharing an alias
EDGES: List[Tuple[str, str]] = sorted(
    set(SYNONYM_EDGES) | {
        (a[0], b[0])
        for cs in CANDIDATES.values()
        for i, a in enumerate(cs) for b in cs[i + 1:]
    }
)


def alias_values_sql() -> str:
    """The same rows as an ANSI-SQL VALUES list for the DuckDB oracles."""
    rows = ", ".join(
        f"('{a}', '{e}', {n}, {p})" for a, e, n, p in ALIAS_ROWS
    )
    return f"(VALUES {rows}) AS alias_dict(alias, entity_id, entity_num, prior)"


def edges_values_sql() -> str:
    """``EDGES`` as a VALUES list for the DuckDB canonicalization oracle."""
    rows = ", ".join(f"('{s}', '{d}')" for s, d in EDGES)
    return f"(VALUES {rows}) AS edges(src, dst)"
