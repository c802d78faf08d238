"""Stage 4b — entity-entity relation extraction with NPMI strength.

The reference's pipeline stops at span extraction (``Model.predict``'s
entity records, /root/reference/nerblackbox/api/model.py:300-360); a
knowledge graph also needs edges BETWEEN entities.  Two deterministic,
SQL-expressible rules over the linked, canonicalized mention stream
turn adjacent mentions into typed edges:

* **predicate surface** — for consecutive mentions within a page whose
  gap text is 1..``MAX_PRED_WORDS`` lowercase words (and at most
  ``MAX_GAP_CHARS`` characters), the whitespace-normalized gap IS the
  relation surface::

      "spark executes the scan"  ->  (Q_spark, 'executes the', Q_scan)

  Adjacent mentions (empty gap) carry no surface and stay the
  ``cooccurs_with`` adjacency edge that ``assemble_triples`` already
  emits; gaps crossing the word cap are treated as unrelated clauses.

* **NPMI** — corpus-level association strength of the entity pair,
  computed from exact integer marginals of the relation-pair stream:
  ``npmi = ln(N*c_so / (c_s*c_o)) / ln(N / c_so)`` with ``c_s``/``c_o``
  the subject-slot / object-slot counts and ``N`` the total pair count.
  Counts are BIGINT aggregates (order-independent), the one float
  expression is a per-row function of those integers — so the DuckDB
  oracle reproduces it to the 6-decimal compare grid.

Scale design (the plan IS the product at 100 TB):

* The pair stream reuses the stage-4 discipline: ONE url-partitioned
  window over the mention stream (url is a maximal-cardinality uniform
  key — no skew however hub-heavy the entity distribution is).
* The gap substring needs the page text, fetched by a url-equi join of
  the (already gap-filtered, hence small) pair stream against the pages
  relation — with url-hash-bucketed pages (``write_triples``'s layout)
  the probe side is shuffle-free; the text payload is never carried
  through the window itself.
* The relation stream collapses via ``groupBy(subj, pred, obj)`` FIRST
  (map-side combine on short strings), and only the aggregated table —
  bounded by distinct (pair x surface), orders of magnitude below the
  corpus — is checkpointed (lineage cut) and annotated.
* The annotation reads that checkpoint in ONE branch of windows: the
  ``obj_n`` window takes an obj exchange, ``subj_n`` a subj exchange,
  and ``pair_n`` rides on the subj partitioning (HashPartitioning(subj)
  satisfies the (subj, obj) window) — two exchanges for three
  marginals, no join-back.  Hub entities are safe: a window partition
  is one entity's DISTINCT edges in the aggregated table (its graph
  degree), never its raw occurrences.
* The total ``N`` is the only second read: a global sum whose partial
  aggregation runs per partition and whose final step is ONE task over
  one partial per partition (never over the graph-sized table), then
  broadcast onto every row.  Nothing is cached, so nothing is left to
  release.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Verb-pattern relation typing — a deterministic classification of the
# predicate surface into coarse edge types, shared VERBATIM with
# oracles._relations_sql (change both or neither).  Closed word classes
# first (copula / possession), then a morphological verb pattern
# (-s / -ed / -ing with a >= 3-letter stem), else the untyped fallback:
#
#   isa       copula + determiner         "is a", "was the"
#   attr      copula, no determiner       "is fast"
#   has_part  possession                  "has a"
#   action    first word looks inflected  "powers the", "derived from"
#   assoc     anything else               "and the", "big"
#
# The driver corpus's closed vocabulary contains no copula/possession/
# inflected forms (only 'a'/'the' from these sets — verified over
# sf0.1), so typed classes are exercised by the relation-planted pages
# (kgkit/sources/planted.py::RELATION_TEXTS) on both engine sides.
COPULA_WORDS = ("is", "are", "was", "were", "be", "been")
DETERMINERS = ("a", "an", "the")
POSSESSION_WORDS = ("has", "have", "had")
ACTION_PATTERN = r"^[a-z]{3,}(s|ed|ing)$"
# the predicate-surface caps (module docstring), shared with the oracle
MAX_GAP_CHARS = 64
MAX_PRED_WORDS = 4


def _quoted(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# Edge type of the ``pred`` column (typing rule above), as SQL text:
# one Py4J call per use, where a Column-API twin costs one per node.
# split_part's 2nd word is '' for a 1-word surface.
REL_TYPE = (
    f"CASE WHEN split_part(pred, ' ', 1) IN ({_quoted(COPULA_WORDS)}) "
    f"THEN CASE WHEN split_part(pred, ' ', 2) IN ({_quoted(DETERMINERS)}) "
    "THEN 'isa' ELSE 'attr' END "
    f"WHEN split_part(pred, ' ', 1) IN ({_quoted(POSSESSION_WORDS)}) "
    "THEN 'has_part' "
    f"WHEN split_part(pred, ' ', 1) RLIKE '{ACTION_PATTERN}' THEN 'action' "
    "ELSE 'assoc' END"
)


def relation_pairs(linked: DataFrame, canon: DataFrame) -> DataFrame:
    """Consecutive canonical-entity mention pairs within a page whose
    gap can possibly carry a predicate surface: 2..``MAX_GAP_CHARS``
    characters between the first mention's end and the next's start.

    One url exchange (the window); the canonical map is a broadcast.
    Output: (subj, obj, url, char_end, next_start).
    """
    # SQL text: one Py4J call per expression, where each Column-API
    # node costs several round trips (this runs once per stream batch)
    by_url = "OVER (PARTITION BY url ORDER BY char_start, mention_id)"
    gap = "next_start - char_end"
    return (
        linked.join(F.broadcast(canon), "entity_id", "left")
        .selectExpr(
            "url", "coalesce(canonical_id, entity_id) AS subj", "char_end",
            f"lead(coalesce(canonical_id, entity_id)) {by_url} AS obj",
            f"lead(char_start) {by_url} AS next_start",
        )
        .filter(
            f"obj IS NOT NULL AND {gap} >= 2 AND {gap} <= {MAX_GAP_CHARS}"
        )
        .select("subj", "obj", "url", "char_end", "next_start")
    )


def relation_stream(
    pages: DataFrame, linked: DataFrame, canon: DataFrame
) -> DataFrame:
    """One (url, subj, pred, obj) row per relation OCCURRENCE —
    entirely per-page (window within the page, gap substring from the
    page's own text, static canonical map), which is what lets the
    incremental KG stream contribute per-batch partial counts whose
    sum equals the batch aggregation exactly (and retract a superseded
    page's occurrences by url)."""
    pairs = relation_pairs(linked, canon)
    # 1..MAX_PRED_WORDS lowercase single-spaced words — anything else
    # (punctuation, digits, non-ASCII, runs of space) is not a surface
    pat = r"^[a-z]+( [a-z]+){0,%d}$" % (MAX_PRED_WORDS - 1)
    return (
        pairs.join(pages.select("url", "text"), "url")
        .selectExpr(
            "url", "subj",
            "trim(substring(text, char_end + 1, next_start - char_end)) AS pred",
            "obj",
        )
        .filter(f"pred RLIKE '{pat}'")
    )


def extract_relations(
    pages: DataFrame, linked: DataFrame, canon: DataFrame
) -> DataFrame:
    """Relation edges with NPMI association strength.

    Returns one row per distinct (subj, pred, obj):
      rel_type STRING  verb-pattern edge type (REL_TYPE rule)
      n        BIGINT  occurrences of this exact edge
      pair_n   BIGINT  occurrences of the (subj, obj) pair under ANY
                       predicate surface
      npmi     DOUBLE  normalized PMI of the pair in [-1, 1] (1.0 when
                       the pair is the whole stream), rounded to the
                       6-decimal cross-engine grid
    """
    rel = relation_stream(pages, linked, canon).groupBy(
        "subj", "pred", "obj"
    ).agg(F.count("*").alias("n"))
    # eager and lineage-cut: the annotation reads the aggregated
    # relation twice (its windows and the total), and its lineage — the
    # mention UDF, the url window and the pages join — is the deepest
    # plan in the repo
    return relations_from_counts(rel.localCheckpoint())


def entity_authority(rel: DataFrame, iters: int = 5) -> DataFrame:
    """Entity centrality over the constructed knowledge graph:
    the integer-exact PageRank (operators/linkgraph.py::pagerank, the
    1/2^40 BIGINT grid — bit-reproducible at any partitioning) on the
    subj->obj relation edges, weighted by occurrence count.

    Input is any (subj, obj, n) relation table — extract_relations
    output or the KG stream's live merged counts.  Predicate surfaces
    collapse into one weighted pair edge first (map-side combine on
    the already-aggregated relation, orders of magnitude below the
    corpus); self-loops are dropped (an entity relating to itself says
    nothing about centrality — the host_edges discipline).  The graph
    is entity-sized, so the iteration runs at graph-sized shuffle
    width with per-round localCheckpoint exactly like host authority.

    Returns (node, rank_q): rank on the 1/2^40 grid, identical to the
    pure-python recurrence (tests/test_linkgraph.py twin).
    """
    from kgkit.operators.linkgraph import pagerank

    edges = (
        rel.filter(F.col("subj") != F.col("obj"))
        .groupBy(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .agg(F.sum("n").cast("long").alias("weight"))
    )
    return pagerank(edges, iters)


def neighborhood(
    rel: DataFrame,
    seeds: List[str],
    k: int = 2,
    directed: bool = False,
) -> DataFrame:
    """k-hop neighborhood of ``seeds`` over the relation graph —
    the basic "query the constructed KG" primitive.  Returns
    (entity, hops) with the MINIMUM hop distance (0 for the seeds
    themselves), entities beyond ``k`` hops excluded.

    Frontier expansion, driver-paced like the CC/PageRank loops:
    each round joins the (already pair-collapsed, entity-graph-sized)
    edge table against the frontier, anti-joins the visited set, and
    eagerly localCheckpoints the new layer — lineage stays O(1) and a
    round that produces an empty frontier exits early.  The edge table
    is persisted once at graph-sized shuffle width; nothing scales
    with the corpus, only with the graph.  Undirected mode unions the
    reversed edges (one projection, no second shuffle) rather than
    joining twice per round.
    """
    spark = rel.sparkSession
    e = rel.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    if not directed:
        e = e.unionByName(
            rel.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
        )
    e = e.distinct().persist()
    try:
        visited = spark.createDataFrame(
            [(s, 0) for s in dict.fromkeys(seeds)],  # order-stable dedupe
            "entity string, hops int",
        ).localCheckpoint()
        frontier = visited.select("entity")
        for hop in range(1, k + 1):
            nxt = (
                e.join(frontier, e.src == frontier.entity)
                .select(F.col("dst").alias("entity"))
                .distinct()
                .join(visited, "entity", "left_anti")
                .withColumn("hops", F.lit(hop))
                .localCheckpoint()  # eager: truncate per-round lineage
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint()
            frontier = nxt.select("entity")
        return visited
    finally:
        e.unpersist()


def canonical_predicates(rel: DataFrame) -> DataFrame:
    """Collapse the surface-form variety of an entity pair to ONE
    canonical edge — the predicate-canonicalization counterpart of
    stage 3's entity canonicalization.  For each (subj, obj) the
    highest-count surface wins (ties break to the lexicographically
    smallest surface, so the choice is deterministic on any engine and
    partitioning), carrying its rel_type and the PAIR total.

    One map-side-combined aggregation over the already-aggregated
    relation table: ``max_by`` on the (n, reversed-surface) struct —
    no window over hub pairs, no second shuffle.
    """
    # order key: higher n wins; equal n -> smaller pred wins.  max_by
    # compares structs lexicographically, so negate the tie dimension
    # by comparing on (n, pred) with pred order flipped via a
    # monotone-decreasing transform: max over (n, -rank(pred)) is not
    # expressible directly on strings, so use min_by on (-n, pred).
    key = F.struct((-F.col("n")).alias("neg_n"), F.col("pred").alias("p"))
    return rel.groupBy("subj", "obj").agg(
        F.min_by(F.struct("pred", "rel_type", "n"), key).alias("_w"),
        F.sum("n").cast("long").alias("pair_n"),
    ).select(
        "subj",
        F.col("_w.pred").alias("pred"),
        F.col("_w.rel_type").alias("rel_type"),
        "obj",
        F.col("_w.n").cast("long").alias("n"),
        "pair_n",
    )


# double-first products: exact for counts < 2^53 and identical IEEE ops
# on both engines; BIGINT products could overflow at scale
_NPMI = (
    "CASE WHEN pair_n = total_n THEN 1.0D ELSE round("
    "ln((CAST(pair_n AS DOUBLE) * CAST(total_n AS DOUBLE))"
    " / (CAST(subj_n AS DOUBLE) * CAST(obj_n AS DOUBLE)))"
    " / ln(CAST(total_n AS DOUBLE) / CAST(pair_n AS DOUBLE)), 6) END"
)


def relations_from_counts(rel: DataFrame) -> DataFrame:
    """(subj, pred, obj, n) counts -> NPMI-annotated relation edges.

    Pure integer-marginal arithmetic, so it serves both the batch path
    and the streaming path's merged partial counts (sums commute —
    merge-then-annotate equals aggregate-then-annotate row-for-row).

    ``rel`` must be lineage-cut (an eager checkpoint: extract_relations
    passes ``rel.localCheckpoint()``, the KG stream its relation view):
    the annotation reads it in one branch of windows plus the total's
    aggregation, and a lazy input would re-run its lineage per branch.
    """
    # in this order, pair_n shares the subj exchange (HashPartitioning
    # (subj) satisfies the (subj, obj) window); obj_n takes its own.
    # SQL text: one Py4J call per expression, not one per Column node
    marginals = (
        rel.withColumn("obj_n", F.expr("sum(n) OVER (PARTITION BY obj)"))
        .withColumn("subj_n", F.expr("sum(n) OVER (PARTITION BY subj)"))
        .withColumn("pair_n", F.expr("sum(n) OVER (PARTITION BY subj, obj)"))
    )
    # 'total_n', not 'N': Spark's case-insensitive resolution would
    # collide an 'N' alias with the per-edge count column 'n'
    total = rel.agg(F.sum("n").alias("total_n"))
    return marginals.crossJoin(F.broadcast(total)).selectExpr(
        "subj", "pred", "obj", f"{REL_TYPE} AS rel_type",
        "n", "pair_n", f"{_NPMI} AS npmi",
    )
