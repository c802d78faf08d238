"""Stage 4b — entity-entity relation extraction (operators/relations.py).

Differential twin: a pure-python replay of the pair window, the gap
surface rule and the NPMI arithmetic over a crafted fixture, plus the
plan pins that make the operator scale (single stage-1 UDF execution,
aggregated-only persist)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kgkit.operators.relations import extract_relations, relation_pairs

SF = "/root/testdata/sf0.001"


def _mk(spark, pages, mentions, canon=None):
    """pages: [(url, text)]; mentions: [(url, mid, entity, cs, ce)]."""
    pages_df = spark.createDataFrame(pages, "url string, text string")
    linked = spark.createDataFrame(
        [(u, m, e, cs, ce) for (u, m, e, cs, ce) in mentions],
        "url string, mention_id long, entity_id string, "
        "char_start long, char_end long",
    )
    canon_df = spark.createDataFrame(
        canon or [("__none__", "__none__")],
        "entity_id string, canonical_id string",
    )
    return pages_df, linked, canon_df


def _python_twin(pages, mentions, canon, max_gap=64, max_words=4):
    """The spec, independently: adjacent pairs per url by char_start,
    gap substring, lowercase-word filter, NPMI from integer marginals."""
    cmap = dict(canon or [])
    text_of = dict(pages)
    stream = []
    by_url: dict = {}
    for (u, m, e, cs, ce) in mentions:
        by_url.setdefault(u, []).append((cs, m, cmap.get(e, e), ce))
    for u, ms in by_url.items():
        ms.sort()
        for (a, b) in zip(ms, ms[1:]):
            gap = b[0] - a[3]
            if not (2 <= gap <= max_gap):
                continue
            pred = text_of[u][a[3]:b[0]].strip()
            words = pred.split(" ")
            if (
                pred
                and len(words) <= max_words
                and all(w and all("a" <= c <= "z" for c in w) for w in words)
            ):
                stream.append((a[2], pred, b[2]))
    rel: dict = {}
    for t in stream:
        rel[t] = rel.get(t, 0) + 1
    n_tot = sum(rel.values())
    pair: dict = {}
    subj: dict = {}
    obj: dict = {}
    for (s, p, o), n in rel.items():
        pair[(s, o)] = pair.get((s, o), 0) + n
        subj[s] = subj.get(s, 0) + n
        obj[o] = obj.get(o, 0) + n
    out = {}
    for (s, p, o), n in rel.items():
        pn = pair[(s, o)]
        if pn == n_tot:
            npmi = 1.0
        else:
            npmi = round(
                math.log((pn * float(n_tot)) / (subj[s] * float(obj[o])))
                / math.log(n_tot / float(pn)),
                6,
            )
        out[(s, p, o)] = (n, pn, npmi)
    return out


FIXTURE_PAGES = [
    ("u://1", "spark executes the scan before anything else here today"),
    #          0123456789012345678901234567890123456789
    ("u://2", "spark executes the scan and spark beats flink"),
    ("u://3", "flink follows spark"),
    ("u://4", "spark scan"),                       # adjacent: no surface
    ("u://5", "spark one two three four five scan"),  # 5-word gap: dropped
]
FIXTURE_MENTIONS = [
    ("u://1", 0, "Q_spark", 0, 5),
    ("u://1", 1, "Q_scan", 19, 23),
    ("u://2", 0, "Q_spark", 0, 5),
    ("u://2", 1, "Q_scan", 19, 23),
    ("u://2", 2, "Q_spark2", 28, 33),   # canonicalizes to Q_spark
    ("u://2", 3, "Q_flink", 40, 45),
    ("u://3", 0, "Q_flink", 0, 5),
    ("u://3", 1, "Q_spark", 14, 19),
    ("u://4", 0, "Q_spark", 0, 5),
    ("u://4", 1, "Q_scan", 6, 10),
    ("u://5", 0, "Q_spark", 0, 5),
    ("u://5", 1, "Q_scan", 30, 34),
]
FIXTURE_CANON = [("Q_spark2", "Q_spark")]


class TestExtractRelations:
    def test_matches_python_twin(self, spark):
        pages, linked, canon = _mk(
            spark, FIXTURE_PAGES, FIXTURE_MENTIONS, FIXTURE_CANON
        )
        got = {
            (r["subj"], r["pred"], r["obj"]): (r["n"], r["pair_n"], r["npmi"])
            for r in extract_relations(pages, linked, canon).collect()
        }
        want = _python_twin(FIXTURE_PAGES, FIXTURE_MENTIONS, FIXTURE_CANON)
        assert got == want
        # the crafted facts, explicitly:
        assert got[("Q_spark", "executes the", "Q_scan")][0] == 2
        assert got[("Q_flink", "follows", "Q_spark")][0] == 1
        # canonicalization applied before pairing: Q_spark2 -> Q_spark
        assert ("Q_spark", "beats", "Q_flink") in got
        # adjacent (u://4) and over-long-gap (u://5) pairs yield nothing
        assert not any(s == "Q_spark" and o == "Q_scan" and p != "executes the"
                       for (s, p, o) in got)

    def test_gap_and_word_caps(self, spark):
        pages = [("u://1", "a x y b"), ("u://2", "a " + "w " * 4 + "b"),
                 ("u://3", "a " + "v " * 5 + "b")]
        mentions = [
            ("u://1", 0, "QA", 0, 1), ("u://1", 1, "QB", 6, 7),
            ("u://2", 0, "QA", 0, 1), ("u://2", 1, "QB", 10, 11),
            ("u://3", 0, "QA", 0, 1), ("u://3", 1, "QB", 12, 13),
        ]
        p, l, c = _mk(spark, pages, mentions)
        got = {(r["subj"], r["pred"], r["obj"])
               for r in extract_relations(p, l, c).collect()}
        assert ("QA", "x y", "QB") in got
        assert ("QA", "w w w w", "QB") in got
        # over the 4-word cap: the 5-word gap carries no surface
        assert got == {("QA", "x y", "QB"), ("QA", "w w w w", "QB")}

    def test_non_surface_gaps_dropped(self, spark):
        pages = [
            ("u://1", "a 9x b"),        # digit in gap
            ("u://2", "a X y b"),       # uppercase
            ("u://3", "a x  y b"),      # double space
        ]
        mentions = [
            ("u://1", 0, "QA", 0, 1), ("u://1", 1, "QB", 5, 6),
            ("u://2", 0, "QA", 0, 1), ("u://2", 1, "QB", 6, 7),
            ("u://3", 0, "QA", 0, 1), ("u://3", 1, "QB", 7, 8),
        ]
        p, l, c = _mk(spark, pages, mentions)
        assert extract_relations(p, l, c).count() == 0

    def test_npmi_perfect_pair_is_one(self, spark):
        pages = [("u://1", "a follows b")]
        mentions = [("u://1", 0, "QA", 0, 1), ("u://1", 1, "QB", 10, 11)]
        p, l, c = _mk(spark, pages, mentions)
        rows = extract_relations(p, l, c).collect()
        assert len(rows) == 1 and rows[0]["npmi"] == 1.0

    def test_pair_stream_bounds(self, spark):
        pages, linked, canon = _mk(
            spark, FIXTURE_PAGES, FIXTURE_MENTIONS, FIXTURE_CANON
        )
        pairs = relation_pairs(linked, canon).collect()
        # u://4 (gap 1) and the u://5 pair (gap 20 <= 64) behave per the
        # CHARACTER cap: only the adjacent pair is excluded here
        assert all(r["next_start"] - r["char_end"] >= 2 for r in pairs)
        assert {r["url"] for r in pairs} == {"u://1", "u://2", "u://3", "u://5"}


def _python_bfs(edges, seeds, k, directed):
    """BFS twin: min-hop distance from the seed set, capped at k."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, k + 1):
        nxt = set()
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = hop
                    nxt.add(w)
        frontier = nxt
        if not frontier:
            break
    return dist


class TestNeighborhood:
    # diamond + tail + island; Q1->Q3 both direct and via Q2
    EDGES = [
        ("Q1", "Q2"), ("Q2", "Q3"), ("Q1", "Q3"), ("Q3", "Q4"),
        ("Q4", "Q5"), ("Q6", "Q1"), ("Q7", "Q8"),
    ]

    def _rel(self, spark):
        return spark.createDataFrame(
            [(s, "p", o, 1) for s, o in self.EDGES],
            "subj string, pred string, obj string, n long",
        )

    @pytest.mark.parametrize("directed", [True, False])
    @pytest.mark.parametrize("k", [1, 2, 4])
    def test_matches_bfs_twin(self, spark, directed, k):
        from kgkit.operators.relations import neighborhood

        got = {
            r["entity"]: r["hops"]
            for r in neighborhood(
                self._rel(spark), ["Q1"], k=k, directed=directed
            ).collect()
        }
        assert got == _python_bfs(self.EDGES, ["Q1"], k, directed)
        # hop minimality: Q3 is reachable in 1 (direct) and 2 (via Q2)
        if k >= 1:
            assert got["Q3"] == 1
        # the island never appears
        assert "Q7" not in got and "Q8" not in got

    def test_multi_seed_and_early_exit(self, spark):
        from kgkit.operators.relations import neighborhood

        # k far beyond the graph diameter: the empty-frontier exit
        # stops the loop; multi-seed distances are min over seeds
        got = {
            r["entity"]: r["hops"]
            for r in neighborhood(
                self._rel(spark), ["Q6", "Q4"], k=99, directed=True
            ).collect()
        }
        assert got == _python_bfs(self.EDGES, ["Q6", "Q4"], 99, True)
        assert got["Q4"] == 0 and got["Q5"] == 1 and got["Q1"] == 1


class TestCanonicalPredicates:
    def test_max_count_wins_ties_to_smallest_surface(self, spark):
        from kgkit.operators.relations import canonical_predicates

        rel = spark.createDataFrame(
            [
                ("Q1", "is a", "Q2", 3), ("Q1", "powers the", "Q2", 5),
                ("Q1", "uses", "Q2", 5),          # tie with 'powers the'
                ("Q3", "has a", "Q4", 1),
            ],
            "subj string, pred string, obj string, n long",
        )
        rel = rel.withColumn(
            "rel_type",
            F.when(F.col("pred") == "is a", "isa")
            .when(F.col("pred") == "has a", "has_part")
            .otherwise("action"),
        )
        got = {
            (r["subj"], r["obj"]):
                (r["pred"], r["rel_type"], r["n"], r["pair_n"])
            for r in canonical_predicates(rel).collect()
        }
        # 5-count tie: 'powers the' < 'uses' lexicographically
        assert got[("Q1", "Q2")] == ("powers the", "action", 5, 13)
        assert got[("Q3", "Q4")] == ("has a", "has_part", 1, 1)

    def test_partitioning_invariant(self, spark):
        from kgkit.operators.relations import canonical_predicates

        rel = spark.createDataFrame(
            [("Q1", f"w{i % 7}", "Q2", (i % 5) + 1) for i in range(200)],
            "subj string, pred string, obj string, n long",
        ).groupBy("subj", "pred", "obj").agg(
            F.sum("n").cast("long").alias("n")
        ).withColumn("rel_type", F.lit("assoc"))
        a = canonical_predicates(rel.repartition(1)).collect()
        b = canonical_predicates(rel.repartition(13)).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRelationsPlan:
    def test_stage1_udf_runs_once_and_persist_is_aggregated(self, spark):
        """The NPMI annotation reads the checkpointed AGGREGATED
        relation, never the stage-1 Arrow UDF: the MapInArrow is absent
        from the annotation's executed plan, and every marginal (the
        subj / obj / pair windows and the total) reads the one
        checkpoint."""
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.pages import load_pages, pages_for_mentions

        pages = pages_for_mentions(load_pages(spark, SF))
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        mentions = detect_mentions(pages)
        # the node name the absence check below looks for
        assert "MapInArrow" in mentions._jdf.queryExecution().executedPlan().toString()
        rel = extract_relations(
            pages, link_mentions(mentions, emb), canonical_map(spark),
        )
        qe = rel._jdf.queryExecution()
        assert "MapInArrow" not in qe.executedPlan().toString()
        # the windows' branch and the total's aggregation are the only
        # reads, and both scan the same checkpoint RDD
        leaves = qe.optimizedPlan().collectLeaves()
        leaves = [leaves.apply(i) for i in range(leaves.size())]
        assert len(leaves) == 2, qe.optimizedPlan().toString()
        assert {leaf.nodeName() for leaf in leaves} == {"LogicalRDD"}
        assert len({leaf.rdd().id() for leaf in leaves}) == 1
        plan = qe.executedPlan().toString()
        for marginal in ("subj_n", "obj_n", "pair_n", "total_n"):
            assert f"AS {marginal}#" in plan or f"output=[{marginal}#" in plan, plan

    def test_query_registry_row(self, spark):
        from kgkit.queries import QUERIES

        df = QUERIES["kg_relations"](spark, SF)
        assert [f.name for f in df.schema.fields] == [
            "subj", "pred", "obj", "rel_type", "n", "pair_n", "npmi",
        ]
        rows = df.collect()
        assert len(rows) > 0
        assert all(-1.0 <= r["npmi"] <= 1.0 for r in rows)
        assert all(r["pair_n"] >= r["n"] > 0 for r in rows)
        # the relation-planted verb pages give every typed class at
        # least one positive; the driver corpus itself carries none of
        # the rule's closed-class words, so its edges all type 'assoc'
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r["rel_type"], set()).add(r["pred"])
        assert {"isa", "attr", "has_part", "action", "assoc"} <= set(by_type)
        assert ("is a", "Q2") in {
            (r["pred"], r["obj"]) for r in rows if r["rel_type"] == "isa"
        }


def _python_rel_type(pred: str) -> str:
    """Independent replay of relations.REL_TYPE."""
    import re

    words = pred.split(" ")
    first = words[0]
    second = words[1] if len(words) > 1 else ""
    if first in ("is", "are", "was", "were", "be", "been"):
        return "isa" if second in ("a", "an", "the") else "attr"
    if first in ("has", "have", "had"):
        return "has_part"
    if re.fullmatch(r"[a-z]{3,}(s|ed|ing)", first):
        return "action"
    return "assoc"


class TestRelTyping:
    CASES = [
        ("is a", "isa"), ("was the", "isa"), ("is an", "isa"),
        ("is fast", "attr"), ("were quick ones", "attr"),
        ("has a", "has_part"), ("had", "has_part"),
        ("powers the", "action"), ("derived from", "action"),
        ("uses", "action"), ("running", "action"),
        ("and the", "assoc"), ("big", "assoc"), ("the", "assoc"),
        ("a", "assoc"),
        # stem floor: a 3-letter word cannot split as >=3-stem + suffix
        ("its", "assoc"), ("red", "assoc"),
        # only the FIRST word is typed
        ("fast is a", "assoc"),
    ]

    def test_rule_matches_python_twin(self, spark):
        from kgkit.operators.relations import REL_TYPE

        df = spark.createDataFrame(
            [(p,) for p, _ in self.CASES], "pred string"
        ).selectExpr("pred", f"{REL_TYPE} AS rel_type")
        got = {r["pred"]: r["rel_type"] for r in df.collect()}
        for pred, want in self.CASES:
            assert got[pred] == want == _python_rel_type(pred), pred

    def test_planted_pages_type_end_to_end(self, spark):
        """RELATION_TEXTS through the real operator: each class lands."""
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.planted import relation_planted_pages

        pages = relation_planted_pages(spark)
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        rel = extract_relations(
            pages, link_mentions(detect_mentions(pages), emb),
            canonical_map(spark),
        )
        got = {(r["pred"], r["rel_type"]): r["n"] for r in rel.collect()}
        assert got[("is a", "isa")] == 2          # duplicate page counted
        assert ("is the", "isa") in got
        assert ("was fast", "attr") in got
        assert ("has a", "has_part") in got
        assert ("powers the", "action") in got
        assert ("derived from", "action") in got
        assert ("uses", "action") in got
        assert ("and the", "assoc") in got
