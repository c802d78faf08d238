"""triples_diff: set semantics (support moves are NOT deltas), exact
planted add/remove recovery, and the recrawl composition — the diff of
the batch pipeline across a page-version change equals the semantic
delta of that change."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _t(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string"
    )


class TestTriplesDiff:
    def test_planted_add_remove_and_support_move(self, spark):
        from kgkit.operators.triples import triples_diff

        old = _t(spark, [
            ("d1", "mentions", "Q1", "d1"),
            ("d1", "mentions", "Q1", "d1b"),   # duplicate support
            ("d2", "mentions", "Q2", "d2"),
            ("Q1", "cooccurs_with", "Q2", "d1"),
        ])
        new = _t(spark, [
            ("d1", "mentions", "Q1", "d1c"),   # support MOVED url: no delta
            ("d2", "mentions", "Q3", "d2"),    # Q2 -> Q3
            ("Q1", "cooccurs_with", "Q2", "d9"),
        ])
        got = {(r["op"], r["subj"], r["obj"])
               for r in triples_diff(old, new).collect()}
        assert got == {
            ("added", "d2", "Q3"),
            ("removed", "d2", "Q2"),
        }

    def test_diff_of_identical_graphs_is_empty(self, spark):
        from kgkit.operators.triples import triples_diff

        g = _t(spark, [("a", "p", "b", "u1"), ("a", "p", "b", "u2")])
        assert triples_diff(g, g).count() == 0

    def test_recrawl_delta_composition(self, spark):
        """Re-running the pipeline after one url's text changes: the
        diff contains exactly that url's entering/leaving facts, and
        nothing from untouched pages."""
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.triples import assemble_triples, triples_diff
        from kgkit.sources.pages import load_pages, pages_for_mentions

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        pages = pages_for_mentions(load_pages(spark, SF)).filter(
            "pmod(xxhash64(url), 12) = 0"
        )
        victim = pages.orderBy("url").limit(1)
        recrawled = victim.withColumn(
            "text", F.lit("the spark hash join meets vector data")
        )
        v2 = pages.join(victim.select("url"), "url", "left_anti").unionByName(
            recrawled
        )
        canon = canonical_map(spark)

        def run(p):
            return assemble_triples(
                link_mentions(detect_mentions(p), emb), canon
            ).select("subj", "pred", "obj").localCheckpoint()

        t1, t2 = run(pages), run(v2)
        diff = triples_diff(t1, t2)
        vurl = victim.collect()[0]["url"]
        # every delta involves the recrawled page: its url as subject
        # (mentions facts) or a fact change driven by its text
        touched_old = {(r["subj"], r["pred"], r["obj"])
                       for r in t1.collect()} - {
            (r["subj"], r["pred"], r["obj"]) for r in t2.collect()}
        rows = diff.collect()
        assert {(r["op"], r["subj"], r["pred"], r["obj"]) for r in rows} == (
            {("removed", *t) for t in touched_old}
            | {("added", *t) for t in
               ({(r["subj"], r["pred"], r["obj"]) for r in t2.collect()}
                - {(r["subj"], r["pred"], r["obj"]) for r in t1.collect()})}
        )
        # the new text mentions spark/hash join/vector: the victim url
        # gains at least one 'mentions' fact, and only the victim's
        # mentions rows changed
        mentions_delta = [r for r in rows if r["pred"] == "mentions"]
        assert mentions_delta and all(
            r["subj"] == vurl for r in mentions_delta
        )
