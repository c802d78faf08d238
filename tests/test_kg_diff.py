"""Snapshot deltas of the batch pipeline: a rerun over the same pages
asserts the same fact set, and after one url's text changes the facts
that enter or leave the graph are that url's alone."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _pages(spark):
    from kgkit.sources.pages import load_pages, pages_for_mentions

    return pages_for_mentions(load_pages(spark, SF)).filter(
        "pmod(xxhash64(url), 12) = 0"
    )


def _facts(spark, pages):
    """The (subj, pred, obj) fact set the pipeline asserts over pages."""
    from kgkit.operators.canonicalize import canonical_map
    from kgkit.operators.linking import link_mentions
    from kgkit.operators.mentions import detect_mentions
    from kgkit.operators.triples import assemble_triples

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    t = assemble_triples(
        link_mentions(detect_mentions(pages), emb), canonical_map(spark)
    )
    return {(r["subj"], r["pred"], r["obj"])
            for r in t.select("subj", "pred", "obj").collect()}


class TestTriplesDiff:
    def test_diff_of_identical_graphs_is_empty(self, spark):
        pages = _pages(spark)
        first = _facts(spark, pages)
        assert first  # the slice does assert facts
        assert _facts(spark, pages) == first

    def test_recrawl_delta_composition(self, spark):
        """Re-running the pipeline after one url's text changes: the
        delta contains exactly that url's entering/leaving mentions
        facts, and nothing from untouched pages."""
        pages = _pages(spark)
        victim = pages.orderBy("url").limit(1)
        recrawled = victim.withColumn(
            "text", F.lit("the spark hash join meets vector data")
        )
        v2 = pages.join(victim.select("url"), "url", "left_anti").unionByName(
            recrawled
        )
        t1, t2 = _facts(spark, pages), _facts(spark, v2)
        vurl = victim.collect()[0]["url"]
        delta = (t2 - t1) | (t1 - t2)
        # the new text mentions spark/hash join/vector: the victim url
        # gains at least one 'mentions' fact, and only the victim's
        # mentions rows changed
        added_mentions = [f for f in t2 - t1 if f[1] == "mentions"]
        assert added_mentions and all(s == vurl for s, _, _ in added_mentions)
        assert all(s == vurl for s, p, _ in delta if p == "mentions")
